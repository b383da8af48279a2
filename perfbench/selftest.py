"""Self-tests for the benchmark's own logic; no Spark needed.

    python3 perfbench/run.py --self-test

Covers the tail-percentile rule, event-log attribution (every task lands
in exactly one job, so per-span totals add up to the log's; a job of a
traced pass that lands under no span, a closed span or another pass's
span fails the check), and the output check (a perturbed row must fail
it). The live counterpart of the
last one is `run.py --workload <w> --perturb`, which must exit 1.
"""

from __future__ import annotations

import json
import os
import tempfile

import stats
from oracle import Reference, normalize
from tracing import GROUP_PREFIX, Span, attribute, check_attribution, read_event_log


def test_tail_rule() -> None:
    xs = [float(i) for i in range(1, 101)]  # 1..100
    v, pct, n = stats.tail(xs)
    assert (v, pct, n) == (90.0, 90.0, 100), (v, pct, n)
    assert sum(1 for x in xs if x > v) == 10
    v, pct, n = stats.tail(xs[:11])
    assert (v, pct, n) == (1.0, 100.0 / 11, 11), (v, pct, n)
    v, _, _ = stats.tail(list(reversed(xs[:20])))  # order of arrival is irrelevant
    assert v == 10.0, v
    try:
        stats.tail(xs[:10])
    except ValueError:
        pass
    else:
        raise AssertionError("10 samples cannot have 10 beyond the tail")


def _event_log_lines() -> list[dict]:
    def job(jid, group, t, stages):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": props}

    def end(jid, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}

    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 1_000_000,
                                 "JVM GC Time": 1,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": 10},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}

    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "test"},
        job(0, f"{GROUP_PREFIX}1", 1_000_100, [0, 1]),
        task(0, 100), task(0, 50), task(1, 30),
        end(0, 1_000_400),
        # stage 1 listed again: already computed, so skipped here
        job(1, f"{GROUP_PREFIX}2", 1_000_500, [1, 2]),
        task(2, 70),
        end(1, 1_000_700),
        # a job under a group the benchmark did not set (e.g. a streaming
        # query's run id): attributed by time to the innermost open span
        job(2, "stream-run-id", 1_001_200, [3]),
        task(3, 40), task(3, 5),
        end(2, 1_001_300),
        # a SQL event the parser skips
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"},
    ]


def _spans() -> list[Span]:
    spans = [Span(0, "pass", None, {}), Span(1, "build", 0, {}), Span(2, "collect", 0, {}),
             Span(3, "op", 0, {})]
    for s, (t0, t1) in zip(spans, [(999.0, 1002.0), (1000.0, 1000.45), (1000.45, 1000.8),
                                   (1001.0, 1001.5)]):
        s.t0, s.t1 = t0, t1
    return spans


def _read(lines: list[dict]) -> dict:
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "log")
        with open(path, "w") as fh:
            for line in lines:
                fh.write(json.dumps(line, separators=(",", ":")) + "\n")
        return read_event_log(path)


def test_attribution_sums() -> None:
    spans = _spans()
    log = _read(_event_log_lines())
    jobs = attribute(log, spans)
    assert {j: r["span"] for j, r in jobs.items()} == {0: 1, 1: 2, 2: 3}, jobs
    total_run = sum(t["run_s"] for t in log["stage_tasks"].values())
    assert abs(sum(r["run_s"] for r in jobs.values()) - total_run) < 1e-9
    assert sum(r["tasks"] for r in jobs.values()) == 6
    assert abs(jobs[0]["run_s"] - 0.18) < 1e-9, jobs[0]  # stages 0 and 1
    assert abs(jobs[1]["run_s"] - 0.07) < 1e-9, jobs[1]  # stage 2 only
    assert jobs[1]["stages"] == [2], jobs[1]
    assert check_attribution(jobs, log, spans, [(0, 999.0, 1002.0)]) == []


def test_attribution_gaps_fail() -> None:
    """Jobs of a traced pass that land outside its open spans must fail
    the check, not silently drop out of the per-layer metrics."""
    spans = _spans() + [Span(4, "pass", None, {})]  # an earlier pass
    spans[4].t0, spans[4].t1 = 995.0, 998.0
    window = [(0, 999.0, 1003.0)]  # the pass as the runner timed it
    base = _event_log_lines()[:-1]

    def problems(extra: list[dict]) -> list[str]:
        log = _read(base + extra)
        return check_attribution(attribute(log, spans), log, spans, window)

    def job(jid, group, t, stage):
        props = {"spark.jobGroup.id": group} if group else {}
        return [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                 "Stage IDs": [stage], "Properties": props},
                {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                 "Task Metrics": {"Executor Run Time": 10}}]

    # in the pass's window, after its span closed: under no span at all
    assert any("under span None" in p for p in problems(job(3, None, 1_002_500, 9))), \
        problems(job(3, None, 1_002_500, 9))
    # a stale job group: its span (build, 1000.0-1000.45) had closed
    assert any("closed" in p for p in problems(job(3, f"{GROUP_PREFIX}1", 1_001_700, 9)))
    # a group naming a span outside the pass's subtree
    assert any("under span 4" in p for p in problems(job(3, f"{GROUP_PREFIX}4", 1_001_700, 9)))
    # a group naming no span falls back to the span open at submission
    assert problems(job(3, f"{GROUP_PREFIX}99", 1_001_700, 9)) == []
    # task time of a stage no job lists
    orphan = [{"Event": "SparkListenerTaskEnd", "Stage ID": 42,
               "Task Metrics": {"Executor Run Time": 10}}]
    assert any("no job" in p for p in problems(orphan))
    # outside every traced window, a job under no span is not the check's concern
    assert problems(job(3, None, 1_010_000, 9)) == []


def test_perturbed_row_fails() -> None:
    cols = ["b", "a"]
    rows = [(0.1 + 0.2, 1), (2.5, 2)]
    ref = Reference(cols, normalize(rows, cols))
    assert ref.mismatch(list(reversed(rows)), cols) is None  # row order is free
    assert ref.mismatch([(r[1], r[0]) for r in rows], ["a", "b"]) is None  # so is column order
    assert ref.mismatch([(0.3, 1), (2.5, 2)], cols) is not None  # repr: 0.3 != 0.1 + 0.2
    assert ref.mismatch([(0.1 + 0.2, 2), (2.5, 2)], cols) is not None
    assert ref.mismatch(rows[:1], cols) is not None
    assert ref.mismatch(rows, ["b", "c"]) is not None
    import run

    assert ref.mismatch([run._perturbed(rows[0]), rows[1]], cols) is not None


def main() -> int:
    tests = [test_tail_rule, test_attribution_sums, test_attribution_gaps_fail,
             test_perturbed_row_fails]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as exc:  # noqa: BLE001 — report every test
            failed += 1
            print(f"FAIL {t.__name__}: {type(exc).__name__}: {exc}")
    return 1 if failed else 0
