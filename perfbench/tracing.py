"""Spans around the benchmark's calls into the engine, and attribution of
the Spark event log to them.

A span sets a Spark job group naming itself, so every job the engine
launches inside the call carries the span's id in the event log. Jobs
whose group the engine or Spark replaced (Structured Streaming runs each
query under its own run-id group) fall back to the innermost span open at
the job's submission time: the benchmark has one client thread and runs
one operation at a time, so that span is the one that caused the job.
Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"


class Span:
    __slots__ = ("id", "name", "parent", "t0", "t1", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict):
        self.id = sid
        self.name = name
        self.parent = parent
        self.t0 = time.time()
        self.t1 = None
        self.attrs = attrs

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start": self.t0,
            "end": self.t1,
            **self.attrs,
        }


class Tracer:
    """Records spans; with `sc` set, also tags Spark jobs with them."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)


class NullTracer(Tracer):
    """Same interface, no spans and no job groups (the untraced passes)."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


# ---- layer entry points ------------------------------------------------------

# (module, function, span name): the layers' public functions that the
# ingest path composes. In a traced pass they are wrapped in spans where
# they live, so a span opens wherever they are called from: the
# benchmark's own calls, ingest_commands' fold calls, and each
# StreamingIngestJob micro-batch. The engine's files are not touched.
LAYER_FUNCTIONS = (
    ("hogflare_spark.operators.normalize", "decode_normalize_requests", "operators.normalize"),
    ("hogflare_spark.operators.person_state", "fold_person_state", "operators.person_state"),
    ("hogflare_spark.operators.group_state", "fold_group_state", "operators.group_state"),
    ("hogflare_spark.operators.ingest", "ingest_commands", "operators.ingest"),
    ("hogflare_spark.sinks.lake", "append_events", "sinks.lake"),
)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            if name != "sinks.lake":
                return fn(*args, **kwargs)
            # append_events(events, events_dir): record the bytes it wrote
            events_dir = kwargs.get("events_dir", args[1] if len(args) > 1 else None)
            before = _tree_bytes(events_dir)
            out = fn(*args, **kwargs)
            s.attrs["written_b"] = _tree_bytes(events_dir) - before
            return out

    return wrapper


@contextmanager
def layer_spans(tracer: Tracer):
    saved = []
    try:
        for module, attr, name in LAYER_FUNCTIONS:
            mod = importlib.import_module(module)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, _spanned(tracer, name, fn))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# ---- event log --------------------------------------------------------------

_TASK_FIELDS = ("run_s", "cpu_s", "gc_s", "shuffle_read_b", "shuffle_write_b", "spill_b")
_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")


def _zero_tasks() -> dict:
    return {"tasks": 0} | dict.fromkeys(_TASK_FIELDS, 0.0)


def read_event_log(path: str) -> dict:
    """Parse a Spark event log into jobs (with group, times, stages) and
    per-stage task totals."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = defaultdict(_zero_tasks)
    with open(path) as fh:
        for line in fh:
            # most of the log is SQL plan events: skip them unparsed
            if line[10:].split('"', 1)[0] not in _WANTED:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                t = stage_tasks[ev["Stage ID"]]
                t["tasks"] += 1
                t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0)
                t["shuffle_read_b"] += sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_b"] += m.get("Memory Bytes Spilled", 0)
                t["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stage_tasks": dict(stage_tasks)}


def attribute(log: dict, spans: list[Span]) -> dict[int, dict]:
    """Assign every job, and every stage's tasks, to exactly one span.

    Returns {job_id: {"span": span id or None, "stages": [...], task totals}}.
    A stage listed by several jobs ran in the first of them (later jobs
    skip it), so its tasks count there. Every task in the log lands in
    exactly one job, so per-span sums add up to the log's totals.
    """
    by_id = {s.id: s for s in spans}
    closed = [s for s in spans if s.t1 is not None]

    def innermost_at(t: float) -> int | None:
        best = None
        for s in closed:
            if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
                best = s
        return best.id if best else None

    owner_of_stage: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for st in log["jobs"][jid]["stages"]:
            owner_of_stage.setdefault(st, jid)
    out: dict[int, dict] = {}
    for jid, job in log["jobs"].items():
        g = job["group"] or ""
        sid = None
        if g.startswith(GROUP_PREFIX):
            sid = int(g[len(GROUP_PREFIX):])
            if sid not in by_id:
                sid = None
        if sid is None:
            sid = innermost_at(job["submit"])
        out[jid] = {"span": sid, "stages": []} | _zero_tasks()
    for st, totals in log["stage_tasks"].items():
        # a stage no job listed stays under a sentinel job, unattributed
        jid = owner_of_stage.get(st, -1)
        rec = out.setdefault(jid, {"span": None, "stages": []} | _zero_tasks())
        rec["stages"].append(st)
        for k, v in totals.items():
            rec[k] += v
    return out


# Spark logs submission times in whole milliseconds
CLOCK_SLACK_S = 0.002


def check_attribution(
    jobs: dict[int, dict], log: dict, spans: list[Span], windows
) -> list[str]:
    """Why the attribution cannot be trusted; empty when it can.

    `windows` holds (root span id, t0, t1) for each traced pass, t0 and t1
    taken around the pass by the caller. Every job submitted in a window
    must land on a span of that pass's subtree that was open when the job
    was submitted: a job under no span, under a span of another pass, or
    under a span that had already closed (a stale job group) would drop
    out of, or be miscounted in, the per-layer metrics. Task time of a
    stage that no job lists is an error too.
    """
    by_id = {s.id: s for s in spans}
    problems = []
    for root, t0, t1 in windows:
        inside = subtree_ids(spans, root)
        for jid in sorted(log["jobs"]):
            t = log["jobs"][jid]["submit"]
            if not t0 - CLOCK_SLACK_S <= t <= t1 + CLOCK_SLACK_S:
                continue
            sid = jobs[jid]["span"]
            s = by_id.get(sid)
            if sid not in inside:
                problems.append(f"job {jid} of pass span {root} is under span {sid}")
            elif not s.t0 - CLOCK_SLACK_S <= t <= (s.t1 or t1) + CLOCK_SLACK_S:
                problems.append(f"job {jid} is under span {sid}, closed when it was submitted")
    if -1 in jobs:
        problems.append(f"stages {sorted(jobs[-1]['stages'])} ran under no job")
    return problems


def subtree_ids(spans: list[Span], root: int) -> set[int]:
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(children[i])
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if os.path.isfile(path):
        return path
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
