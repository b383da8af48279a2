"""hogflare_spark benchmark: one seeded, oracle-checked, closed-loop run.

    python3 perfbench/run.py --workload query|ingest --seed N \
        --seconds S --trace 0|1 [--perturb]
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The seed generates the inputs
(perfbench/gen.py); the engine sees only the generated files. One client
(this thread) submits one operation at a time to a `local[nproc]`
session. Every timed result is checked against DuckDB running the
engine's registered oracle SQL over the same files; a mismatch or an
error counts as a failed operation and makes the command exit 1.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics from spans, Spark job groups and the Spark event log. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Everything the run writes goes under `.perfbench/` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from oracle import Reference  # noqa: E402
from tracing import (  # noqa: E402
    NullTracer,
    Tracer,
    attribute,
    check_attribution,
    find_event_log,
    layer_spans,
    read_event_log,
    subtree_ids,
)

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail
MAX_MEASURE_S = 120  # stop measuring here even if a traced run lacks a pass
MB = 1024.0 * 1024.0
# scratch the streaming ops share across one pass (landing, checkpoint,
# warehouse); everything else is removed after the op that wrote it
STREAM_SCRATCH = ("stream",)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---- process tree RSS --------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) and keeps the peak.

    A process counts from its second sample on. A child the JVM spawns
    (a helper it runs, or a forked Python worker) shares its parent's
    pages until it execs or writes to them, and its RSS shows them again;
    caught in that instant, the JVM's whole heap would count twice.
    """

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me, seen = os.getpid(), set()
        while not self._stop.is_set():
            pids = set(_tree_pids(me))
            self.peak = max(self.peak, _rss_bytes((pids & seen) | {me}))
            seen = pids
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---- environment ---------------------------------------------------------------


def environment(master: str) -> dict:
    import hashlib
    import subprocess

    import duckdb
    import pyarrow
    import pyspark

    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=ROOT,
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            commit = "unknown"
    # the checkout need not be a git repository: also digest the engine sources
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hogflare_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {
        "nproc": nproc(),
        "master": master,
        "commit": commit,
        "source_sha256": h.hexdigest()[:16],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


# ---- sessions ----------------------------------------------------------------------


def worker_guard(spark, cores: int) -> None:
    """Python workers must import the engine from this checkout; the same
    call warms the worker pool."""

    # nested, so it is pickled by value: workers cannot import this file
    def module_path(batches):
        import os

        import pandas as pd

        import hogflare_spark

        for _ in batches:
            yield pd.DataFrame({"path": [os.path.abspath(hogflare_spark.__file__)]})

    want = os.path.join(ROOT, "hogflare_spark", "__init__.py")
    rows = spark.range(0, cores, 1, cores).mapInPandas(module_path, "path string").collect()
    bad = sorted({r.path for r in rows if r.path != want})
    if bad or not rows:
        raise RuntimeError(f"Python workers import the engine from {bad}, not {want}")


def session_conf(event_log: bool) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(WORK, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_session(cores: int, event_log: bool):
    from hogflare_spark import plans
    from hogflare_spark.session import get_spark

    plans.load_all()

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=session_conf(event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    worker_guard(spark, cores)
    return spark


def stop_all(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every
    process this run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — make sure it dies
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---- the closed loop ------------------------------------------------------------------


class Loop:
    """Runs passes over a workload's ops, one op at a time, and checks
    every result."""

    def __init__(self, spark, ops, ctx, refs):
        self.spark = spark
        self.ops = ops
        self.ctx = ctx
        self.refs = refs  # op name -> [Reference]
        self.perturb = False  # change one value of the next checked result
        self.failures: list[str] = []
        self.leaks: list[int] = []

    def isolate(self, keep: tuple[str, ...] = ()) -> None:
        """Between ops: count the persistent RDDs the op left, then drop
        cached data, collect garbage (RDD handles die with it) and remove
        the op's scratch, except what a later op of the pass reads."""
        self.leaks.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        self.spark.catalog.clearCache()
        gc.collect()
        for name in os.listdir(self.ctx.scratch):
            if name not in keep:
                shutil.rmtree(os.path.join(self.ctx.scratch, name), ignore_errors=True)

    def run_pass(self, tracer, pass_no: int) -> dict:
        self.ctx.tracer = tracer
        lat: list[float] = []
        failed = [False] * len(self.ops)
        with tracer.span("pass", n=pass_no):
            for i, op in enumerate(self.ops):
                if op.prepare is not None:
                    op.prepare(self.ctx)
                err = None
                t0 = time.perf_counter()
                try:
                    with tracer.span("op", op=op.name, n=pass_no):
                        results = op.run(self.ctx)
                except Exception as exc:  # noqa: BLE001 — a failed op, keep going
                    results, err = None, f"{type(exc).__name__}: {exc}"
                lat.append(time.perf_counter() - t0)
                if err is None:
                    err = self.check(op, results)
                if err is not None:
                    failed[i] = True
                    for j, other in enumerate(self.ops):
                        if other.name in op.covers:
                            failed[j] = True
                    self.failures.append(f"pass {pass_no} {op.name}: {err[:300]}")
                last = i == len(self.ops) - 1
                self.isolate(keep=() if last else STREAM_SCRATCH)
        return {"lat": lat, "failed": failed, "wall": sum(lat)}

    def check(self, op, results) -> str | None:
        refs = self.refs[op.name]
        if len(results) != len(refs):
            return f"{len(results)} results for {len(refs)} references"
        for (rows, cols), ref in zip(results, refs):
            rows = [tuple(r) for r in rows]
            if self.perturb and rows:
                self.perturb = False
                rows[0] = _perturbed(rows[0])
            why = ref.mismatch(rows, list(cols))
            if why is not None:
                return why
        return None


def _perturbed(row: tuple) -> tuple:
    """The same row with its first value changed."""
    v = row[0]
    if isinstance(v, bool) or v is None:
        v = "perturbed"
    elif isinstance(v, (int, float)):
        v = v + 1
    else:
        v = f"{v}~"
    return (v,) + tuple(row[1:])


# ---- per-layer metrics ------------------------------------------------------------------

LLM_LAYERS = ("dedup", "similarity", "bpe", "retrieval", "graph", "recursion")
PLAN_LAYERS = ("relational", "events_analytics")


def layer_metrics(spans, jobs, log, traced_passes, cores, walls, leaks, input_bytes):
    """Per-pass averages over the traced passes, from spans and jobs.

    `walls` holds the traced and untraced passes' op-time totals.
    """
    n = max(1, len(traced_passes))
    by_span: dict[int, list] = {}
    for jid, j in jobs.items():
        by_span.setdefault(j["span"], []).append(jid)

    def sub(span_ids):
        """Jobs, stages and task totals of the spans' subtrees."""
        ids = set()
        for s in span_ids:
            ids |= subtree_ids(spans, s)
        js = [jid for s in ids for jid in by_span.get(s, [])]
        tot = {"jobs": len(js), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_read_b": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0}
        for jid in js:
            j = jobs[jid]
            tot["stages"] += len(j["stages"])
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_b",
                      "shuffle_write_b", "spill_b"):
                tot[k] += j[k]
        return tot, js

    in_pass = set()
    for p in traced_passes:
        in_pass |= subtree_ids(spans, p)

    def named(name):
        return [s for s in spans if s.name == name and s.id in in_pass]

    def secs(ss):
        return sum(s.seconds for s in ss)

    m: dict[str, float] = {}
    build, collect = named("build"), named("collect")
    m["plans.build_s"] = secs(build) / n
    m["plans.build_jobs"] = sub([s.id for s in build])[0]["jobs"] / n
    m["collect.s"] = secs(collect) / n
    m["collect.jobs"] = sub([s.id for s in collect])[0]["jobs"] / n

    ops = named("op")
    tot, js = sub([s.id for s in ops])
    wall = secs(ops)
    m["exec.jobs"] = tot["jobs"] / n
    m["exec.stages"] = tot["stages"] / n
    m["exec.tasks"] = tot["tasks"] / n
    m["exec.core_util"] = tot["run_s"] / (wall * cores) if wall else 0.0
    busy = _union(
        [(log["jobs"][j]["submit"], log["jobs"][j]["end"] or log["jobs"][j]["submit"])
         for j in js if j in log["jobs"]]
    )
    m["exec.driver_gap_s"] = max(0.0, wall - busy) / n
    m["exec.task_run_s"] = tot["run_s"] / n
    m["exec.task_cpu_s"] = tot["cpu_s"] / n
    m["exec.task_gc_s"] = tot["gc_s"] / n
    m["exec.shuffle_read_mb"] = tot["shuffle_read_b"] / MB / n
    m["exec.shuffle_write_mb"] = tot["shuffle_write_b"] / MB / n
    m["exec.spill_mb"] = tot["spill_b"] / MB / n

    for layer in ("normalize", "person_state", "group_state"):
        ss = named(f"operators.{layer}")
        m[f"operators.{layer}.s"] = secs(ss) / n
        m[f"operators.{layer}.jobs"] = sub([s.id for s in ss])[0]["jobs"] / n
    m["operators.ingest.s"] = secs(named("operators.ingest")) / n

    lake = named("sinks.lake")
    written = sum(s.attrs.get("written_b", 0) for s in lake)
    m["sinks.lake.s"] = secs(lake) / n
    m["sinks.lake.jobs"] = sub([s.id for s in lake])[0]["jobs"] / n
    m["sinks.lake.written_mb"] = written / MB / n
    m["sinks.lake.write_amp"] = written / input_bytes / n

    batches = named("streaming.ingest_stream")
    m["streaming.ingest_stream.batch_s"] = (
        statistics.median([s.seconds for s in batches]) if batches else 0.0
    )
    m["streaming.ingest_stream.batch_jobs"] = (
        sub([s.id for s in batches])[0]["jobs"] / len(batches) if batches else 0.0
    )
    fl = named("flags")
    m["flags.s"] = secs(fl) / n
    m["flags.jobs"] = sub([s.id for s in fl])[0]["jobs"] / n

    def phase_of(layer_spans, phase):
        out = []
        for s in layer_spans:
            out += [t for t in spans if t.parent == s.id and t.name == phase]
        return out

    for layer in LLM_LAYERS:
        ls = named(f"operators.{layer}")
        b, c = phase_of(ls, "build"), phase_of(ls, "collect")
        m[f"operators.{layer}.build_s"] = secs(b) / n
        m[f"operators.{layer}.build_jobs"] = sub([s.id for s in b])[0]["jobs"] / n
        m[f"operators.{layer}.collect_s"] = secs(c) / n
        m[f"operators.{layer}.task_run_s"] = sub([s.id for s in ls])[0]["run_s"] / n
    for layer in PLAN_LAYERS:
        ls = named(f"plans.{layer}")
        m[f"plans.{layer}.build_s"] = secs(phase_of(ls, "build")) / n
        m[f"plans.{layer}.collect_s"] = secs(phase_of(ls, "collect")) / n
        m[f"plans.{layer}.task_run_s"] = sub([s.id for s in ls])[0]["run_s"] / n

    m["spark.cached_rdds_left"] = sum(leaks) / len(leaks) if leaks else 0.0
    traced, untraced = walls
    m["trace.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1.0
    return m


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---- main --------------------------------------------------------------------------------


def prepare_environment(cores: int) -> None:
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM Spark starts (the launcher too) keeps its temp files, and
    # no perf-data file, out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def prepare(args) -> int:
    """The untimed preparation, in a child process of the run: generate the
    seed's inputs, compute every reference answer with DuckDB (cached per
    seed) and record the environment, into the JSON file `args.prepare`.

    The child exits before the run starts measuring, so generation and
    DuckDB leave no heap in the measured process tree, whether or not the
    seed's inputs were already cached.
    """
    import gen
    from oracle import Oracles
    from workloads import WORKLOADS

    sys.path.insert(0, ROOT)
    import hogflare_spark.plans as plans

    plans.load_all()
    ops = WORKLOADS[args.workload]
    data_dir = os.path.join(WORK, "inputs", gen.version(), f"seed{args.seed}")
    counts = gen.generate(data_dir, args.seed)
    oracles = Oracles(data_dir, data_dir + ".refs")
    refs = {
        op.name: [vars(oracles.reference(sql)) for sql in op.oracles()] for op in ops
    }
    oracles.close()
    doc = {
        "data_dir": data_dir,
        "rows_per_pass": sum(counts[t] for op in ops for t in op.inputs),
        "input_bytes": os.path.getsize(os.path.join(data_dir, "events.parquet")),
        "env": environment(f"local[{nproc()}]"),
        "refs": refs,
    }
    with open(args.prepare, "w") as fh:
        json.dump(doc, fh)
    return 0


def run(args) -> int:
    import subprocess

    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "hogflare_spark")):
        print(f"no hogflare_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = nproc()
    prepare_environment(cores)
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    ops = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    prep_file = os.path.join(WORK, "tmp", f"prepare-{os.getpid()}.json")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prepare", prep_file,
         "--workload", args.workload, "--seed", str(args.seed)],
        check=True,
        timeout=150,
    )
    with open(prep_file) as fh:
        prep = json.load(fh)
    os.remove(prep_file)
    prep_s = time.perf_counter() - t0
    refs = {
        name: [Reference(r["cols"], r["rows"]) for r in rs]
        for name, rs in prep["refs"].items()
    }
    print("env " + json.dumps(prep["env"]), flush=True)

    scratch = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)

    spark = None
    with RssSampler() as rss:
        try:
            # set-up, one cold path: engine import, session start (which
            # launches the JVM), the worker guard, and one untimed warm-up
            # pass over every operation (JIT, codegen, worker imports)
            t0 = time.perf_counter()
            spark = start_session(cores, trace)
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, prep["data_dir"], scratch, NullTracer())
            loop = Loop(spark, ops, ctx, refs)
            warm = loop.run_pass(NullTracer(), -1)
            setup_s = time.perf_counter() - t0
            warm_failures = list(loop.failures)
            loop.failures.clear()
            loop.leaks.clear()
            loop.perturb = args.perturb  # the first measured check

            # whole passes until --seconds have passed; a traced run
            # alternates untraced, traced, untraced, ... passes so that the
            # untraced ones bracket the traced ones
            tracer = Tracer(spark.sparkContext) if trace else None
            passes, windows, pass_leaks = [], [], []
            walls = ([], [])  # op-time totals of traced and untraced passes
            t_start = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_start
                enough = elapsed >= args.seconds
                if trace:
                    enough = enough and len(walls[0]) >= 1 and len(walls[1]) >= 2
                if enough or (passes and elapsed >= MAX_MEASURE_S):
                    break
                k = len(passes)
                traced_now = trace and k % 2 == 1
                before = len(loop.leaks)
                if traced_now:
                    n_spans = len(tracer.spans)
                    w0 = time.time()
                    with layer_spans(tracer):
                        p = loop.run_pass(tracer, k)
                    windows.append((tracer.spans[n_spans].id, w0, time.time()))
                    pass_leaks += loop.leaks[before:]
                else:
                    p = loop.run_pass(NullTracer(), k)
                walls[0 if traced_now else 1].append(p["wall"])
                passes.append(p)
            measured_s = time.perf_counter() - t_start
            app_id = spark.sparkContext.applicationId
        finally:
            t_stop = time.perf_counter()
            if spark is not None:
                stop_all(spark)
            stop_s = time.perf_counter() - t_stop
    peak_mb = rss.peak / MB

    lat = [x for p in passes for x in p["lat"]]
    failed = sum(sum(p["failed"]) for p in passes)
    attempted = len(lat)
    fails = warm_failures + loop.failures
    for f in fails[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    correct = not fails

    if trace:
        log = read_event_log(find_event_log(os.path.join(WORK, "eventlog"), app_id))
        jobs = attribute(log, tracer.spans)
        problems = check_attribution(jobs, log, tracer.spans, windows)
        if problems:
            raise RuntimeError("event-log attribution: " + "; ".join(problems[:10]))
        metrics = layer_metrics(
            tracer.spans, jobs, log, [w[0] for w in windows], cores, walls, pass_leaks,
            prep["input_bytes"],
        )
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.write(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.spans.json"))
        shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
        out = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
    else:
        try:
            tail_v, tail_pct, n_samples = stats.tail(lat, TAIL_BEYOND)
            tail = f"{tail_v:.4g} s at p{tail_pct:.1f} of {n_samples} samples"
        except ValueError as exc:
            tail = f"n/a: {exc}"
        wall = statistics.median([p["wall"] for p in passes])
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
        # also printed, not in the result: rows_per_s is rows_per_pass /
        # wall_s, failed_frac is failed / attempted, and a run has too few
        # operations for a tail with ten samples beyond it
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            **{k: f"{v['value']:.4g} {v['unit']}" for k, v in out.items()},
            "rows_per_s": f"{prep['rows_per_pass'] / wall:.4g} rows/s",
            "failed_frac": f"{failed / attempted:.4g} (of {attempted} ops)",
            "op_tail_s": tail,
            "passes": len(passes),
            "rows_per_pass": prep["rows_per_pass"],
            "session_start_s": round(session_s, 3),
            "warmup_pass_s": round(setup_s - session_s, 3),
            "warmup_op_s": {op.name: round(t, 3) for op, t in zip(ops, warm["lat"])},
            "op_median_s": {
                op.name: round(statistics.median([p["lat"][i] for p in passes]), 3)
                for i, op in enumerate(ops)
            },
            "measured_s": round(measured_s, 3),
            "prep_s": round(prep_s, 3),
            "stop_s": round(stop_s, 3),
        }
        print("summary " + json.dumps(summary), flush=True)
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}
        )
    )
    return 0 if correct else 1


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("jobs") or name.endswith(("stages", "tasks", "cached_rdds_left")):
        return "count"
    if name.endswith(("_frac", "core_util", "write_amp")):
        return "ratio"
    return "s"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="change one value of the first checked result (must fail)")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--prepare", metavar="JSON", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.self_test:
        import selftest

        return selftest.main()
    if not args.workload:
        ap.error("--workload is required")
    if args.prepare:
        return prepare(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
