#!/usr/bin/env python3
"""End-to-end benchmark of the orange3_timeseries_spark engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload interactive_mix --seed 1 \\
        --seconds 9 --trace 0

Each run generates its inputs from ``--seed`` (``gen.py``), starts a fresh
Spark session on ``local[4]`` in this process, and drives one closed-loop
client: the next op starts once the previous op's result has been forced
with a full-column ``noop`` write.  The timed loop does no per-op hygiene
(no cache clearing, unpersisting or forced GC), as a long-lived caller
would not.  Workloads:

- ``interactive_mix``: 13 ops mirroring registered queries (windows,
  blocks, calendar periods, differencing, interpolation, time slice,
  spiralogram, as-of join, sessionize, a seasonal decomposition, a
  per-series AR(1) fit and a streaming window) over 100k events.  Each op
  costs 0.2-1 s, mostly fixed per-query floor.
- ``bulk_series``: five of those families over 1M events, one of them a
  per-series AR(1) fit in Python workers.  Execution dominates.
- ``index_lifecycle``: BM25, MinHash-LSH and IVF-PQ indexes built,
  appended to, served and compacted through the versioned index store.

A run has four phases.  Set-up (session start, package ship and a first
untimed pass of every distinct op) is timed as ``setup_s``.  Then,
outside every timer, outputs are checked: each time-series op against
the DuckDB oracle of the query it mirrors (a second pass of every op,
which also warms the JVM, whose JIT is far from settled after one), and
each index family's top-k, served in set-up after appends and a
compaction, against a live rebuild.  Then the timed loop runs whole
cycles (every op of the workload once, in a seeded order) until
``--seconds`` have passed and at least the workload's ``min_cycles``
are done, so every run times the same mix.  Last, the
session stops.  A failed op or check
counts in ``failed``.

The Spark JVM gets a fixed, pre-touched 2 GiB heap, so ``peak_rss_mb``
(this Python process plus the JVM, from ``/proc``) does not swing with
when the collector grows the heap; it moves with the Python process's
memory and the JVM's off-heap memory (threads, code, Arrow and Netty
buffers).
Retained heap shows in ``session.jvm_heap_used_mb_end``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces the
timed loop and prints the per-layer metrics (see ``spans.py``).
Per-layer times and counts are means per traced op unless the name ends in ``_end`` (state at the end of the run),
is a share or ratio, or starts with ``lifecycle.``.  A human-readable
report goes to stderr; the last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# min_cycles: timed cycles a run makes however long they take; two give
# every time-series op two samples, one index cycle already holds 12 ops
WORKLOADS = {
    "interactive_mix": {"events": 100_000, "min_cycles": 2},
    "bulk_series": {"events": 1_000_000, "min_cycles": 2},
    "index_lifecycle": {"min_cycles": 1},
}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"),
              ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB")]

FAMILY_LAYERS = ("retrieval", "dedup", "similarity")
FAMILY_STEPS = ("build", "write", "append", "read", "serve_construct",
                "serve_exec", "compact")
# span name -> (self-time metric, job-count metric)
SPAN_METRICS = {
    "session.ensure_conf": ("session.ensure_conf_s", None),
    "sources.read": ("sources.read_s", "sources.read_jobs"),
    "frame.construct": ("frame.construct_s", None),
    "operators.construct": ("operators.construct_s",
                            "operators.construct_jobs"),
    "spark_analytics.construct": ("spark_analytics.construct_s", None),
    "models.construct": ("models.construct_s", None),
    "streaming.run": ("streaming.run_s", "streaming.jobs"),
    "exec": ("exec.s", "exec.jobs"),
}
for _layer in FAMILY_LAYERS:
    for _step in FAMILY_STEPS:
        SPAN_METRICS[f"{_layer}.{_step}"] = (f"{_layer}.{_step}_s",
                                             f"{_layer}.{_step}_jobs")

PER_LAYER = (
    [("session.get_spark_s", "s")]
    + [(m, "count" if m.endswith(("_jobs", ".jobs")) else "s")
       for pair in SPAN_METRICS.values() for m in pair if m]
    + [("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
       ("catalyst.planning_ms", "ms"),
       ("exec.stages", "count"), ("exec.tasks", "count"),
       ("exec.failed_tasks", "count"), ("exec.task_run_s", "s"),
       ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
       ("exec.slot_utilisation", "ratio"),
       ("exec.shuffle_read_bytes", "bytes"),
       ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
       ("exec.input_bytes", "bytes"),
       ("pyworker.start_s", "s"), ("pyworker.init_s", "s"),
       ("pyworker.run_s", "s"), ("pyworker.bytes_sent", "bytes"),
       ("pyworker.bytes_returned", "bytes"),
       ("index_store.bytes_written", "bytes"),
       ("index_store.files_written", "count"),
       ("index_store.live_deltas", "count"),
       ("index_store.compact_bytes_rewritten", "bytes"),
       ("lifecycle.build_s", "s"), ("lifecycle.append_p50_s", "s"),
       ("lifecycle.serve_p50_s", "s"), ("lifecycle.serve_p90_s", "s"),
       ("lifecycle.compact_s", "s"), ("lifecycle.write_amp", "ratio"),
       ("lifecycle.space_amp", "ratio"),
       ("session.persistent_rdds_end", "count"),
       ("session.temp_views_end", "count"),
       ("session.active_streams_end", "count"),
       ("session.jvm_heap_used_mb_end", "MB"),
       ("trace.overhead_share", "ratio"), ("trace.uncovered_share", "ratio")])
CORES = 4


def p50(xs):
    return statistics.median(xs)


def p90(xs):
    """90th percentile (the exclusive method of ``statistics``)."""
    return statistics.quantiles(xs, n=10)[-1] if len(xs) > 1 else xs[0]


def vm_hwm_mb(pid) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """One benchmark run: the session, its tracer, and what was timed."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.data = os.path.join(work, "data")
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.samples = []           # (kind, seconds, input rows)
        self.traced_ops = []
        self.extra = {}             # per-layer values measured directly
        self.report = {}            # report-only figures
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Report the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.report.setdefault("phase s", {})[name] = round(
            now - self._mark, 3)
        self._mark = now

    # ------------------------------------------------------ session
    def start(self) -> float:
        """Start the session; returns its start time in seconds."""
        from orange3_timeseries_spark import get_spark

        import spans

        t = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                               extra_conf={
                                   "spark.driver.memory": "2g",
                                   "spark.local.dir":
                                       os.path.join(self.work, "spark"),
                                   "spark.sql.warehouse.dir":
                                       os.path.join(self.work, "warehouse"),
                                   "spark.driver.extraJavaOptions":
                                       "-Xms2g -XX:+AlwaysPreTouch "
                                       "-Djava.io.tmpdir="
                                       + tempfile.gettempdir()})
        dt = time.perf_counter() - t
        self.tracer = spans.Tracer(self.spark, bool(self.args.trace))
        return dt

    def stop(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()

    def peak_rss_mb(self) -> float:
        py, jvm = vm_hwm_mb(os.getpid()), vm_hwm_mb(self.jvm_pid())
        self.report["peak rss mb (python, jvm)"] = [round(py), round(jvm)]
        return py + jvm

    # -------------------------------------------------------- ops
    def attempt(self, label: str, fn):
        """Run ``fn`` and count it; a failure is counted and reported on
        stderr, never swallowed silently.  Returns (ok, result)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {label} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return False, None

    def warm_up(self, label: str, fn) -> None:
        """One op of the untimed first pass; its time goes to the
        report."""
        t = time.perf_counter()
        self.attempt(f"warm-up {label}", fn)
        self.report.setdefault("warm-up s", {})[label] = round(
            time.perf_counter() - t, 3)

    def timed(self, op_id: str, label: str, kind: str, fn, traced: bool,
              sample: bool = True):
        """One timed op: ``fn()`` returns (input rows, result DataFrame or
        None).  Counters are read after the timer stops.  With ``sample``
        unset the op is timed and traced but kept out of the loop's
        latency samples."""
        tr = self.tracer
        tr.on = traced

        def body():
            with tr.op(op_id, label):
                t = time.perf_counter()
                rows, df = fn()
                return time.perf_counter() - t, rows, df
        ok, res = self.attempt(f"{label} ({op_id})", body)
        if not ok:
            tr.on = False
            return None
        dt, rows, df = res
        tr.collect_op(op_id, df)
        tr.on = False
        if traced:
            self.traced_ops.append(op_id)
        if sample:
            self.samples.append((kind, dt, rows))
            self.report.setdefault("op times s", {}).setdefault(
                label, []).append(round(dt, 3))
        return dt

    def loop(self, cycle) -> None:
        """Whole cycles until the run's seconds are spent and the
        workload's minimum of cycles is done."""
        least = WORKLOADS[self.args.workload]["min_cycles"]
        rng = random.Random(self.args.seed)
        t0 = time.perf_counter()
        walls = self.report.setdefault("cycle walls s", [])
        k = 0
        while cycle(k, rng, bool(self.args.trace)):
            k += 1
            walls.append(round(time.perf_counter() - t0 - sum(walls), 3))
            if k >= least and time.perf_counter() - t0 >= self.args.seconds:
                break

    # ---------------------------------------------------- metrics
    def end_to_end(self, setup_s: float, rss: float) -> dict:
        lat = [dt for _, dt, _ in self.samples]
        busy = sum(lat)
        vals = {"setup_s": setup_s, "op_p50_s": p50(lat),
                "ops_per_s": len(lat) / busy,
                "rows_per_s": sum(r for _, _, r in self.samples) / busy,
                "peak_rss_mb": rss}
        self.report["timed ops"] = len(lat)
        return vals

    def per_layer(self) -> dict:
        tr = self.tracer
        ops = self.traced_ops
        n = max(1, len(ops))
        vals = {name: 0.0 for name, _ in PER_LAYER}
        selft = tr.self_times(ops)
        counters = defaultdict(float)
        for op in ops:
            for k, v in tr.op_counters.get(op, {}).items():
                counters[k] += v
        for span, (tmetric, jmetric) in SPAN_METRICS.items():
            vals[tmetric] = selft.get(span, 0.0) / n
            if jmetric:
                vals[jmetric] = counters.get("jobs:" + span, 0.0) / n
        for key in ("stages", "tasks", "failed_tasks", "task_run_s",
                    "task_cpu_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "input_bytes"):
            vals["exec." + key] = counters.get(key, 0.0) / n
        exec_wall = sum(selft.get(s, 0.0) for s in selft
                        if s == "exec" or s.endswith(".serve_exec"))
        vals["exec.slot_utilisation"] = (
            counters.get("task_run_s", 0.0) / (exec_wall * CORES)
            if exec_wall else 0.0)
        for k, v in counters.items():
            if k.startswith(("catalyst.", "pyworker.")) and k in vals:
                vals[k] = v / n
        unc = tr.uncovered(ops)
        wall = sum(w for _, w, _ in unc)
        if wall:
            vals["trace.uncovered_share"] = sum(w * s for _, w, s in unc) \
                / wall
            vals["trace.overhead_share"] = tr.cost / wall
        vals.update(self.extra)
        self.report["traced ops"] = len(ops)
        self.report["uncovered share per op"] = {
            op: round(s, 4) for op, _, s in unc}
        return vals

    def session_end_state(self) -> None:
        sp = self.spark
        jvm = sp.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        views = [t for t in sp.catalog.listTables() if t.isTemporary]
        self.extra.update({
            "session.persistent_rdds_end":
                len(sp.sparkContext._jsc.getPersistentRDDs()),
            "session.temp_views_end": len(views),
            "session.active_streams_end": len(sp.streams.active),
            "session.jvm_heap_used_mb_end":
                (rt.totalMemory() - rt.freeMemory()) / (1 << 20),
        })


# ------------------------------------------------------------ workloads
def run_time_series(run: Run, op_names) -> tuple:
    """interactive_mix / bulk_series.  Returns (setup_s, peak RSS)."""
    import oracle
    import ops_ts
    from orange3_timeseries_spark import queries_analytics  # noqa: F401
    from orange3_timeseries_spark import queries_models  # noqa: F401
    from orange3_timeseries_spark import queries_streaming  # noqa: F401
    from orange3_timeseries_spark.queries import ORACLE_SQL

    with open(os.path.join(run.data, "manifest.json")) as f:
        n_rows = json.load(f)["events"]["rows"]
    t0 = time.perf_counter()
    run.extra["session.get_spark_s"] = run.start()
    ctx = ops_ts.Ctx(run.spark, run.data, run.tracer)

    def force(name):
        ctx.conf()
        df = ops_ts.OPS[name](ctx)
        run.tracer.call("exec", df.write.format("noop").mode("overwrite")
                        .save)
        return n_rows, df

    for name in op_names:                  # first untimed pass
        run.warm_up(name, lambda: force(name))
    setup_s = time.perf_counter() - t0
    run.phase("setup")

    # Every op's output against its oracle, outside every timer.  Done
    # before the loop, this pass also warms the JVM further.
    con = oracle.connect(run.data)
    checks = {}
    for name in op_names:
        ok, why = run.attempt(
            f"check {name}",
            lambda: oracle.multiset_diff(con, ops_ts.OPS[name](ctx).toArrow(),
                                         ORACLE_SQL[name]))
        if ok and why:
            run.failed += 1
            print(f"perfbench: check {name} failed: {why}", file=sys.stderr)
        checks[name] = "pass" if ok and not why else "FAIL"
    con.close()
    run.phase("checks")
    run.report["checks"] = checks

    def cycle(k, rng, traced):
        for i, name in enumerate(rng.sample(op_names, len(op_names))):
            run.timed(f"{name}#{k}.{i}", name, "op",
                      lambda: force(name), traced)
        return True

    run.loop(cycle)
    run.phase("loop")
    rss = run.peak_rss_mb()
    run.session_end_state()
    return setup_s, rss


def run_index(run: Run) -> tuple:
    """index_lifecycle.  Returns (setup_s, peak RSS)."""
    import ops_index
    import oracle
    import ops_ts

    payload = ops_index.payload_bytes(run.data)
    t0 = time.perf_counter()
    run.extra["session.get_spark_s"] = run.start()
    ctx = ops_ts.Ctx(run.spark, run.data, run.tracer)

    root = os.path.join(run.work, "index")
    lc = ops_index.Lifecycle(ctx, root, payload)
    meter = ops_index.StoreMeter(root)
    compact_bytes = 0
    n_ops = 0

    def metered(step):
        """Account what the op just done wrote under the store."""
        nonlocal compact_bytes, n_ops
        written = meter.scan()
        n_ops += 1
        if step == "compact":
            compact_bytes += written

    def build_all():
        return sum(lc.build(f) for f in lc.fams), None

    # First untimed pass: the initial build (timed on its own, and traced
    # in a traced run), then per family the appends of one cycle, a
    # compaction and a serve whose rows are collected for the check.
    build_s = run.timed("build", "build", "build", build_all,
                        bool(run.args.trace), sample=False)
    metered("build")
    served = {}
    for fam in lc.fams:
        for step in (["append"] * ops_index.APPENDS_PER_COMPACT
                     + ["compact"]):
            run.warm_up(f"{fam.layer}.{step}",
                        lambda: getattr(lc, step)(fam))
            metered(step)
        run.warm_up(f"{fam.layer}.serve", lambda: served.__setitem__(
            fam.layer, oracle.rows_hash(lc.serve_df(fam).collect())))
    setup_s = time.perf_counter() - t0
    run.phase("setup")

    # The served top-k, after appends and a compaction, against a live
    # rebuild over the same corpus, outside every timer.
    checks = {}
    for fam in lc.fams:
        ok, why = run.attempt(
            f"check {fam.layer}",
            lambda: lc.check(fam, served.get(fam.layer), oracle.rows_hash))
        if ok and why:
            run.failed += 1
            print(f"perfbench: check failed: {why}", file=sys.stderr)
        checks[fam.layer] = "pass" if ok and not why else "FAIL"
    run.phase("checks")
    run.report["checks"] = checks

    def cycle(k, rng, traced):
        if not all(lc.can_append(f) for f in lc.fams):
            return False
        steps = []
        for a in range(ops_index.APPENDS_PER_COMPACT):
            steps += [(f, "append") for f in lc.fams]
        steps += [(f, "serve") for f in lc.fams]
        steps += [(f, "compact") for f in lc.fams]
        for i, (fam, step) in enumerate(steps):
            if step == "append":
                fn = (lambda f=fam: (lc.append(f), None))
            elif step == "serve":
                fn = (lambda f=fam: lc.serve(f))
            else:
                fn = (lambda f=fam: (lc.compact(f), None))
            run.timed(f"{fam.layer}.{step}#{k}.{i}", f"{fam.layer}.{step}",
                      step, fn, traced)
            metered(step)
        return True

    run.loop(cycle)
    run.phase("loop")
    rss = run.peak_rss_mb()
    run.session_end_state()

    by_kind = defaultdict(list)
    for kind, dt, _ in run.samples:
        by_kind[kind].append(dt)
    run.extra.update({
        "lifecycle.build_s": build_s or 0.0,
        "lifecycle.append_p50_s": p50(by_kind["append"]),
        "lifecycle.serve_p50_s": p50(by_kind["serve"]),
        "lifecycle.serve_p90_s": p90(by_kind["serve"]),
        "lifecycle.compact_s": p50(by_kind["compact"]),
        "lifecycle.write_amp": meter.bytes_written / lc.ingested_bytes,
        "lifecycle.space_amp": meter.on_disk() / lc.ingested_bytes,
        "index_store.bytes_written": meter.bytes_written / n_ops,
        "index_store.files_written": meter.files_written / n_ops,
        "index_store.compact_bytes_rewritten": compact_bytes / n_ops,
        "index_store.live_deltas": lc.live_deltas(),
    })
    run.report["appends per family"] = dict(lc.appended)
    return setup_s, rss


# ----------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=9)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the events table size (smoke tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import orange3_timeseries_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import gen

    work = os.path.join(HERE, "_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp             # Spark, the engine and tempfile
    tempfile.tempdir = None
    run = Run(args, work)
    try:
        if args.workload == "index_lifecycle":
            from ops_index import N_DOCS, N_VECS
            manifest = gen.generate(run.data, args.seed, n_docs=N_DOCS,
                                    n_vecs=N_VECS)
        else:
            manifest = gen.generate(run.data, args.seed, n_events=int(
                WORKLOADS[args.workload]["events"] * args.scale))
        run.phase("generate")
        if args.workload == "index_lifecycle":
            setup_s, rss = run_index(run)
        else:
            import ops_ts
            names = (ops_ts.BULK if args.workload == "bulk_series"
                     else ops_ts.INTERACTIVE)
            setup_s, rss = run_time_series(run, names)
        e2e = run.end_to_end(setup_s, rss)
        layers = run.per_layer() if args.trace else {}
        if args.trace:
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            run.tracer.dump(os.path.join(
                HERE, "_out", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        run.phase("stop")

    report = {"workload": args.workload, "seed": args.seed,
              "inputs": manifest, **run.report,
              "attempted": run.attempted, "failed": run.failed,
              "error_rate": run.failed / max(1, run.attempted),
              "end_to_end": {k: [round(e2e[k], 6), u] for k, u in END_TO_END},
              "per_layer": {k: [round(layers[k], 6), u]
                            for k, u in PER_LAYER if k in layers}}
    print(json.dumps(report, indent=1), file=sys.stderr)
    metrics = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
               if args.trace else
               {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END})
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
