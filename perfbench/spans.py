"""Spans and Spark-side counters for the benchmark's traced run.

Spans come only from the benchmark's own call sites: each call the
benchmark makes into an engine layer is wrapped in ``Tracer.span``.  A
span records its name, start, end, parent span and op id, plus the range
of Spark job ids the DAG scheduler handed out while it was open (job ids
are sequential, so the range also catches jobs that Structured Streaming
launches from its own thread).  Spans stay in memory and are written out
when the run ends.

After each op, outside its timer, ``Tracer.collect_op`` drains Spark's
listener bus and reads, for that op's jobs:

- stage metrics from ``statusStore().lastStageAttempt(stageId)``;
- Python-worker SQL metrics from the SQL status store's execution
  metrics;
- Catalyst phase times from the result's ``queryExecution().tracker()``.

A tracer made with ``enabled=False`` is inert: every method is a no-op,
so the timed loop runs the same code with and without tracing.  An
enabled tracer records only while ``on`` is set (the timed ops, not the
set-up or the checks).  ``cost`` sums the time the layer spans' own
bookkeeping adds inside the op timers: the tracing overhead.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric name -> per-layer metric and the unit the parsed value is in
PY_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20,
          "GiB": 1 << 30, "TiB": 1 << 40}
STAGE_FIELDS = ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "stages", "tasks", "failed_tasks")


def parse_sql_metric(text: str) -> float:
    """The total of a formatted SQL metric value: ``'12 ms'``,
    ``'total (min, med, max ...)\\n3.8 s (...)'`` or ``'1,234'``.  Sizes
    come back in bytes, times in seconds."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Tracer:
    """Collects spans and per-op Spark counters; inert when disabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.on = False
        self.cost = 0.0
        self.spans: list = []
        self.op_counters: dict = {}
        self._stack: list = []
        self._op = None
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._sc = spark.sparkContext
            self._dag = jsc.dagScheduler()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._sql_seen = self._sql.executionsCount()

    # ------------------------------------------------------------- spans
    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one op; children inherit its op id."""
        if not self.on:
            yield
            return
        self._op = op_id
        with self.span(name, kind="op"):
            yield
        self._op = None

    @contextmanager
    def span(self, name: str, kind: str = "layer"):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "kind": kind,
               "op": self._op, "parent": parent["id"] if parent else None,
               "job_lo": self._dag.numTotalJobs()}
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self._dag.numTotalJobs()
            self._stack.pop()
            if kind != "op":        # the op span sits outside the timer
                self.cost += (rec["start"] - t0
                              + time.perf_counter() - rec["end"])

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``."""
        if not self.on:
            return fn(*args, **kwargs)
        with self.span(name):
            return fn(*args, **kwargs)

    # ----------------------------------------------------------- counters
    def collect_op(self, op_id: str, result_df=None) -> None:
        """Read the Spark counters of one finished op (outside its
        timer).  ``result_df`` is the DataFrame the op forced, if any."""
        if not self.enabled:
            return
        self._bus.waitUntilEmpty()
        spans = [s for s in self.spans if s["op"] == op_id]
        owner = self._job_owners(spans)
        c = defaultdict(float)
        seen_stages = set()
        for job, sid in owner.items():
            span = self.spans[sid]
            c["jobs:" + span["name"]] += 1
            if not _is_exec(span["name"]):
                continue
            info = self._sc.statusTracker().getJobInfo(job)
            for stage in (info.stageIds if info else []):
                if stage not in seen_stages:
                    seen_stages.add(stage)
                    self._add_stage(c, stage)
        self._add_sql(c)
        if result_df is not None:
            self._add_catalyst(c, result_df)
        self.op_counters[op_id] = dict(c)

    def _job_owners(self, spans) -> dict:
        """job id -> id of the innermost span open when it started."""
        owner = {}
        for s in sorted(spans, key=lambda s: s["id"]):
            for j in range(s["job_lo"], s["job_hi"]):
                owner[j] = s["id"]          # later (inner) spans win
        return owner

    def _add_stage(self, c, stage: int) -> None:
        try:
            st = self._store.lastStageAttempt(stage)
        except Exception:       # evicted or never submitted
            return
        if st.status().toString() != "COMPLETE":
            return
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["failed_tasks"] += st.numFailedTasks()
        c["task_run_s"] += st.executorRunTime() / 1e3
        c["task_cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1e3
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["input_bytes"] += st.inputBytes()

    def _add_sql(self, c) -> None:
        """Python-worker metrics of the SQL executions since the last
        call (every execution of this op)."""
        total = self._sql.executionsCount()
        if total <= self._sql_seen:
            return
        execs = self._sql.executionsList(self._sql_seen,
                                         total - self._sql_seen)
        self._sql_seen = total
        for i in range(execs.size()):
            e = execs.apply(i)
            values = self._sql.executionMetrics(e.executionId())
            metrics, done = e.metrics(), set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in done or not values.contains(acc):
                    continue
                done.add(acc)
                c[key] += parse_sql_metric(values.apply(acc))

    def _add_catalyst(self, c, df) -> None:
        """Phase times of the forced plan: analysis as the op built it,
        then optimization and planning replayed on the same plan (the
        noop write plans a copy whose tracker is not reachable)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phase = kv._2()
            c["catalyst." + kv._1() + "_ms"] += \
                phase.endTimeMs() - phase.startTimeMs()

    # ------------------------------------------------------------ rollup
    def self_times(self, op_ids) -> dict:
        """Per span name: summed self time (s) over the given ops; a
        span's self time is its duration minus its children's."""
        ops = set(op_ids)
        child = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops and s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def uncovered(self, op_ids) -> list:
        """(op id, op wall, share of the wall no layer span covers)."""
        ops = set(op_ids)
        child = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops and s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        rows = []
        for s in self.spans:
            if s["op"] in ops and s["kind"] == "op":
                wall = s["end"] - s["start"]
                rows.append((s["op"], wall,
                             (wall - child[s["id"]]) / wall if wall else 0))
        return rows

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.op_counters},
                      f)


def _is_exec(span_name: str) -> bool:
    """Spans that force a result: their jobs are the execution work."""
    return span_name == "exec" or span_name.endswith(".serve_exec")
