#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a full-column noop-sink write; wall-clock per
query is reported plus the total.

Methodology: a JVM/Arrow/streaming warm-up runs before the first timed
query, and per-query cache-clear + Python/JVM GC hygiene runs BEFORE each
timer starts (py4j only releases JVM plan handles when Python gc runs, and
the accumulated garbage otherwise inflates later queries 2-10x).  The
figures are therefore per-query engine cost for relative tuning, not
end-to-end wall-clock of an uninstrumented sequential run.

The full result JSON is also written to ``bench_results.json`` next to
this script (the driver's stdout capture is bounded to a ~2 KB tail; the
printed line orders ``queries`` first and the summary fields last so the
totals always survive truncation).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    import __spark_entry__ as entrymod
    from orange3_timeseries_spark import get_spark
    from orange3_timeseries_spark.session import reset_session_state

    spark = get_spark("bench", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": cpus})

    # a failed warm-up block silently moves its one-time cost into the
    # first timed query of its tier: say so, and record it in the results
    warmup_failures = []

    def warmup_failed(block, exc):
        print(f"bench: warm-up {block} failed: {exc}", file=sys.stderr)
        warmup_failures.append({"block": block, "error": repr(exc)})

    # JVM / codegen / Arrow warm-up so the first timed query doesn't pay
    # one-time initialization (~5 s of JIT on a cold JVM): a window pass
    # plus one scan of the actual input (parquet reader + nanos-restore
    # codegen paths)
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    w = Window.orderBy("id").rowsBetween(-3, 0)
    spark.range(100000).select(F.avg("id").over(w)) \
        .write.format("noop").mode("overwrite").save()
    try:
        from orange3_timeseries_spark.queries import ensure_session_conf
        from orange3_timeseries_spark.sources import read_table
        ensure_session_conf(spark)
        read_table(spark, sf_dir, "events") \
            .write.format("noop").mode("overwrite").save()
    except Exception as e:
        warmup_failed("read_table", e)
    try:
        # pandas-UDF warm-up: the first applyInPandas/mapInPandas query in
        # a session pays Python-worker fork + pandas/numpy import (~1.5-2 s
        # measured) — one-time session cost, not query cost, so pay it here
        import pandas as pd  # noqa: F401

        wdf = spark.range(1000).withColumn("g", F.col("id") % 8)
        wdf.groupBy("g").applyInPandas(lambda p: p, schema=wdf.schema) \
            .write.format("noop").mode("overwrite").save()
    except Exception as e:
        warmup_failed("pandas_udf", e)
    try:
        # codegen warm-up for the dedup expression family: the minhash /
        # shingle / jaccard HOF trees compile to large generated classes
        # (~5-9 s of one-time janino work, measured); running the full
        # LSH->cluster pipeline once on 64 synthetic rows populates the
        # codegen cache (keyed by generated source) so the first REAL
        # dedup query isn't billed the compile (27.8 s -> 4.1 s measured
        # for dedup_clusters at sf0.1 when it sorts first)
        from orange3_timeseries_spark.operators import dedup as _D

        tiny = spark.range(64).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("warm doc text number "),
                     F.col("id").cast("string"),
                     F.lit(" pad pad pad")).alias("text"))
        _D.dedup_clusters(tiny,
                          _D.minhash_lsh_pairs(tiny, "text", "doc_id"),
                          "doc_id") \
            .write.format("noop").mode("overwrite").save()
        # the positional-gram substring plan compiles the largest class
        # family in the repo (~10 s janino on first touch at the
        # production parameters) — precompile it here so the timed
        # query measures execution, not compilation
        _D.substring_pairs(tiny, "text", "doc_id", min_len=150,
                           gram_len=40, mod=4, max_df=1000) \
            .write.format("noop").mode("overwrite").save()
    except Exception as e:
        warmup_failed("dedup", e)
    try:
        # bm25-family warm-up, same rationale as the dedup block above:
        # the tokenize/score/rank kernels plus the versioned index
        # write/read path compile ~90 distinct codegen classes on first
        # touch (3.3 s of janino measured at INFO logging, ~8 s
        # first-run-vs-warm gap for bm25_registry_topk on a quiet box)
        # — one-time session cost, not query cost, so pay it here on 64
        # synthetic rows before the first timed bm25 query
        import shutil
        import tempfile

        from orange3_timeseries_spark.operators.retrieval import (
            bm25_build_index,
            bm25_topk,
            bm25_topk_from_index,
            read_bm25_index,
            write_bm25_index,
        )

        tiny = spark.range(64).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("warm doc text number "),
                     F.col("id").cast("string"),
                     F.lit(" pad pad pad")).alias("text"))
        tq = spark.range(8).select(
            F.col("id").alias("query_id"),
            F.concat(F.lit("warm doc text number "),
                     F.col("id").cast("string")).alias("text"))
        bm25_topk(tiny, tq, top_k=3) \
            .write.format("noop").mode("overwrite").save()
        wpath = os.path.join(tempfile.gettempdir(),
                             f"bench_warm_bm25_{os.getpid()}")
        shutil.rmtree(wpath, ignore_errors=True)
        try:
            write_bm25_index(bm25_build_index(tiny), wpath)
            bm25_topk_from_index(read_bm25_index(spark, wpath), tq,
                                 top_k=3) \
                .write.format("noop").mode("overwrite").save()
        finally:
            # always reclaim the pid-suffixed temp dir — a failed
            # write/read/serve otherwise leaked it in /tmp (ADVICE r13)
            shutil.rmtree(wpath, ignore_errors=True)
    except Exception as e:
        warmup_failed("bm25", e)
    # NOTE (r14): the warm-up preamble is FROZEN at this block set.
    # The r13 close proposed extending it to the ANN retrain tier,
    # the simhash registry and the foreachBatch spool machinery; r14
    # implemented exactly that and measured it with full pre/post
    # bench pairs on a quiet box (committed:
    # bench_local_r14_preamble_{pre,post}.json — 297.7 s vs
    # 309.3/309.7 s on two post runs at equal-or-faster probes): the
    # additions PAY NOTHING (this round's expression memoization and
    # write-pin work removed the first-touch costs they targeted) and
    # instead add a broad ~28 ms/query session overhead (~12 s over
    # 293 queries, most likely the extra cloned-session/stream state).
    # They were therefore dropped; future rounds must not extend the
    # preamble — each extension silently flatters round-over-round
    # totals and now measurably COSTS time.
    try:
        # streaming-machinery warm-up (~5 s of one-time micro-batch /
        # state-store / checkpoint init otherwise billed to the first
        # streaming query): one tiny stateful availableNow replay
        import uuid

        from orange3_timeseries_spark.sources import read_table_stream
        from orange3_timeseries_spark.streaming.ops import (
            run_to_memory,
            stream_window_aggregation,
        )
        sdf = read_table_stream(spark, "/root/testdata/sf0.001", "events")
        agg = stream_window_aggregation(
            sdf, "ts", [("value", "mean")], "1 hour", watermark="1 hour")
        run_to_memory(agg, "warmup_" + uuid.uuid4().hex[:8],
                      output_mode="complete", state_partitions=2)
    except Exception as e:
        warmup_failed("streaming", e)

    qs = entrymod.queries()

    # ---- container-drift probe: a FIXED set of cheap, plan-stable
    # queries timed with warm repetitions immediately before and after
    # the main loop.  Per-round carried-query ratios compound ~1.2x of
    # pure environment drift per round (r10 adjudicated 1.179, r11
    # 1.23) — normalizing each round's per-query times by its own
    # probe median separates real plan regressions from container
    # slowdown (PLANS.md adjudication divides by probe_median_s).
    PROBES = ["sample_hash_10pct", "time_slice", "dedup_exact",
              "sliding_mean_sum", "period_days"]

    def run_probes(reps=10):
        import statistics
        meds = {}
        for pname in PROBES:
            fn = qs.get(pname)
            if fn is None:
                # record the hole LOUDLY: a silently shrunk probe set
                # would shift probe_median_s for non-environmental
                # reasons and corrupt the cross-round drift comparison
                print(f"bench: probe {pname!r} missing from the query "
                      "registry — probe set incomplete", file=sys.stderr)
                meds[pname] = None
                continue
            ts = []
            try:
                for _ in range(reps):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop") \
                        .mode("overwrite").save()
                    ts.append(time.perf_counter() - t0)
            except Exception as e:
                # a failing probe must not abort the whole bench — the
                # main loop null-tolerates failures, probes do too
                print(f"bench: probe {pname} failed: {e}",
                      file=sys.stderr)
                meds[pname] = None
                continue
            meds[pname] = round(statistics.median(ts), 4)
        return meds

    probe_pre = run_probes()

    timings = {}
    total = 0.0
    for name, fn in qs.items():
        # inter-query hygiene, BEFORE the timer starts so its cost is not
        # attributed to the query (see reset_session_state for why)
        reset_session_state(spark)
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            # noop sink forces evaluation of EVERY output column — count()
            # would let Catalyst prune the projections of map-only queries
            # and understate their cost
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        except Exception as e:  # a failing query shows as null, not a crash
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = None
            continue
        timings[name] = round(dt, 3)
        total += dt

    probe_post = run_probes()

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = None

    import statistics
    probe_vals = [v for v in (list(probe_pre.values())
                              + list(probe_post.values()))
                  if v is not None]
    # the scalar is comparable across rounds only over the FULL probe
    # set — with any probe missing/failed, null it and adjudicate from
    # the per-probe medians instead
    complete = all(v is not None for v in probe_pre.values()) and \
        all(v is not None for v in probe_post.values()) and probe_vals
    probe_median_s = (round(statistics.median(probe_vals), 4)
                      if complete else None)

    result = {
        "metric": "total_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # environment-drift normalizer: median warm-rep time of the
        # fixed probe set, run before AND after the main loop.
        # Cross-round per-query comparisons should use
        # t_q / probe_median_s, not raw seconds.
        "probe_median_s": probe_median_s,
        "probe_pre": probe_pre,
        "probe_post": probe_post,
        "warmup_failures": warmup_failures,
    }
    # Durable full artifact (committed per-round as bench_results.json);
    # the driver's stdout capture keeps only a ~2 KB tail.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_results.json")
    try:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
    except OSError as e:
        print(f"bench: could not write {out_path}: {e}", file=sys.stderr)
    # Printed line: queries first, summary fields LAST, compact separators —
    # tail-truncation eats leading per-query entries, never the totals.
    tail_ordered = {
        "queries": {k: v for k, v in timings.items()},
        "sf": sf,
        "unit": "sec",
        "metric": "total_query_wall_seconds",
        "probe_median_s": probe_median_s,
        "value": round(total, 3),
    }
    print(json.dumps(tail_ordered, separators=(",", ":")))


if __name__ == "__main__":
    main()
