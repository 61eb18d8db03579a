#!/usr/bin/env python
"""Scale smoke: time the engine's heavy operators and index lifecycles on
deterministic synthetic input, one ``family/leg`` at a time.

    SPARK_GRAFT_CPUS=8 python scripts/scale_smoke.py \\
        --legs 'bm25/*' 'lsh/*' --sizes 50000 500000

``--legs`` takes fnmatch patterns over the ``family/leg`` keys of
``FAMILIES`` (default: every leg); ``--sizes`` the input row counts ``n``
(default 500,000).  Cores come from ``$SPARK_GRAFT_CPUS``, with two
shuffle partitions per core.  Each size prints one JSON line
``{"cpus", "n", "legs": {"family/leg": seconds}}``; with two or more
sizes the log10 scaling exponent of each leg between the smallest and
the largest goes to stderr (1 = linear, 0 = size-independent).

Method: the pre-run load average goes to stderr (a loaded box inflates
the heavy legs many-fold); an unrecorded pass at n = 10,000 (or the
smallest size) runs first, so the first measured size pays no one-time
JVM/codegen warm-up; every timed run starts after
``reset_session_state``; serve, probe and live legs run once unmeasured
and report the median of three.  Inputs are generated inline from hash
expressions, so each leg's time includes generating its input.  The
lifecycle families run their legs in order over one index (build, then
append, serve, compact).  ``mprofile`` reads ten salted user copies of
the events table in ``$SPARK_GRAFT_SF_DIR`` (the bench's input) and
ignores ``n``; it is skipped when that is unset.
"""
from __future__ import annotations

import argparse
import functools
import json
import math
import os
import shutil
import sys
import tempfile
from dataclasses import dataclass
from fnmatch import fnmatchcase
from typing import Callable, Optional

import harness
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.models import garch, registry
from orange3_timeseries_spark.models.spark import auto_arima_order_by_series
from orange3_timeseries_spark.operators import (
    anomaly,
    backtest,
    classifier,
    drift,
    dtw,
    eventstats,
    incremental,
    lm,
    motif,
    multimodal,
    partitioning,
    profile,
    randomness,
    sharding,
    stattests,
)
from orange3_timeseries_spark.operators import dedup as D
from orange3_timeseries_spark.operators import retrieval as R
from orange3_timeseries_spark.operators import similarity as S
from orange3_timeseries_spark.sources import read_table

VOCAB = 100_000
DIM = 64
DELTA = 5_000
WARM_N = 10_000
EVENT_TYPES = ("signup", "view", "click", "purchase", "error")
force = harness.force


# ------------------------------------------------------------ generators
def _ids(spark, n, start, dup_rate):
    """Rows ``id`` in ``[start, start + n)`` and the content id each row
    is generated from: a planted duplicate (every ``1/dup_rate``-th id)
    copies the content of the row before it."""
    ids = spark.range(start, start + n)
    if not dup_rate:
        return ids, F.col("id"), None
    dup = (F.col("id") % round(1 / dup_rate) == 0) & (F.col("id") > start)
    return ids, F.when(dup, F.col("id") - 1).otherwise(F.col("id")), dup


def make_docs(spark, n, salt=0, start=0, dup_rate=0.0, ntok=40,
              id_col="doc_id"):
    """``ntok``-token texts over a ``VOCAB``-word vocabulary.  ``salt`` is
    a separate hash argument: an additive salt aliases into other docs'
    token streams.  Planted duplicates get a two-word tail."""
    ids, src, dup = _ids(spark, n, start, dup_rate)
    text = F.concat_ws(" ", *[
        F.concat(F.lit("w"), F.pmod(F.xxhash64(src * ntok + k, F.lit(salt)),
                                    F.lit(VOCAB)).cast("string"))
        for k in range(ntok)])
    if dup is not None:
        text = F.when(dup, F.concat(text, F.lit(" tail extra"))) \
            .otherwise(text)
    return ids.select(F.col("id").alias(id_col), text.alias("text"))


def make_vecs(spark, n, salt=0, start=0, dup_rate=0.0, id_col="vec_id"):
    """``DIM``-dimensional vectors in [-1, 1), one hash per (row, dim)."""
    ids, src, _ = _ids(spark, n, start, dup_rate)
    emb = F.array(*[
        (F.pmod(F.xxhash64(src * DIM + k, F.lit(salt)), F.lit(2000))
         .cast("double") / F.lit(1000.0)) - F.lit(1.0)
        for k in range(DIM)])
    return ids.select(F.col("id").alias(id_col), emb.alias("embedding"))


def make_events(spark, n, users, salt=0, start=0, dup_rate=0.0):
    """One event a minute round-robin over ``users`` series (series
    length ``n / users``), value in [0, 1000), five event types."""
    ids, src, _ = _ids(spark, n, start, dup_rate)
    kind = F.pmod(F.xxhash64(src, F.lit(salt), F.lit(1)), F.lit(5)) + 1
    return ids.select(
        (F.col("id") % users).alias("user_id"),
        F.timestamp_micros(F.col("id") * 60_000_000).alias("ts"),
        F.col("id").alias("event_id"),
        (F.pmod(F.xxhash64(src, F.lit(salt)), F.lit(100_000)) / 100.0)
        .alias("value"),
        F.element_at(F.array(*map(F.lit, EVENT_TYPES)), kind.cast("int"))
        .alias("event_type"))


def _queries(spark):
    """200 six-token keyword queries."""
    return make_docs(spark, 200, salt=3, ntok=6, id_col="query_id")


def _seed_books(vecs):
    """16 IVF centroids and 8 PQ codebooks of 16 words, from the 16
    lowest-id vectors."""
    seed = [[float(x) for x in r["embedding"]]
            for r in vecs.orderBy("vec_id").limit(16).collect()]
    return seed, [[v[m * 8:(m + 1) * 8] for v in seed] for m in range(8)]


# ----------------------------------------------------------------- legs
@dataclass
class Step:
    """One step of a family.  ``leg=None`` steps are untimed set-up that
    always runs; a named step is timed when ``--legs`` selects it, and
    otherwise runs untimed only if ``keeps`` (later steps read what it
    writes)."""
    leg: Optional[str]
    run: Callable[[], object]
    reps: int = 1
    keeps: bool = False


def bm25(spark, n, root):
    docs, queries = make_docs(spark, n), _queries(spark)
    delta = make_docs(spark, DELTA, salt=1, start=10_000_000)
    yield Step("build+write", lambda: R.write_bm25_index(
        R.bm25_build_index(docs), root), keeps=True)
    yield Step("append 5k", lambda: R.bm25_append_index(spark, root, delta),
               keeps=True)
    idx = R.read_bm25_index(spark, root)
    yield Step("serve 200q", lambda: force(
        R.bm25_topk_from_index(idx, queries, top_k=5)), reps=3)
    yield Step("live 200q", lambda: force(
        R.bm25_topk(docs, queries, top_k=5)), reps=3)
    yield Step("compact", lambda: R.compact_bm25_index(spark, root),
               keeps=True)
    idx2 = R.read_bm25_index(spark, root)
    yield Step("serve post-compact", lambda: force(
        R.bm25_topk_from_index(idx2, queries, top_k=5)), reps=3)


def bm25frag(spark, n, root):
    """Ingest cost (append vs merge + full rewrite) and serve cost as the
    5k-doc deltas pile up: serve at K = 0 and 8 appends, then compact."""
    docs, queries = make_docs(spark, n), _queries(spark)

    def delta(k):
        return make_docs(spark, DELTA, salt=k, start=n + (k - 1) * DELTA)

    def serve():
        force(R.bm25_topk_from_index(R.read_bm25_index(spark, root),
                                     queries, top_k=5))

    yield Step("build+write", lambda: R.write_bm25_index(
        R.bm25_build_index(docs), root), keeps=True)
    yield Step("serve K=0", serve, reps=3)
    yield Step("merge+rewrite 5k", lambda: R.write_bm25_index(
        R.bm25_merge_index(R.read_bm25_index(spark, root), delta(1)), root),
        keeps=True)
    yield Step("append 5k", lambda: R.bm25_append_index(
        spark, root, delta(2)), keeps=True)
    for k in range(3, 10):
        yield Step(None, functools.partial(R.bm25_append_index, spark, root,
                                           delta(k)))
    yield Step("serve K=8", serve, reps=3)
    yield Step("compact", lambda: R.compact_bm25_index(spark, root),
               keeps=True)
    yield Step("serve post-compact", serve, reps=3)


def lsh(spark, n, root):
    docs = make_docs(spark, n)
    # 2k fresh docs plus 40 exact copies of indexed ones
    probe = make_docs(spark, 2_000, salt=5, start=20_000_000).unionByName(
        make_docs(spark, 40).select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"), "text"))
    delta = make_docs(spark, DELTA, salt=1, start=10_000_000)
    yield Step("build+write", lambda: D.write_lsh_index(
        D.lsh_build_index(docs), root), keeps=True)
    yield Step("append 5k", lambda: D.lsh_append_index(spark, root, delta),
               keeps=True)
    idx = D.read_lsh_index(spark, root)
    yield Step("probe 2k", lambda: force(D.lsh_probe_index(idx, probe)),
               reps=3)
    yield Step("live probe 2k", lambda: force(D.minhash_lsh_pairs_between(
        probe, docs, "text", "doc_id")), reps=3)
    yield Step("compact", lambda: D.compact_lsh_index(spark, root),
               keeps=True)
    idx2 = D.read_lsh_index(spark, root)
    yield Step("probe post-compact",
               lambda: force(D.lsh_probe_index(idx2, probe)), reps=3)


def ivfpq(spark, n, root):
    vecs = make_vecs(spark, n)
    queries = make_vecs(spark, 10, salt=9, start=40_000_000,
                        id_col="query_id")
    delta = make_vecs(spark, DELTA, salt=1, start=10_000_000)
    cents, books = _seed_books(vecs)
    yield Step("build+write", lambda: S.write_ivfpq_index(
        S.ivfpq_build_index(vecs, cents, books), root), keeps=True)
    yield Step("append 5k", lambda: S.ivfpq_append_index(spark, root, delta),
               keeps=True)
    idx = S.read_ivfpq_index(spark, root)
    yield Step("serve 10q", lambda: force(S.ivfpq_topk_from_index(
        idx, queries, k=5, nprobe=4)), reps=3)
    yield Step("live 10q", lambda: force(S.ivfpq_topk(
        vecs, queries, books, k=5, centroids=cents)), reps=3)
    yield Step("compact", lambda: S.compact_ivfpq_index(spark, root),
               keeps=True)
    idx2 = S.read_ivfpq_index(spark, root)
    yield Step("serve post-compact", lambda: force(S.ivfpq_topk_from_index(
        idx2, queries, k=5, nprobe=4)), reps=3)


def pq(spark, n, root):
    vecs = make_vecs(spark, n)
    queries = make_vecs(spark, 10, salt=9, start=40_000_000,
                        id_col="query_id")
    _, books = _seed_books(vecs)
    yield Step("build+write", lambda: S.write_pq_index(
        S.pq_build_index(vecs, codebooks=books), root), keeps=True)
    idx = S.read_pq_index(spark, root)
    yield Step("serve 10q", lambda: force(S.pq_topk_from_index(
        idx, queries, k=5)), reps=3)
    yield Step("live 10q", lambda: force(S.pq_topk(vecs, queries, books,
                                                    k=5)), reps=3)


def simhash(spark, n, root):
    docs = make_docs(spark, n)
    probe = make_docs(spark, 2_000, salt=5, start=20_000_000)
    yield Step("signatures", lambda: force(D.simhash_signatures(
        docs, "text", "doc_id", bits=48)), reps=3)
    yield Step("build+write", lambda: D.write_simhash_index(
        D.simhash_build_index(docs, bits=48), root), keeps=True)
    idx = D.read_simhash_index(spark, root)
    yield Step("probe 2k", lambda: force(D.simhash_probe_index(idx, probe)),
               reps=3)


def mprofile(spark, n, root):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if sf_dir is None:
        print("scale_smoke: mprofile/* skipped: set SPARK_GRAFT_SF_DIR to "
              "the sf0.1 testdata directory", file=sys.stderr)
        return
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    tenx = functools.reduce(DataFrame.unionByName, [
        ev.select((F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                  "ts", "value") for i in range(10)])
    yield Step("10x sf0.1 events", lambda: force(motif.matrix_profile(
        tenx, "ts", "value", ["user_id"], m=8)), reps=3)


def docs(spark, n, root):
    d = make_docs(spark, n, dup_rate=0.02)
    yield Step("substring_pairs", lambda: force(D.substring_pairs(
        d, "text", "doc_id", gram_len=24, min_len=48)))
    yield Step("minhash_lsh_pairs", lambda: force(D.minhash_lsh_pairs(
        d, "text", "doc_id")))
    yield Step("ngram_novelty", lambda: force(D.ngram_novelty(
        d, "text", "doc_id", n=3)))
    yield Step("paragraph_dedup", lambda: force(D.paragraph_dedup(
        d, "text", "doc_id")))
    yield Step("bigram_perplexity", lambda: force(lm.bigram_perplexity(
        d, "doc_id", "text")))
    yield Step("balanced_shards", lambda: force(sharding.balanced_shards(
        d.withColumn("n_tokens", (F.length("text") / 4).cast("int")),
        "doc_id", "n_tokens", 64)))
    sizes = d.select("doc_id", F.length("text").alias("n_chars"), (
        F.col("doc_id") % max(20, n // 5000)).cast("string").alias("source"))
    yield Step("compaction_plan", lambda: force(sharding.compaction_plan(
        sizes, "doc_id", "n_chars", ["source"], 64_000_000)))


def images(spark, n, root):
    base = spark.range(n).select(F.col("id").alias("doc_id"),
                                 (F.col("id") % 211).alias("n_chars"))
    imgs = multimodal.synthesize_image_column(base, "doc_id", "n_chars")
    yield Step("neardup_pairs", lambda: force(multimodal.image_neardup_pairs(
        imgs, "image", "doc_id", max_hamming=3)))


def vectors(spark, n, root):
    v = make_vecs(spark, n, dup_rate=0.02)
    # clusters grow with the corpus (~3000 vectors each): flat assignment
    # is then n*k*d, quadratic in n; two-level routing is the fix
    k = max(16, n // 3000)
    cents = S.train_ivf_centroids(v, "embedding", k, id_col="vec_id")
    for leg, two_level in (("semdedup_flat", False),
                           ("semdedup_two_level", True)):
        yield Step(leg, lambda t=two_level: force(S.semantic_dedup_flags(
            v, n_centroids=k, tau=0.9, centroids=cents,
            two_level_assign=t)))
    # kcenter runs its selection jobs inside the call
    yield Step("kcenter k8", lambda: S.kcenter_select(
        v, "embedding", "vec_id", k=8).collect())
    yield Step("kcenter k4 sample", lambda: S.kcenter_select(
        v, "embedding", "vec_id", k=4, sample=0.1).count())
    yield Step("jl_project", lambda: force(S.jl_project(v)))
    yield Step("jl_project gemm", lambda: force(S.jl_project(
        v, "embedding", ["vec_id"], out_dim=8, engine="gemm")))


def _dtw_dow_profiles(ev):
    """DTW distance of each user's day-of-week profile (fixed-point mean
    value per weekday) to the elementwise-min profile."""
    dow = (((F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)) + 3)
            % 7) + 7) % 7
    cents = F.round(F.col("value") * 100).cast("bigint")
    up = (ev.select("user_id", dow.alias("d"), cents.alias("c"))
          .groupBy("user_id", "d")
          .agg(F.floor(F.sum("c") * 10000 / F.count(F.lit(1)))
               .cast("bigint").alias("su")))

    # the sorted (day, value) pairs' values: one 7-element profile array
    profile = F.transform(F.array_sort(F.collect_list(F.struct("d", "su"))),
                          lambda s: s["su"])
    ua = (up.groupBy("user_id").agg(profile.alias("a"),
                                    F.count(F.lit(1)).alias("k"))
          .where(F.col("k") == 7))
    ga = up.groupBy("d").agg(F.min("su").alias("su")).agg(profile.alias("g"))
    return ua.crossJoin(F.broadcast(ga)).select(
        "user_id", dtw.dtw_units_expr(F.col("a"), F.col("g"), 7).alias("dtw"))


def events(spark, n, root):
    def ev(per_series):
        return make_events(spark, n, max(1, n // per_series))
    cols = ("ts", "value", ["user_id"])
    # the series-model and randomness tests, 60 and 500 obs per series
    for leg, fn, per in (
            ("adf_test", stattests.adf_test, 60),
            ("kpss_test", stattests.kpss_test, 60),
            ("ljung_box", stattests.ljung_box, 60),
            ("runs_test", randomness.runs_test, 500),
            ("variance_ratio", randomness.variance_ratio, 500),
            ("hac_mean", randomness.hac_mean, 500),
            ("permutation_entropy", randomness.permutation_entropy, 500),
            ("page_hinkley", drift.page_hinkley, 500),
            ("garch_grid", garch.garch_grid, 500)):
        yield Step(leg, lambda fn=fn, per=per: force(fn(ev(per), *cols)))
    yield Step("auto_arima_order", lambda: force(auto_arima_order_by_series(
        TimeSeriesFrame(ev(60), time_col="ts", series_cols=["user_id"]),
        "value")))
    psi = make_events(spark, n, 100)
    yield Step("psi_drift", lambda: force(drift.psi_drift(
        psi.where(F.col("event_id") % 2 == 0),
        psi.where(F.col("event_id") % 2 == 1), "value")))
    wide = make_events(spark, n, max(150, n // 2000))
    yield Step("ks_drift", lambda: force(drift.ks_drift(
        wide.where(F.col("event_id") % 2 == 0),
        wide.where(F.col("event_id") % 2 == 1), "value", ["event_type"])))
    yield Step("cusum", lambda: force(anomaly.cusum(
        wide, "value", "ts", ["user_id"], tie_cols=("event_id",))))
    yield Step("rolling_origin_eval", lambda: force(
        backtest.rolling_origin_eval(wide, "value", "ts", ["user_id"],
                                     origins=(400, 800), horizon=4,
                                     season=7)))
    # ~67 events per series, the testdata's series length
    short = make_events(spark, n, max(150, n // 67))
    yield Step("ensemble_forecast", lambda: force(backtest.ensemble_forecast(
        short, "value", "ts", ["user_id"], origins=(18, 22, 26), horizon=4,
        season=7)))
    yield Step("matrix_profile", lambda: force(motif.matrix_profile(
        short, "ts", "value", ["user_id"], m=8)))
    yield Step("burstiness", lambda: force(eventstats.burstiness(
        short, "ts", ["user_id"])))
    # 50 long series: past 204,800 rows every series is over the
    # matrix profile's cap and takes the sentinel path
    yield Step("matrix_profile 50 series", lambda: force(motif.matrix_profile(
        make_events(spark, n, 50), "ts", "value", ["user_id"], m=8)))
    fixed = make_events(spark, n, 150)
    yield Step("histogram_quantiles", lambda: force(
        profile.histogram_quantiles(fixed, "value", ["event_type"],
                                    bins=256)))
    yield Step("benford_digits", lambda: force(eventstats.benford_digits(
        fixed, "value", ["event_type"])))
    yield Step("hilbert_key", lambda: force(fixed.select(
        partitioning.hilbert_key("user_id", "event_id", 16).alias("h"))))
    yield Step("dtw_dow_profiles", lambda: force(_dtw_dow_profiles(ev(500))))
    yield Step("rank_auc", lambda: force(classifier.rank_auc(
        make_events(spark, n, 20).select(
            F.col("user_id").alias("g"),
            (F.col("value") * 100).cast("long").alias("su"),
            (F.col("event_type") == "click").alias("y")),
        "su", "y", ["g"])))

    def rollup():
        e = ev(500)
        a, b = (incremental.rollup_state(e.where(F.col("user_id") % 2 == r),
                                         "ts", "value", ["user_id"])
                for r in (0, 1))
        force(incremental.serve_rollup(incremental.merge_states(a, b)))
    yield Step("incremental_rollup", rollup)
    # 30 series: 30 minutes between a series' events, inside the 1-hour
    # funnel window, so chains form
    yield Step("window_funnel", lambda: force(eventstats.window_funnel(
        make_events(spark, n, 30), "ts", "event_type", ["user_id"],
        steps=EVENT_TYPES[:4])))

    def holt():
        tsf = TimeSeriesFrame(ev(60), time_col="ts", series_cols=["user_id"])
        registry.smoothing_model_table(tsf, ["value"], family="holt") \
            .write.mode("overwrite").parquet(root)
        force(registry.forecast_from_smoothing_table(
            spark.read.parquet(root), steps=5))
    yield Step("holt_registry fit+write+serve", holt)


FAMILIES = {f.__name__: f for f in (
    bm25, bm25frag, lsh, ivfpq, pq, simhash, mprofile,
    docs, images, vectors, events)}


def run_family(spark, family, n, patterns, out):
    """Run ``family`` at size ``n``, recording the seconds of every leg
    ``patterns`` selects into ``out``."""
    base = tempfile.mkdtemp(prefix=f"scale_smoke_{family}_")
    try:
        for step in FAMILIES[family](spark, n, os.path.join(base, "index")):
            key = f"{family}/{step.leg}"
            if step.leg and any(fnmatchcase(key, p) for p in patterns):
                out[key] = harness.timed(spark, step.run, step.reps)
                print(f"  {family:9s} {step.leg:30s} n={n:<9,} "
                      f"{out[key]:8.2f}s", file=sys.stderr, flush=True)
            elif step.leg is None or step.keeps:
                step.run()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--legs", nargs="+", default=["*"],
                    help="fnmatch patterns over family/leg keys")
    ap.add_argument("--sizes", nargs="+", type=int, default=[500_000],
                    help="input rows n per leg")
    args = ap.parse_args(argv)
    families = [f for f in FAMILIES if any(
        fnmatchcase(f, p.split("/")[0]) for p in args.legs)]
    print(f"pre-run 1-min load: {os.getloadavg()[0]:.2f}", file=sys.stderr)
    spark = harness.start_session("scale_smoke", partitions_per_core=2)
    for family in families:
        run_family(spark, family, min(WARM_N, *args.sizes), args.legs, {})
    runs = {}
    for n in args.sizes:
        runs[n] = {}
        for family in families:
            run_family(spark, family, n, args.legs, runs[n])
        print(json.dumps({"cpus": harness.cpus(), "n": n, "legs": {
            k: round(t, 2) for k, t in runs[n].items()}}), flush=True)
    lo, hi = min(args.sizes), max(args.sizes)
    if hi > lo:
        for key, t in runs[lo].items():
            print(f"  {key:40s} exponent "
                  f"{math.log10(runs[hi][key] / t) / math.log10(hi / lo):+.2f}",
                  file=sys.stderr)


if __name__ == "__main__":
    main()
