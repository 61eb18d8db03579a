"""Property-based tests (hypothesis): the window-agg registry against
pandas rolling equivalents on arbitrary data incl. NaNs/empty windows, and
algebraic invariants of the dedup tier.

The reference's tests are golden-vector only (SURVEY §5); these add the
randomized layer that catches NaN-rule drift the goldens miss.
"""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.operators.moving_transform import (
    KEEP_COMPLETE,
    sliding_window,
)

NAN = float("nan")

values = st.lists(
    st.one_of(st.floats(min_value=-100, max_value=100,
                        allow_nan=False, allow_infinity=False),
              st.just(float("nan"))),
    min_size=5, max_size=40)


def _spark_sliding(spark, xs, aggs, w):
    df = spark.createDataFrame(
        [(i, None if (isinstance(v, float) and math.isnan(v)) else v)
         for i, v in enumerate(xs)], "t long, x double")
    tsf = TimeSeriesFrame(df, time_col=None).with_row_index(["t"])
    out = sliding_window(tsf, {"x": aggs}, w, keep=KEEP_COMPLETE)
    pdf = out.df.toPandas().sort_values("t")
    return {a: pdf[f"x ({a})"].to_numpy(dtype=float) for a in aggs}


def _window_std(xs, w):
    """Population std of each complete window's non-NaN values, computed
    from scratch per window (NaN when the window holds none)."""
    arr = np.array(xs, dtype=float)
    out = []
    for i in range(w - 1, len(arr)):
        win = arr[i - w + 1: i + 1]
        win = win[~np.isnan(win)]
        out.append(np.std(win) if len(win) else np.nan)
    return np.array(out)


class TestSlidingVsPandas:
    @settings(max_examples=10, deadline=None)
    @given(xs=values, w=st.integers(min_value=1, max_value=6))
    # pandas' online rolling std keeps ~1e-6 of residue here after the
    # +-99 values leave the window; the true std of the last window is ~0
    @example(xs=[99.0, 0.5, 0.0, 0.0, -21.965145566104454, 0.0, NAN, NAN,
                 -1e-05, NAN, -99.0, 0.0, 0.0, NAN, 1.401298464324817e-45,
                 NAN, NAN], w=6)
    def test_mean_sum_min_max_std(self, spark, xs, w):
        w = min(w, len(xs))
        got = _spark_sliding(spark, xs, ["mean", "sum", "min", "max",
                                         "std", "defined"], w)
        s = pd.Series(xs)
        r = s.rolling(w, min_periods=1)
        tail = slice(w - 1, None)
        exp = {
            "mean": r.mean().to_numpy()[tail],
            "sum": np.nan_to_num(r.sum().to_numpy()[tail], nan=0.0),
            "min": r.min().to_numpy()[tail],
            "max": r.max().to_numpy()[tail],
            # pandas' rolling std adds and removes values online, so large
            # values that left the window leave cancellation residue; the
            # reference recomputes each window's std from its own values
            "std": _window_std(xs, w),
            "defined": r.count().to_numpy()[tail],
        }
        # pandas rolling sum of all-NaN window is NaN; kernel says 0
        # (np.nansum semantics) — normalized above
        for agg, e in exp.items():
            g = got[agg]
            assert len(g) == len(e)
            # std: Spark's streaming variance and the per-window reference
            # may differ by O(1e-9) absolute on near-zero-variance windows
            # (catastrophic cancellation); compare at 1e-6 there
            atol = 1e-6 if agg == "std" else 1e-9
            np.testing.assert_allclose(g, e, rtol=1e-9, atol=atol,
                                       equal_nan=True, err_msg=agg)

    @settings(max_examples=8, deadline=None)
    @given(xs=values, w=st.integers(min_value=1, max_value=5))
    def test_median_matches_numpy(self, spark, xs, w):
        w = min(w, len(xs))
        got = _spark_sliding(spark, xs, ["median"], w)["median"]
        arr = np.array(xs, dtype=float)
        exp = []
        for i in range(w - 1, len(arr)):
            win = arr[i - w + 1: i + 1]
            win = win[~np.isnan(win)]
            exp.append(np.median(win) if len(win) else np.nan)
        np.testing.assert_allclose(got, np.array(exp), rtol=1e-9,
                                   atol=1e-9, equal_nan=True)


docs = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=60),
    min_size=2, max_size=12)


class TestDedupInvariants:
    @settings(max_examples=6, deadline=None)
    @given(texts=docs)
    def test_lsh_pairs_subset_of_exact(self, spark, texts):
        """Every LSH-verified pair must appear in the exact Jaccard join
        with the SAME similarity (LSH may miss pairs, never invent)."""
        from orange3_timeseries_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        exact = {(r.id_a, r.id_b): round(r.jaccard, 9)
                 for r in ngram_jaccard_pairs(
                     df, "text", "doc_id", n=2, threshold=0.1).collect()}
        lsh = {(r.id_a, r.id_b): round(r.jaccard, 9)
               for r in minhash_lsh_pairs(
                   df, "text", "doc_id", k=8, bands=4, n=2,
                   threshold=0.1).collect()}
        for pair, j in lsh.items():
            assert pair in exact, f"LSH invented pair {pair}"
            assert exact[pair] == pytest.approx(j, abs=1e-9)


class TestSimhashEquivalence:
    @settings(max_examples=6, deadline=None)
    @given(texts=docs)
    def test_two_stage_matches_hof_fold(self, spark, texts):
        from pyspark.sql import functions as F

        from orange3_timeseries_spark.operators.dedup import (
            simhash_expr,
            simhash_signatures,
        )
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        hof = {r.doc_id: r.s for r in df.select(
            "doc_id", simhash_expr(F.col("text")).alias("s")).collect()}
        two = {r.doc_id: r.sig for r in
               simhash_signatures(df, "text", "doc_id").collect()}
        assert hof == two


timestamps = st.lists(
    st.datetimes(min_value=pd.Timestamp("1900-01-02").to_pydatetime(),
                 max_value=pd.Timestamp("2099-12-30").to_pydatetime()),
    min_size=3, max_size=25)


class TestCalendarKeysVsPandas:
    @settings(max_examples=8, deadline=None)
    @given(ts=timestamps)
    def test_periodic_keys_match_pandas(self, spark, ts):
        """Every periodic calendar key matches pandas' dt accessors (the
        reference decodes with datetime.timetuple / isocalendar — pandas
        implements the same calendar), incl. leap years and century
        boundaries."""
        from pyspark.sql import functions as F

        from orange3_timeseries_spark.operators.aggregate import (
            period_key_expr,
        )

        ts = [t.replace(microsecond=0) for t in ts]
        df = spark.createDataFrame([(t,) for t in ts], "t timestamp")
        out = df.select(
            "t",
            period_key_expr("Month of year", F.col("t")).alias("m"),
            period_key_expr("Week of year", F.col("t")).alias("w"),
            period_key_expr("Day of year", F.col("t")).alias("doy"),
            period_key_expr("Day of month", F.col("t")).alias("dom"),
            period_key_expr("Day of week", F.col("t")).alias("dow"),
            period_key_expr("Hour of day", F.col("t")).alias("h"),
        ).collect()
        for r in out:
            p = pd.Timestamp(r["t"])
            assert r["m"] == p.month
            assert r["w"] == p.isocalendar().week
            assert r["doy"] == p.dayofyear
            assert r["dom"] == p.day
            assert r["dow"] == p.weekday()
            assert r["h"] == p.hour


class TestJaccardVariants:
    def test_max_df_drops_stop_shingles(self, spark):
        """With max_df=1 every shared shingle is dropped -> no pairs; with
        a high cap results equal the unrestricted join."""
        from orange3_timeseries_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )
        texts = ["the cat sat on the mat today",
                 "the cat sat on the mat tonight",
                 "a completely different sentence here now ok"]
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        full = ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                   threshold=0.1).collect()
        assert {(r.id_a, r.id_b) for r in full} == {(0, 1)}
        capped = ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                     threshold=0.1, max_df=1).collect()
        assert capped == []
        loose = ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                    threshold=0.1, max_df=100).collect()
        assert {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in loose} \
            == {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in full}

    def test_prefix_filter_orders_match_count_join(self, spark):
        """PPJoin exactness: the 'hash' and 'df' prefix-filtered plans
        return the identical pair set + jaccard values as the exhaustive
        count-join, at a low and a high threshold."""
        from orange3_timeseries_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )
        texts = ["the quick brown fox jumps over the lazy dog tonight",
                 "the quick brown fox jumps over the lazy cat tonight",
                 "a completely different sentence with other words here",
                 "a completely different sentence with other words too",
                 "the quick brown fox jumps over the lazy dog tonight ok",
                 "unrelated text about spark catalyst optimizer plans"]
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")

        def canon(order, t):
            got = ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                      threshold=t, order=order).collect()
            return sorted((r.id_a, r.id_b, round(r.jaccard, 9))
                          for r in got)

        for t in (0.1, 0.6):
            base = canon("count", t)
            assert base, f"expected pairs at t={t}"
            assert canon("hash", t) == base
            assert canon("df", t) == base

    def test_block_col_restricts_pairs(self, spark):
        from orange3_timeseries_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )
        rows = [(0, "alpha beta gamma delta", "x"),
                (1, "alpha beta gamma delta", "x"),
                (2, "alpha beta gamma delta", "y")]
        df = spark.createDataFrame(rows, "doc_id long, text string, shard string")
        pairs = ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                    threshold=0.5,
                                    block_col="shard").collect()
        # identical docs 0-2 and 1-2 are in different shards -> only (0,1)
        assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}
        assert pairs[0].jaccard == 1.0


class TestBlocksAndDiffVsNumpy:
    @settings(max_examples=6, deadline=None)
    @given(xs=values, w=st.integers(min_value=2, max_value=6))
    def test_tumbling_blocks_match_numpy(self, spark, xs, w):
        from orange3_timeseries_spark.operators.moving_transform import (
            DISCARD,
            sequential_blocks,
        )
        df = spark.createDataFrame(
            [(i, None if (isinstance(v, float) and math.isnan(v)) else v)
             for i, v in enumerate(xs)], "t long, x double")
        tsf = TimeSeriesFrame(df, time_col=None).with_row_index(["t"])
        out = sequential_blocks(tsf, [("x", "mean")], w, keep=DISCARD)
        got = np.sort(out.df.toPandas()["x (mean)"]
                      .to_numpy(dtype=float))
        arr = np.array(xs, dtype=float)
        nb = len(arr) // w
        exp = []
        for b in range(nb):
            win = arr[b * w:(b + 1) * w]
            d = win[~np.isnan(win)]
            exp.append(np.nanmean(win) if len(d) else np.nan)
        assert len(got) == nb
        np.testing.assert_allclose(got, np.sort(exp), rtol=1e-9,
                                   atol=1e-9, equal_nan=True)

    @settings(max_examples=6, deadline=None)
    @given(xs=values, k=st.integers(min_value=1, max_value=3))
    def test_difference_matches_numpy(self, spark, xs, k):
        from orange3_timeseries_spark.operators.difference import difference
        df = spark.createDataFrame(
            [(i, None if (isinstance(v, float) and math.isnan(v)) else v)
             for i, v in enumerate(xs)], "t long, x double")
        tsf = TimeSeriesFrame(df, time_col=None).with_row_index(["t"])
        name = "Δx" + (f":{k}" if k != 1 else "")
        got = difference(tsf, ["x"], op="diff", shift=k).df.toPandas() \
            .sort_values("t")[name].to_numpy(dtype=float)
        arr = np.array(xs, dtype=float)
        exp = np.full(len(arr), np.nan)
        exp[k:] = arr[k:] - arr[:-k]
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-9,
                                   equal_nan=True)


class TestDedupClusters:
    def test_connected_components(self, spark):
        from orange3_timeseries_spark.operators.dedup import dedup_clusters
        docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (4, 5), (6, 7), (5, 7)], "id_a long, id_b long")
        out = dedup_clusters(docs, pairs, "doc_id").orderBy("doc_id")
        got = [(r.doc_id, r.cluster_id) for r in out.collect()]
        assert got == [(0, 0), (1, 0), (2, 0), (3, 3),
                       (4, 4), (5, 4), (6, 4), (7, 4)]

    @settings(max_examples=5, deadline=None)
    @given(edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
            lambda e: e[0] < e[1]), max_size=12))
    def test_matches_union_find(self, spark, edges):
        from orange3_timeseries_spark.operators.dedup import dedup_clusters
        n = 12
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) for i in range(n)}

        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(
            list(set(edges)) or [(0, 0)], "id_a long, id_b long")
        got = {r.doc_id: r.cluster_id
               for r in dedup_clusters(docs, pairs, "doc_id").collect()}
        assert got == expected


class TestSmallHelpers:
    def test_exact_dedup_filter_keeps_min_id(self, spark):
        from orange3_timeseries_spark.operators.dedup import (
            exact_dedup_filter,
        )
        rows = [(0, "x"), (1, "y"), (2, "x"), (3, "x"), (4, "z")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = sorted(r.doc_id for r in
                      exact_dedup_filter(df, "text", "doc_id").collect())
        assert kept == [0, 1, 4]

    def test_playback_slices_calendar_stepping(self):
        import datetime as dt

        from orange3_timeseries_spark.operators.timeslice import slices

        # monthly-width playback over a quarter: clamped month arithmetic
        out = list(slices(dt.datetime(2024, 1, 31), dt.datetime(2024, 4, 15),
                          (1, "month")))
        assert out[0] == (dt.datetime(2024, 1, 31), dt.datetime(2024, 2, 29))
        assert all(lo < hi for lo, hi in out)
        assert out[-1][0] < dt.datetime(2024, 4, 15)

    def test_playback_slices_numeric(self):
        import datetime as dt

        from orange3_timeseries_spark.operators.timeslice import slices

        out = list(slices(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
                          3600.0, step_delta=7200.0))
        # width 1h stepping 2h across a day -> 12 windows
        assert len(out) == 12
        assert out[1][0] == dt.datetime(2024, 1, 1, 2)
        assert out[1][1] == dt.datetime(2024, 1, 1, 3)


class TestTimeLiteral:
    def test_date_column_gets_date_literal_and_pushdown(self, spark,
                                                        tmp_path):
        """Against a DATE-typed time column, date (and midnight-datetime)
        bounds compare as DATE — the filter reaches the parquet scan —
        while a mid-day datetime bound keeps timestamp comparison
        semantics (no truncation)."""
        import datetime as dt

        from pyspark.sql import functions as F

        from orange3_timeseries_spark.operators.timeslice import time_slice
        from orange3_timeseries_spark.timeutil import time_literal

        rows = [(dt.date(2024, 1, 1) + dt.timedelta(days=i), float(i))
                for i in range(10)]
        p = str(tmp_path / "d.parquet")
        spark.createDataFrame(rows, "d date, v double") \
            .write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        tsf = TimeSeriesFrame(df, time_col="d")
        out = time_slice(tsf, dt.date(2024, 1, 3), dt.date(2024, 1, 6))
        assert sorted(r.v for r in out.df.collect()) == [2.0, 3.0, 4.0]
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "GreaterThanOrEqual(d" in plan
        # midnight datetime bounds behave identically
        out2 = time_slice(tsf, dt.datetime(2024, 1, 3),
                          dt.datetime(2024, 1, 6))
        assert sorted(r.v for r in out2.df.collect()) == [2.0, 3.0, 4.0]
        # a mid-day upper bound must NOT truncate to date
        out3 = df.where(F.col("d") < time_literal(
            dt.datetime(2024, 1, 6, 12), "date"))
        assert sorted(r.v for r in out3.collect())[-1] == 5.0


class TestSketchAndShardProperties:
    """Hypothesis invariants for the round-4 sketch/shard/sample tier."""

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                    min_size=1, max_size=60, unique=True),
           st.integers(min_value=2, max_value=8))
    def test_hash_shards_partition_of_input(self, spark, keys, n):
        from orange3_timeseries_spark.operators.sharding import hash_shards

        df = spark.createDataFrame([(k,) for k in keys], ["k"])
        out = hash_shards(df, "k", n).collect()
        # exactly a partition: every key appears once with a valid shard
        assert sorted(r.k for r in out) == sorted(keys)
        assert all(0 <= r.shard < n for r in out)
        # positions dense per shard
        per = {}
        for r in out:
            per.setdefault(r.shard, []).append(r.pos)
        for poss in per.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=10 ** 6),
                    min_size=1, max_size=80, unique=True))
    def test_hll_union_bound(self, spark, ids):
        """HLL registers of A∪A equal A's; union with disjoint B only
        raises register values (monotone merge)."""
        from orange3_timeseries_spark.operators.sketch import (
            hll_merge,
            hll_registers,
        )

        a = spark.createDataFrame([(f"a{i}",) for i in ids], ["k"])
        b = spark.createDataFrame([(f"b{i}",) for i in ids], ["k"])
        ra = {r.reg: r.max_rho
              for r in hll_registers(a, "k", p=6).collect()}
        dup = {r.reg: r.max_rho
               for r in hll_merge(hll_registers(a, "k", p=6),
                                  hll_registers(a, "k", p=6),
                                  p=6).collect()}
        assert dup == ra  # idempotent under self-merge
        un = {r.reg: r.max_rho
              for r in hll_merge(hll_registers(a, "k", p=6),
                                 hll_registers(b, "k", p=6),
                                 p=6).collect()}
        for reg, rho in ra.items():
            assert un.get(reg, 0) >= rho  # monotone

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.text(alphabet="xyz", min_size=1, max_size=5),
                    min_size=1, max_size=50),
           st.integers(min_value=16, max_value=64))
    def test_cms_dominates_exact(self, spark, keys, width):
        from collections import Counter

        from orange3_timeseries_spark.operators.sketch import (
            cms_estimate,
            cms_tables,
        )

        df = spark.createDataFrame([(k,) for k in keys], ["t"])
        tab = cms_tables(df, "t", width=width, depth=3)
        probes = spark.createDataFrame(
            [(k,) for k in set(keys)], ["t"])
        est = {r.t: r.cms_count
               for r in cms_estimate(tab, probes, "t", width=width,
                                     depth=3).collect()}
        exact = Counter(keys)
        for k, n in exact.items():
            assert est[k] >= n
            assert est[k] <= len(keys)  # never above total mass

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 10 ** 6),
                              st.integers(1, 50)),
                    min_size=2, max_size=60,
                    unique_by=lambda t: t[0]),
           st.floats(min_value=0.01, max_value=0.5))
    def test_bloom_no_false_negatives_property(self, spark, items, fp):
        from orange3_timeseries_spark.operators.bloom import (
            bloom_membership,
            bloom_params,
        )

        df = spark.createDataFrame([(i, f"k{i}") for i, _ in items],
                                   ["id", "key"])
        m, k = bloom_params(len(items), fp)
        out = bloom_membership(df, "id", "key", df, "key", m, k).collect()
        assert all(r.maybe_member for r in out)  # members always flag


class TestMinhashHashFamilies:
    def test_families_agree_on_planted_dups(self, spark):
        """Exact duplicates collide in EVERY hash family; the xxhash64
        production path must find the same planted pairs as the
        md5-portable default (near-dup candidates may differ — collision
        classes are family-specific — but verified Jaccard >= t pairs of
        identical texts cannot)."""
        from orange3_timeseries_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [(i, f"{base} unique{i} filler{i}") for i in range(20)]
        rows += [(100 + i, rows[i][1]) for i in range(5)]  # exact dups
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        planted = {(i, 100 + i) for i in range(5)}
        for fam in ("md5", "xxhash64"):
            got = {(r.id_a, r.id_b)
                   for r in minhash_lsh_pairs(df, "text", "doc_id",
                                              threshold=0.99,
                                              hash_family=fam).collect()}
            assert planted <= got, fam


class TestCodecRoundtripProperties:
    """Hypothesis fuzz: the lossless codecs must round-trip ANY valid
    raster/clip/frame stack bit-exactly."""

    @settings(max_examples=15, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40),
           st.sampled_from([1, 2, 3, 4]), st.integers(0, 2**32 - 1))
    def test_png_roundtrip(self, w, h, c, seed):
        import numpy as np

        from orange3_timeseries_spark.operators._png import (
            decode_png,
            encode_png,
        )
        px = np.random.RandomState(seed).randint(
            0, 256, size=(h, w, c), dtype=np.uint8)
        meta, back = decode_png(encode_png(px))
        assert np.array_equal(back, px)
        assert (meta["width"], meta["height"], meta["channels"]) \
            == (w, h, c)

    @settings(max_examples=12, deadline=None)
    @given(st.integers(1, 4), st.integers(1, 24), st.integers(1, 24),
           st.sampled_from([2, 4, 16, 256]), st.integers(0, 2**32 - 1))
    def test_gif_roundtrip(self, nf, h, w, pal_n, seed):
        import numpy as np

        from orange3_timeseries_spark.operators._gif import (
            decode_gif,
            encode_gif,
        )
        rng = np.random.RandomState(seed)
        pal = rng.randint(0, 256, size=(pal_n, 3), dtype=np.uint8)
        frames = rng.randint(0, pal_n, size=(nf, h, w), dtype=np.uint8)
        meta, back = decode_gif(encode_gif(frames, pal))
        assert meta["n_frames"] == nf
        assert np.array_equal(back, pal[frames])

    @settings(max_examples=12, deadline=None)
    @given(st.integers(1, 500), st.sampled_from([1, 2, 3]),
           st.sampled_from([8000, 16000, 44100]),
           st.integers(0, 2**32 - 1))
    def test_wav_roundtrip(self, n, ch, rate, seed):
        import numpy as np

        from orange3_timeseries_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )
        rng = np.random.RandomState(seed)
        s = rng.randint(-32768, 32768, size=(n, ch)).astype(np.int16)
        if ch == 1:
            s = s[:, 0]
        meta, back = decode_wav(encode_wav(s, rate))
        assert meta["sample_rate"] == rate
        assert np.array_equal(
            back.astype(np.int16).reshape(-1),
            np.asarray(s).reshape(-1))

    @settings(max_examples=10, deadline=None)
    @given(words=st.lists(st.text(alphabet="abcxyz", min_size=1,
                                  max_size=8),
                          min_size=1, max_size=12),
           n_merges=st.integers(1, 6))
    def test_bpe_operator_matches_greedy_reference(self, spark, words,
                                                   n_merges):
        from pyspark.sql import functions as F

        from orange3_timeseries_spark.operators.bpe import (
            bpe_doc_token_counts,
            train_bpe,
        )
        from tests.test_bpe import _ref_encode

        text = " ".join(words)
        df = spark.createDataFrame([(1, text)],
                                   "doc_id long, text string")
        merges = train_bpe(df, "text", n_merges=n_merges)
        [r] = bpe_doc_token_counts(df, "doc_id", "text",
                                   merges).collect()
        want = sum(len(_ref_encode(w, merges)) for w in words)
        assert r.n_tokens == want


class TestRound6Properties:
    @settings(max_examples=8, deadline=None)
    @given(n_words=st.integers(1, 60), size=st.integers(2, 16),
           overlap=st.integers(0, 8))
    def test_chunking_reconstructs_tokens(self, spark, n_words, size,
                                          overlap):
        """Every token appears in >= 1 chunk; de-overlapped
        concatenation reconstructs the document exactly."""
        from orange3_timeseries_spark.operators.chunking import (
            chunk_documents,
        )
        if overlap >= size:
            overlap = size - 1
        words = [f"w{i}" for i in range(n_words)]
        df = spark.createDataFrame([(1, " ".join(words))],
                                   "doc_id long, text string")
        out = sorted(chunk_documents(df, "doc_id", "text", size=size,
                                     overlap=overlap).collect(),
                     key=lambda r: r.chunk_id)
        rebuilt = []
        for r in out:
            toks = r.chunk_text.split(" ")
            start = 0 if r.chunk_id == 0 else \
                len(rebuilt) - r.chunk_start
            rebuilt.extend(toks[start:])
        assert rebuilt == words

    @settings(max_examples=6, deadline=None)
    @given(vals=st.lists(st.floats(-1e3, 1e3), min_size=12,
                         max_size=60),
           lo=st.floats(0.0, 0.3), hi=st.floats(0.7, 1.0))
    def test_winsorize_bounds_and_order(self, spark, vals, lo, hi):
        """Winsorized values stay inside the data range, clamping is
        monotone (order-preserving), and unclamped rows are
        untouched."""
        from orange3_timeseries_spark.operators.stattests import (
            winsorize,
        )
        df = spark.createDataFrame(
            [(0, i, float(v)) for i, v in enumerate(vals)],
            "user_id int, t int, v double")
        out = winsorize(df, "v", ["user_id"], lower=lo,
                        upper=hi).collect()
        mn, mx = min(vals), max(vals)
        for r in out:
            assert mn <= r.v_winsorized <= mx
            if not r.v_clamped:
                assert r.v_winsorized == r.v
        pairs = sorted((r.v, r.v_winsorized) for r in out)
        ws = [w for _, w in pairs]
        assert ws == sorted(ws)  # monotone in the original value

    @settings(max_examples=5, deadline=None)
    @given(vals=st.lists(st.floats(-50, 50), min_size=50, max_size=200))
    def test_psi_self_comparison_is_zero(self, spark, vals):
        """PSI of a distribution against itself is exactly 0 (every
        bucket share matches)."""
        from orange3_timeseries_spark.operators.drift import psi_drift

        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "v double")
        out = psi_drift(df, df, "v").collect()
        assert all(abs(r.psi) < 1e-12 for r in out)

    @settings(max_examples=5, deadline=None)
    @given(seed=st.integers(0, 1000))
    def test_adf_matches_numpy_on_random_series(self, spark, seed):
        import numpy as np

        from orange3_timeseries_spark.operators.stattests import adf_test
        from tests.test_stattests import _numpy_adf

        rng = np.random.RandomState(seed)
        y = np.cumsum(rng.standard_normal(60)) \
            if seed % 2 else rng.standard_normal(60)
        df = spark.createDataFrame(
            [(0, t, float(y[t])) for t in range(60)],
            "user_id int, t int, v double")
        [r] = adf_test(df, "t", "v", ["user_id"]).collect()
        beta, tau, n = _numpy_adf(y)
        assert r.n_obs == n
        assert abs(r.tau - tau) < 1e-3


class TestCusumPrefixIdentity:
    """The closed prefix form s_t = P_t - min(0, min_{j<=t} P_j) used by
    operators/anomaly.cusum must equal the textbook recursion
    max(0, s + a) for ANY float sequence (up to accumulation noise)."""

    @given(xs=st.lists(st.floats(min_value=-50, max_value=50,
                                 allow_nan=False), min_size=1,
                       max_size=200),
           k=st.floats(min_value=0.0, max_value=2.0))
    @settings(max_examples=200, deadline=None)
    def test_identity(self, xs, k):
        s = 0.0
        p = 0.0
        m = 0.0
        for x in xs:
            a = x - k
            s = max(0.0, s + a)
            p = p + a
            m = min(m, p)
            closed = p - min(0.0, m)
            assert abs(closed - s) <= 1e-9 * max(1.0, abs(s), abs(p))


class TestLowerMedianVsNumpy:
    """_lower_median's (n+1)//2 element must equal numpy's 50th
    percentile with the 'lower' interpolation on sorted data."""

    @given(xs=st.lists(st.floats(min_value=-1e6, max_value=1e6,
                                 allow_nan=False), min_size=1,
                       max_size=101))
    @settings(max_examples=200, deadline=None)
    def test_element(self, xs):
        import numpy as np

        arr = sorted(xs)
        got = arr[(len(arr) + 1) // 2 - 1]
        want = float(np.percentile(np.array(xs), 50,
                                   method="lower"))
        assert got == want


class TestHamiltonApportionment:
    """temperature_mix's largest-remainder allocation: targets sum to
    the budget whenever no source cap binds, and each target differs
    from the unrounded ideal by less than 1 (the Hamilton property)."""

    @given(ns=st.lists(st.integers(min_value=1, max_value=10_000),
                       min_size=1, max_size=30),
           budget=st.integers(min_value=0, max_value=500))
    @settings(max_examples=200, deadline=None)
    def test_allocation(self, ns, budget):
        import math

        tot = sum(math.sqrt(n) for n in ns)
        ideal = [round(budget * math.sqrt(n) / tot, 6) for n in ns]
        base = [int(i) for i in ideal]
        left = budget - sum(base)
        order = sorted(range(len(ns)),
                       key=lambda i: (-(ideal[i] - base[i]), i))
        tgt = list(base)
        for i in order[:left]:
            tgt[i] += 1
        assert sum(tgt) == budget
        for t, i in zip(tgt, ideal):
            assert abs(t - i) < 1.0 + 1e-9
