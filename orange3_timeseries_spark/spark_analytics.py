"""Distributed wrappers for the analytics tier: each reference whole-column
algorithm (SURVEY §2.7) runs as an Arrow-batched ``applyInPandas`` stage
**per series**, so a million independent series parallelize across the
cluster while each series computes with the exact NumPy semantics of the
reference.  With no ``series_cols`` the frame degenerates to one group —
the honest equivalent of the reference's single in-memory array.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orange3_timeseries_spark.timeutil import ts_seconds

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.functions.correlation import (
    acf_values,
    pacf_values,
    _significant,
)
from orange3_timeseries_spark.functions.decomposition import (
    seasonal_decompose_arrays,
)
from orange3_timeseries_spark.functions.granger import granger_causality_arrays
from orange3_timeseries_spark.functions.spectral import (
    periodogram,
    periodogram_nonequispaced,
    spectral_entropy,
)


def _grouped(tsf: TimeSeriesFrame, keep_cols=None):
    """(df_with_group, group_cols, added) — ensures at least one group key.

    ``keep_cols`` projects the frame down to exactly the columns the
    pandas stage reads BEFORE the groupBy — applyInPandas ships whole
    rows, so without this the scan reads every column (column pruning
    can't see into the Python function)."""
    df = tsf.df
    if keep_cols is not None:
        need = [c for c in dict.fromkeys(
            list(tsf.series_cols) + list(keep_cols)) if c in df.columns]
        df = df.select(*need)
    if tsf.series_cols:
        return df, list(tsf.series_cols), False
    return df.withColumn("__g__", F.lit(1)), ["__g__"], True


def _series_schema(group_cols, df, extra_fields):
    fields = [df.schema[c] for c in group_cols]
    return T.StructType(fields + extra_fields)


def _order_col(tsf: TimeSeriesFrame) -> str:
    if tsf.time_col is not None:
        return tsf.time_col
    from orange3_timeseries_spark.frame import ROW_IDX
    if ROW_IDX not in tsf.df.columns:
        raise ValueError("frame needs a time column or __row_idx__")
    return ROW_IDX


def _pin_parallelism(df: DataFrame, groups):
    """Repartition by the group keys BEFORE a pack / applyInPandas stage.

    AQE's size-based shuffle coalescing sees only a few MB of packed
    arrays and merges the exchange down to one partition — which
    serializes the compute-heavy Python stage that follows (measured at
    sf0.1: a 1500-series Lomb-Scargle ran as ONE task, 5s instead of
    sub-second).  Bytes-per-partition is the wrong heuristic when the
    downstream cost is CPU per ROW, so pin the partition count with an
    explicit user repartition — AQE never coalesces those — sized to the
    cluster's default parallelism.  collect_list has no reducing map-side
    combine, so pre-partitioning by the keys shuffles the identical bytes
    the groupBy would have.
    """
    if groups == ["__g__"]:
        return df  # single logical series — nothing to parallelize over
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *groups)


def _packed_map(tsf: TimeSeriesFrame, cols, extra_fields, per_series,
                with_times: bool = False, native_cols=()):
    """Shared fast path for per-series NumPy stages: pack each series into
    time-sorted arrays (one grouped row per series), then run ``per_series``
    over MANY series per Arrow batch with ``mapInPandas`` — per-group
    ``applyInPandas`` pays pandas/Arrow setup per series, which dominates
    when series are small and numerous (measured ~5 ms/series overhead vs
    sub-ms NumPy work).

    ``per_series`` receives a dict of the packed columns for one series
    and returns a dict of equal-length arrays (or ``None``); outputs are
    accumulated and emitted as ONE DataFrame per Arrow batch — building a
    pandas DataFrame per series costs ~1-2 ms each, which dominated wall
    time at thousands of small series.

    Columns named in ``native_cols`` are packed at their ORIGINAL Spark
    type instead of double — the double round-trip silently corrupts
    integer ids above 2^53.
    """
    order = _order_col(tsf)
    df, groups, added = _grouped(tsf, keep_cols=[order, *cols])
    df = _pin_parallelism(df, groups)
    aggs = [
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col(order).alias("o"),
                         (F.col(c) if c in native_cols
                          else F.col(c).cast("double")).alias("v")))),
            lambda s: s["v"]).alias(c)
        for c in cols]
    if with_times:
        aggs.append(F.array_sort(F.collect_list(
            ts_seconds(df, order))).alias("__t__"))
    packed = df.groupBy(*groups).agg(*aggs)
    schema = _series_schema(groups, df, extra_fields)
    names = [f.name for f in schema.fields]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=names)
                continue
            gvals = {g: pdf[g].to_numpy() for g in groups}
            data = {c: pdf[c].to_list() for c in pdf.columns
                    if c not in groups}
            outs, counts, kept = [], [], []
            for i in range(len(pdf)):
                out = per_series({c: v[i] for c, v in data.items()})
                if not out:
                    continue
                n = len(next(iter(out.values())))
                if not n:
                    continue
                outs.append(out)
                counts.append(n)
                kept.append(i)
            if not outs:
                yield pd.DataFrame(columns=names)
                continue
            result = {k: np.concatenate([o[k] for o in outs])
                      for k in outs[0]}
            kept = np.asarray(kept)
            for g in groups:
                result[g] = np.repeat(gvals[g][kept], counts)
            yield pd.DataFrame(result)[names]

    out = packed.mapInPandas(run, schema=schema)
    return out.drop("__g__") if added else out


def acf_table(tsf: TimeSeriesFrame, col: str, nlags: Optional[int] = None,
              significant_only: bool = False,
              alpha: Optional[float] = None) -> DataFrame:
    """Per-series ACF rows (series..., lag, acf); with ``significant_only``
    just the reference's significant peaks (``functions.py:192-218``).

    ``alpha`` adds Bartlett-formula confidence intervals (``ci_low``,
    ``ci_high`` per lag) exactly as the reference's
    ``autocorrelation(..., alpha=)`` passthrough to statsmodels
    (``functions.py:208-218``): ``var[k] = (1 + 2*sum_{j<k} acf_j^2)/n``
    for ``k > 1``, ``1/n`` at lag 1, 0 at lag 0, interval centered on the
    acf value."""
    fields = [T.StructField("lag", T.IntegerType()),
              T.StructField("acf", T.DoubleType())]
    if alpha is not None:
        fields += [T.StructField("ci_low", T.DoubleType()),
                   T.StructField("ci_high", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        nl = nlags if nlags is not None else int(0.9 * len(x))
        nl = min(nl, len(x) - 1)
        if len(x) < 3 or nl < 1:
            return None
        vals = acf_values(x, nl)
        idx = np.arange(len(vals))
        if alpha is not None:
            from orange3_timeseries_spark.models._stats import norm_ppf

            varacf = np.ones_like(vals) / len(x)
            varacf[0] = 0.0
            if len(vals) > 2:
                varacf[2:] *= 1 + 2 * np.cumsum(vals[1:-1] ** 2)
            half = norm_ppf(1 - alpha / 2.0) * np.sqrt(varacf)
            lo, hi = vals - half, vals + half
        if significant_only:
            rows = _significant(vals)
            keep = rows[:, 0].astype(int)
        else:
            rows = np.column_stack((idx, vals))
            keep = idx
        out = {"lag": rows[:, 0].astype("int32"), "acf": rows[:, 1]}
        if alpha is not None:
            out["ci_low"] = lo[keep]
            out["ci_high"] = hi[keep]
        return out

    return _packed_map(tsf, [col], fields, per_series)


def pacf_table(tsf: TimeSeriesFrame, col: str, nlags: Optional[int] = None,
               significant_only: bool = False,
               alpha: Optional[float] = None) -> DataFrame:
    """Per-series PACF rows (``functions.py:221-246``).  ``alpha`` adds
    the statsmodels-convention intervals ``pacf ± z(1-alpha/2)/sqrt(n)``
    (constant variance, 0 at lag 0), centered on the pacf value."""
    fields = [T.StructField("lag", T.IntegerType()),
              T.StructField("pacf", T.DoubleType())]
    if alpha is not None:
        fields += [T.StructField("ci_low", T.DoubleType()),
                   T.StructField("ci_high", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        nl = nlags if nlags is not None else min(len(x) // 2 - 1, len(x) - 1)
        nl = min(nl, max(len(x) - 1, 0))
        if len(x) < 4 or nl < 1:
            return None
        vals = pacf_values(x, nl)
        idx = np.arange(len(vals))
        if alpha is not None:
            from orange3_timeseries_spark.models._stats import norm_ppf

            half = np.full_like(vals, norm_ppf(1 - alpha / 2.0)
                                / np.sqrt(len(x)))
            half[0] = 0.0
            lo, hi = vals - half, vals + half
        if significant_only:
            rows = _significant(vals)
            keep = rows[:, 0].astype(int)
        else:
            rows = np.column_stack((idx, vals))
            keep = idx
        out = {"lag": rows[:, 0].astype("int32"), "pacf": rows[:, 1]}
        if alpha is not None:
            out["ci_low"] = lo[keep]
            out["ci_high"] = hi[keep]
        return out

    return _packed_map(tsf, [col], fields, per_series)


def periodogram_table(tsf: TimeSeriesFrame, col: str, detrend=None,
                      equispaced: bool = True,
                      n_periods: int = 1000) -> DataFrame:
    """Per-series significant spectral peaks (series..., period, power);
    Lomb-Scargle when ``equispaced=False`` (``functions.py:76-174``).
    ``detrend=None`` resolves to the reference's per-mode default —
    'diff' for the equispaced periodogram (``functions.py:76``), 'linear'
    for Lomb-Scargle (``functions.py:109``).  ``n_periods`` is the
    Lomb-Scargle grid resolution (reference default 1000)."""
    if detrend is None:
        detrend = "diff" if equispaced else "linear"
    fields = [T.StructField("period", T.DoubleType()),
              T.StructField("power", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        mask = ~np.isnan(x)
        xd = x[mask]
        if len(xd) < 12:
            return None
        if equispaced:
            periods, power = periodogram(xd, detrend=detrend)
        else:
            # __t__ is the order column cast to double: epoch SECONDS for
            # timestamps (Spark cast semantics), plain index otherwise
            tvals = np.asarray(r["__t__"], dtype=float)[mask]
            periods, power = periodogram_nonequispaced(
                tvals, xd, detrend=detrend, n_periods=n_periods)
        return {"period": periods, "power": power}

    return _packed_map(tsf, [col], fields, per_series,
                       with_times=not equispaced)


def spectral_entropy_table(tsf: TimeSeriesFrame, col: str,
                           detrend="diff") -> DataFrame:
    """One row per series: ``(series..., n_bins, spectral_entropy,
    forecastability)`` — the normalized spectral entropy of the
    detrended series and Goerg's Ω = 1 − H.  The triage scalar that
    routes series between the modeling tier (low H → seasonal/ARIMA
    models will pay off) and plain rate aggregation (H ≈ 1 → the
    series is noise; don't burn cluster time fitting it).  Same
    ≥12-observation floor and 'diff' default as
    :func:`periodogram_table` (reference detrend default,
    ``functions.py:76``); same packed per-series NumPy execution."""
    fields = [T.StructField("n_bins", T.LongType()),
              T.StructField("spectral_entropy", T.DoubleType()),
              T.StructField("forecastability", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        xd = x[~np.isnan(x)]
        if len(xd) < 12:
            return None
        h, k = spectral_entropy(xd, detrend=detrend)
        if not np.isfinite(h):
            return None
        return {"n_bins": np.array([k], dtype="int64"),
                "spectral_entropy": np.array([h]),
                "forecastability": np.array([1.0 - h])}

    return _packed_map(tsf, [col], fields, per_series)


def seasonal_decompose(tsf: TimeSeriesFrame, cols: Sequence[str],
                       model: str = "multiplicative", period: int = 12,
                       ) -> TimeSeriesFrame:
    """Append the 4 decomposition columns per variable
    ('(season. adj.)', '(seasonal)', '(trend)', '(residual)' —
    ``functions.py:417-424``).  Gaps are linearly interpolated before
    decomposition (the reference decomposes ``data.interp()``,
    ``functions.py:399``) and source NaNs re-applied (``:411-415``)."""
    df, groups, added = _grouped(tsf)
    df = _pin_parallelism(df, groups)
    order = _order_col(tsf)
    suffixes = ["season. adj.", "seasonal", "trend", "residual"]
    schema = T.StructType(list(df.schema.fields) + [
        T.StructField(f"{c} ({s})", T.DoubleType())
        for c in cols for s in suffixes])

    def compute(pdf):
        pdf = pdf.sort_values(order).reset_index(drop=True)
        for c in cols:
            raw = pdf[c].to_numpy(dtype=float)
            isnan = np.isnan(raw)
            x = raw.copy()
            if isnan.any() and (~isnan).sum() >= 2:
                idx = np.arange(len(x), dtype=float)
                x[isnan] = np.interp(idx[isnan], idx[~isnan], x[~isnan])
            adj, seas, trend, resid = seasonal_decompose_arrays(
                x, model=model, period=period)
            adj[isnan] = np.nan
            trend[isnan] = np.nan
            resid[isnan] = np.nan
            pdf[f"{c} (season. adj.)"] = adj
            pdf[f"{c} (seasonal)"] = seas
            pdf[f"{c} (trend)"] = trend
            pdf[f"{c} (residual)"] = resid
        return pdf

    out = df.groupBy(*groups).applyInPandas(compute, schema=schema)
    out = out.drop("__g__") if added else out
    return tsf._with_df(out)


def granger_causality(tsf: TimeSeriesFrame, cols: Sequence[str],
                      max_lag: int = 10, alpha: float = 0.05) -> DataFrame:
    """Per-series Granger tests over all ordered pairs of ``cols``
    (series..., lag, p, antecedent, consequent) — ``functions.py:433-492``.
    Gaps linearly interpolated first (``:462``)."""
    order = _order_col(tsf)
    df, groups, added = _grouped(tsf, keep_cols=[order, *cols])
    df = _pin_parallelism(df, groups)
    schema = _series_schema(groups, df, [
        T.StructField("lag", T.IntegerType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("antecedent", T.StringType()),
        T.StructField("consequent", T.StringType())])

    def compute(keys, pdf):
        pdf = pdf.sort_values(order)
        arrays = []
        for c in cols:
            x = pdf[c].to_numpy(dtype=float)
            isnan = np.isnan(x)
            if isnan.any() and (~isnan).sum() >= 2:
                idx = np.arange(len(x), dtype=float)
                x[isnan] = np.interp(idx[isnan], idx[~isnan], x[~isnan])
            arrays.append(x)
        rows = granger_causality_arrays(arrays, list(cols), max_lag, alpha)
        out = pd.DataFrame(rows, columns=["lag", "p", "antecedent",
                                          "consequent"])
        if not len(rows):
            out = pd.DataFrame(columns=["lag", "p", "antecedent",
                                        "consequent"])
        out["lag"] = out["lag"].astype("int32", errors="ignore")
        for k, v in zip(groups, keys):
            out[k] = v
        return out[[f.name for f in schema.fields]]

    out = df.groupBy(*groups).applyInPandas(compute, schema=schema)
    return out.drop("__g__") if added else out


def granger_causality_pairs(tsf: TimeSeriesFrame, cols: Sequence[str],
                            max_lag: int = 10,
                            alpha: float = 0.05) -> DataFrame:
    """Pair-parallel Granger causality: each of the N(N-1) ordered pairs
    becomes its OWN task, so a wide variable set parallelizes even for a
    single series (:func:`granger_causality` parallelizes across series
    but computes all pairs of one series in one task — its scale axis is
    series count, this one's is pair count).

    Plan: pack each series' columns into sorted arrays (one grouped row
    per series), cross-join with the broadcast pair list, then a row-wise
    ``mapInPandas`` runs the F-test per (series, pair) row.  No driver
    collect; the packed row rides the shuffle once.
    """
    from orange3_timeseries_spark.functions.granger import (
        first_significant_lag,
    )

    def _interp(x):
        isnan = np.isnan(x)
        if isnan.any() and (~isnan).sum() >= 2:
            idx = np.arange(len(x), dtype=float)
            x[isnan] = np.interp(idx[isnan], idx[~isnan], x[~isnan])
        return x

    order = _order_col(tsf)
    df, groups, added = _grouped(tsf, keep_cols=[order, *cols])
    df = _pin_parallelism(df, groups)
    packed = df.groupBy(*groups).agg(*[
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col(order).alias("o"),
                         F.col(c).cast("double").alias("v")))),
            lambda s: s["v"]).alias(c)
        for c in cols])
    spark = df.sparkSession
    # JVM LocalRelation, not a Python-RDD-backed table: the broadcast
    # build otherwise re-runs a Python worker job per action
    # (operators/localrel.py)
    from orange3_timeseries_spark.operators.localrel import local_df
    pairs = local_df(
        spark, [(a, c) for a in cols for c in cols if a != c],
        "antecedent string, consequent string")
    crossed = packed.crossJoin(F.broadcast(pairs)) \
        .repartition(len(cols) * (len(cols) - 1))
    schema = _series_schema(groups, df, [
        T.StructField("lag", T.IntegerType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("antecedent", T.StringType()),
        T.StructField("consequent", T.StringType())])

    def compute(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                a = _interp(np.asarray(r[r["antecedent"]], dtype=float))
                c = _interp(np.asarray(r[r["consequent"]], dtype=float))
                lag, p = first_significant_lag(a, c, max_lag, alpha)
                if lag:
                    rows.append([r[g] for g in groups]
                                + [lag, p, r["antecedent"], r["consequent"]])
            out = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
            if rows:
                out["lag"] = out["lag"].astype("int32")
            yield out

    out = crossed.mapInPandas(compute, schema=schema)
    return out.drop("__g__") if added else out


def granger_f_table(tsf: TimeSeriesFrame, cols: Sequence[str],
                    lag: int = 1) -> DataFrame:
    """Per-series Granger F-STATISTICS at a FIXED lag for every ordered
    pair (series..., antecedent, consequent, fstat, p) — the raw-test
    surface under :func:`granger_causality`'s first-significant-lag
    report.  At lag 1 the two nested OLS fits reduce to covariance
    algebra, which is what makes this variant value-hash
    oracle-checkable in SQL (the p-value needs the F survival function,
    so oracles compare ``fstat`` only).  Same pair-parallel plan as
    :func:`granger_causality_pairs`."""
    from orange3_timeseries_spark.functions.granger import granger_f_test

    def _interp(x):
        isnan = np.isnan(x)
        if isnan.any() and (~isnan).sum() >= 2:
            idx = np.arange(len(x), dtype=float)
            x[isnan] = np.interp(idx[isnan], idx[~isnan], x[~isnan])
        return x

    order = _order_col(tsf)
    df, groups, added = _grouped(tsf, keep_cols=[order, *cols])
    df = _pin_parallelism(df, groups)
    packed = df.groupBy(*groups).agg(*[
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col(order).alias("o"),
                         F.col(c).cast("double").alias("v")))),
            lambda s: s["v"]).alias(c)
        for c in cols])
    spark = df.sparkSession
    # JVM LocalRelation, not a Python-RDD-backed table (localrel.py)
    from orange3_timeseries_spark.operators.localrel import local_df
    pairs = local_df(
        spark, [(a, c) for a in cols for c in cols if a != c],
        "antecedent string, consequent string")
    crossed = packed.crossJoin(F.broadcast(pairs)) \
        .repartition(len(cols) * (len(cols) - 1))
    schema = _series_schema(groups, df, [
        T.StructField("antecedent", T.StringType()),
        T.StructField("consequent", T.StringType()),
        T.StructField("fstat", T.DoubleType()),
        T.StructField("p", T.DoubleType())])

    def compute(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                a = _interp(np.asarray(r[r["antecedent"]], dtype=float))
                c = _interp(np.asarray(r[r["consequent"]], dtype=float))
                fstat, p = granger_f_test(a, c, lag)
                rows.append([r[g] for g in groups]
                            + [r["antecedent"], r["consequent"],
                               float(fstat), float(p)])
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    out = crossed.mapInPandas(compute, schema=schema)
    return out.drop("__g__") if added else out


def seasonal_components_table(tsf: TimeSeriesFrame, col: str,
                              id_col: str, model: str = "multiplicative",
                              period: int = 12) -> DataFrame:
    """Long-form decomposition (series..., id, adj, seasonal, trend,
    residual) on the pack-series fast path — same semantics as
    :func:`seasonal_decompose` (interp first, NaN re-applied) but rows
    carry only the id + components, so many small series skip the
    per-group applyInPandas overhead."""
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("adj", T.DoubleType()),
        T.StructField("seasonal", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("residual", T.DoubleType()),
    ]

    def per_series(r):
        raw = np.asarray(r[col], dtype=float)
        # id packed at its NATIVE long type (native_cols below): a double
        # round-trip would silently corrupt ids above 2^53
        ids = np.asarray(r[id_col], dtype="int64")
        isnan = np.isnan(raw)
        x = raw.copy()
        if isnan.any() and (~isnan).sum() >= 2:
            idx = np.arange(len(x), dtype=float)
            x[isnan] = np.interp(idx[isnan], idx[~isnan], x[~isnan])
        adj, seas, trend, resid = seasonal_decompose_arrays(
            x, model=model, period=period)
        adj[isnan] = np.nan
        trend[isnan] = np.nan
        resid[isnan] = np.nan
        return {id_col: ids, "adj": adj, "seasonal": seas,
                "trend": trend, "residual": resid}

    return _packed_map(tsf, [col, id_col], fields, per_series,
                       native_cols=(id_col,))


def ccf_table(tsf: TimeSeriesFrame, xcol: str, ycol: str,
              nlags: int = 5) -> DataFrame:
    """Per-series cross-correlation rows (series..., lag, ccf) at lags
    -nlags..nlags over the observation sequence (time order, no calendar
    gap-filling — lag 1 means "next observation").  Same packed
    distributed fit as :func:`acf_table`; constant series are skipped
    (zero denominator).  Completes the correlation family the reference
    exposes (ACF `functions.py:192-218`, PACF) with the standard
    two-series diagnostic it lacks.

    Null policy — complete-case COMPACTION: rows where either series is
    NaN are dropped first and lags run over the remaining contiguous
    sequence (lag 1 = "next complete observation"), not over original
    row positions.  The ``ccf_by_user`` oracle replays exactly this
    (filter before sequence numbering)."""
    from orange3_timeseries_spark.functions.correlation import ccf_values

    fields = [T.StructField("lag", T.IntegerType()),
              T.StructField("ccf", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[xcol], dtype=float)
        y = np.asarray(r[ycol], dtype=float)
        m = ~(np.isnan(x) | np.isnan(y))
        x, y = x[m], y[m]
        if len(x) < 2:
            return None
        lags, vals = ccf_values(x, y, nlags)
        if not lags:
            return None
        return {"lag": np.array(lags, dtype="int32"),
                "ccf": np.array(vals)}

    return _packed_map(tsf, [xcol, ycol], fields, per_series)


def holt_forecast_table(tsf: TimeSeriesFrame, col: str,
                        alpha: float = 0.5, beta: float = 0.3,
                        horizon: int = 5) -> DataFrame:
    """Per-series Holt linear-trend forecasts (series..., step, forecast)
    — exponential-smoothing breadth beyond the reference's ARIMA/VAR
    pair, same packed distributed execution as the other per-series
    fits.  Smoothing weights are caller-specified (as the reference's
    model orders are); series shorter than 2 observations are skipped."""
    from orange3_timeseries_spark.functions.correlation import holt_values

    fields = [T.StructField("step", T.IntegerType()),
              T.StructField("forecast", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        fc = holt_values(x, alpha, beta, horizon)
        if not fc:
            return None
        return {"step": np.arange(1, horizon + 1, dtype="int32"),
                "forecast": np.array(fc)}

    return _packed_map(tsf, [col], fields, per_series)


def holt_winters_table(tsf: TimeSeriesFrame, col: str, m: int = 7,
                       alpha: float = 0.5, beta: float = 0.3,
                       gamma: float = 0.4, horizon: int = 5) -> DataFrame:
    """Per-series additive Holt-Winters forecasts (series..., step,
    forecast) — level + trend + m-period season, classical cycle-mean
    initialization; series shorter than 2m are skipped.  Same packed
    distributed execution as the other per-series fits."""
    from orange3_timeseries_spark.functions.correlation import (
        holt_winters_values,
    )

    fields = [T.StructField("step", T.IntegerType()),
              T.StructField("forecast", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        fc = holt_winters_values(x, m, alpha, beta, gamma, horizon)
        if not fc:
            return None
        return {"step": np.arange(1, horizon + 1, dtype="int32"),
                "forecast": np.array(fc)}

    return _packed_map(tsf, [col], fields, per_series)


def holt_damped_table(tsf: TimeSeriesFrame, col: str,
                      alpha: float = 0.5, beta: float = 0.3,
                      phi: float = 0.9, horizon: int = 5) -> DataFrame:
    """Per-series damped-trend Holt forecasts (series..., step,
    forecast) — Gardner-McKenzie damping for realistic long horizons;
    ``phi=1`` is plain Holt.  Same packed distributed execution."""
    from orange3_timeseries_spark.functions.correlation import (
        holt_damped_values,
    )

    fields = [T.StructField("step", T.IntegerType()),
              T.StructField("forecast", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        fc = holt_damped_values(x, alpha, beta, phi, horizon)
        if not fc:
            return None
        return {"step": np.arange(1, horizon + 1, dtype="int32"),
                "forecast": np.array(fc)}

    return _packed_map(tsf, [col], fields, per_series)


def theta_forecast_table(tsf: TimeSeriesFrame, col: str,
                         alpha: float = 0.5,
                         horizon: int = 5) -> DataFrame:
    """Per-series Theta-method forecasts (series..., step, forecast) —
    the M3-winning trend+SES combination; series shorter than 3
    observations are skipped.  Same packed distributed execution."""
    from orange3_timeseries_spark.functions.correlation import (
        theta_values,
    )

    fields = [T.StructField("step", T.IntegerType()),
              T.StructField("forecast", T.DoubleType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        fc = theta_values(x, alpha, horizon)
        if not fc:
            return None
        return {"step": np.arange(1, horizon + 1, dtype="int32"),
                "forecast": np.array(fc)}

    return _packed_map(tsf, [col], fields, per_series)


def baseline_forecast_table(tsf: TimeSeriesFrame, col: str, m: int = 7,
                            horizon: int = 5) -> DataFrame:
    """Per-series benchmark baseline forecasts (series..., method, step,
    forecast): ``naive`` (last value), ``snaive`` (value one season
    back, period ``m``), and ``drift`` (last value + h x average
    historical increment) — the standard yardsticks every forecasting
    evaluation reports against (a model that can't beat them isn't
    earning its fit cost).  All three are pure window/agg expressions:
    no Python stage, one shuffle on the series key."""
    from pyspark.sql import Window

    order = _order_col(tsf)
    df, groups, added = _grouped(tsf, keep_cols=[order, col])
    # complete-case semantics, matching the sibling forecasting tables
    # (holt/theta drop NaN before fitting): a null/NaN observation is
    # skipped, not propagated into every forecast
    df = df.where(F.col(col).isNotNull() & ~F.isnan(F.col(col)))
    w = Window.partitionBy(*groups).orderBy(order)
    idx = (df.withColumn("__rn__", F.row_number().over(w))
           .withColumn("__n__", F.count(F.lit(1)).over(
               Window.partitionBy(*groups))))
    stats = (idx.groupBy(*groups).agg(
        F.max(F.when(F.col("__rn__") == F.col("__n__"),
                     F.col(col))).alias("__last__"),
        F.max(F.when(F.col("__rn__") == 1, F.col(col))).alias("__first__"),
        F.max("__n__").alias("__n__")))
    season = (idx.where(F.col("__rn__") > F.col("__n__") - m)
              .select(*groups,
                      (F.col("__rn__") - (F.col("__n__") - m))
                      .alias("__pos__"),
                      F.col(col).alias("__sv__")))
    steps = stats.select(
        *groups, "__last__", "__first__", "__n__",
        F.explode(F.array(*[F.lit(h) for h in range(1, horizon + 1)]))
        .alias("step"))
    naive = steps.select(*groups, F.lit("naive").alias("method"), "step",
                         F.col("__last__").alias("forecast"))
    drift = steps.where(F.col("__n__") > 1).select(
        *groups, F.lit("drift").alias("method"), "step",
        (F.col("__last__") + F.col("step")
         * (F.col("__last__") - F.col("__first__"))
         / (F.col("__n__") - 1)).alias("forecast"))
    spos = ((F.col("step") - 1) % m + 1)
    snaive = (steps.where(F.col("__n__") >= m)
              .join(season, groups)
              .where(F.col("__pos__") == spos)
              .select(*groups, F.lit("snaive").alias("method"), "step",
                      F.col("__sv__").alias("forecast")))
    out = naive.unionByName(snaive).unionByName(drift)
    return out.drop("__g__") if added else out


#: default Holt smoothing-weight grid for the parameter search
HOLT_PARAM_GRID = ((0.2, 0.1), (0.2, 0.3), (0.5, 0.1), (0.5, 0.3),
                   (0.8, 0.1), (0.8, 0.3))


def holt_param_search_table(tsf: TimeSeriesFrame, col: str,
                            grid=HOLT_PARAM_GRID) -> DataFrame:
    """Per-series Holt smoothing-weight selection: every (α, β) in
    ``grid`` is scored by one-step-ahead in-sample SSE (the error of
    ``l+b`` BEFORE each update — the standard exponential-smoothing
    objective) and the minimizer wins, ties broken by
    ``(round(sse,6), α, β)`` so engine and oracle always agree.

    The grid rides INSIDE the per-series kernel (6 closed-form
    recursions of microseconds each — exploding grid × series, the
    auto-ARIMA layout, would pay Arrow packing 6× for no gain here);
    series parallelism is the distribution axis.  Returns one row per
    series: ``(series..., alpha, beta, sse, n_obs)``."""
    fields = [T.StructField("alpha", T.DoubleType()),
              T.StructField("beta", T.DoubleType()),
              T.StructField("sse", T.DoubleType()),
              T.StructField("n_obs", T.LongType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = x[~np.isnan(x)]
        if len(x) < 3:
            return None
        best = None
        for a, bta in grid:
            l = x[0]
            b = x[1] - x[0]
            sse = 0.0
            for t in range(1, len(x)):
                err = x[t] - (l + b)
                sse = sse + err * err
                l_new = a * x[t] + (1 - a) * (l + b)
                b = bta * (l_new - l) + (1 - bta) * b
                l = l_new
            key = (round(sse, 6), a, bta)
            if best is None or key < best[0]:
                best = (key, (a, bta, sse))
        a, bta, sse = best[1]
        return {"alpha": np.array([a]), "beta": np.array([bta]),
                "sse": np.array([sse]),
                "n_obs": np.array([len(x)], dtype="int64")}

    return _packed_map(tsf, [col], fields, per_series)


def croston_table(tsf: TimeSeriesFrame, col: str,
                  alpha: float = 0.2) -> DataFrame:
    """Croston's method per series — THE forecaster for intermittent
    demand (spare parts, rare events), where SES/Holt on the raw series
    just decays to zero between demands: SES with weight ``alpha`` runs
    separately over the non-zero demand SIZES and the inter-demand
    INTERVALS; the flat forecast is ``z_hat / p_hat`` (expected demand
    per period).  Initialization: first non-zero size and first
    interval (periods from series start to the first demand,
    1-indexed).  Series with < 2 non-zero demands are skipped.

    Returns one row per series: ``(series..., z_hat, p_hat, forecast,
    n_nonzero)``.  Same packed per-series execution as the other
    smoothing fits; expression order matches the recursive-CTE oracle."""
    fields = [T.StructField("z_hat", T.DoubleType()),
              T.StructField("p_hat", T.DoubleType()),
              T.StructField("forecast", T.DoubleType()),
              T.StructField("n_nonzero", T.LongType())]

    def per_series(r):
        x = np.asarray(r[col], dtype=float)
        x = np.nan_to_num(x, nan=0.0)
        nz = np.nonzero(x)[0]
        if len(nz) < 2:
            return None
        z = x[nz[0]]
        p = float(nz[0] + 1)  # periods to the first demand, 1-indexed
        for k in range(1, len(nz)):
            interval = float(nz[k] - nz[k - 1])
            z = alpha * x[nz[k]] + (1 - alpha) * z
            p = alpha * interval + (1 - alpha) * p
        return {"z_hat": np.array([z]), "p_hat": np.array([p]),
                "forecast": np.array([z / p]),
                "n_nonzero": np.array([len(nz)], dtype="int64")}

    return _packed_map(tsf, [col], fields, per_series)
