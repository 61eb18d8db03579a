"""Missing-value interpolation (``functions.py:249-345`` +
``owinterpolate.py:26-29``): linear / cubic / nearest / mean.

Semantics per the reference:

- numeric columns with fewer than 2 defined values are left untouched
  (``functions.py:326``);
- ``mean``: nulls become the column mean (``:329-331``) — per series here;
- ``linear``: 1-D interpolation over the time axis, edges clamped to the
  first/last defined value (``:334-342``);
- ``nearest``: value of the temporally nearest defined row, ties -> previous
  (``:292-297,336``);
- ``cubic``: spline interpolation — not expressible in SQL; runs as an
  Arrow-batched ``applyInPandas`` per series (natural cubic spline in pure
  NumPy — scipy-free; boundary condition differs from scipy's not-a-knot
  only near the edges);
- discrete (string) columns: nulls -> column mode (smallest tie-break,
  ``:281-298``), or nearest-in-time when method='nearest'.

Scale notes: linear/nearest/mean are pure window/groupBy expressions — one
shuffle per series partitioning.  ``cubic`` groups by series and ships each
series through Arrow once; with no ``series_cols`` it degenerates to a
single group (the reference's single-series assumption).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from orange3_timeseries_spark.frame import ROW_IDX, TimeSeriesFrame
from orange3_timeseries_spark.operators.aggregate import null_norm
from orange3_timeseries_spark.timeutil import ts_seconds

METHODS = ("linear", "cubic", "nearest", "mean")


def interpolate_timeseries(tsf: TimeSeriesFrame, method: str = "linear",
                           multivariate: bool = False,
                           cols: Optional[Sequence[str]] = None,
                           ) -> TimeSeriesFrame:
    if method not in METHODS:
        raise ValueError(f"method must be one of {METHODS}")

    had_idx = ROW_IDX in tsf.df.columns
    cubic_direct = (method == "cubic" and tsf.series_cols
                    and tsf.time_col is not None and not had_idx)
    if cubic_direct:
        # One shuffle serves the whole cubic plan: an explicit hash
        # repartition on the series keys (AQE never coalesces user
        # repartitions — cf. spark_analytics._pin_parallelism) satisfies
        # the ClusteredDistribution of the applyInPandas groupBy, so it
        # inserts no exchange of its own.  With a real time column the
        # row-index window is skipped entirely — the pandas stage sorts
        # each (small, in-memory) series by time itself, saving the
        # whole-partition sort the window would run.
        n = tsf.df.sparkSession.sparkContext.defaultParallelism
        tsf = tsf._with_df(tsf.df.repartition(n, *tsf.series_cols))
    else:
        tsf = tsf.with_row_index()
    value_cols = list(cols) if cols is not None else tsf.value_cols
    string_cols = [] if cols is not None else [
        name for name, dtype in tsf.df.dtypes
        if dtype == "string" and name not in tsf.series_cols
        and tsf.roles.get(name) != "meta" and name != tsf.time_col]

    if multivariate and method in ("nearest", "linear", "cubic") \
            and len(value_cols) >= 3:
        # 2-D pre-pass over (row, column) index space (the reference's
        # griddata call interpolates the VALUE MATRIX as a surface,
        # ``functions.py:314-317``; 'cubic' = Clough-Tocher, scipy-free
        # port in ``functions._griddata``), then the 1-D pass mops up
        tsf = tsf._with_df(_multivariate_fill(tsf, value_cols, method))
        df = _cubic(tsf, value_cols) if method == "cubic" \
            else _native(tsf, value_cols, method)
    elif method == "cubic":
        # pinned: the pre-repartition above already established the
        # series-hash distribution the pandas groupBy needs
        df = _cubic(tsf, value_cols, pinned=cubic_direct)
    else:
        df = _native(tsf, value_cols, method)
    if string_cols:
        df = _fill_discrete(tsf._with_df(df), string_cols, method)
    if not had_idx:
        df = df.drop(ROW_IDX)
    return tsf._with_df(df)


def _axis(tsf: TimeSeriesFrame):
    """The interpolation abscissa: time as seconds, else the row index
    (``timeseries.py:241-247`` fallback)."""
    if tsf.time_col is not None:
        return ts_seconds(tsf.df, tsf.time_col)
    return F.col(ROW_IDX).cast("double")


def _native(tsf: TimeSeriesFrame, value_cols, method: str):
    df = tsf.df
    t = _axis(tsf)
    series = tsf.series_cols
    owin = Window.partitionBy(*series).orderBy(ROW_IDX)
    back = owin.rowsBetween(Window.unboundedPreceding, 0)
    fwd = owin.rowsBetween(0, Window.unboundedFollowing)
    full = Window.partitionBy(*series)

    out_cols = []
    for name in df.columns:
        if name not in value_cols:
            out_cols.append(F.col(name))
            continue
        c = null_norm(F.col(name))
        n_def = F.count(c).over(full)
        if method == "mean":
            filled = F.coalesce(c, F.avg(c).over(full))
        else:
            pv = F.last(c, ignorenulls=True).over(back)
            nv = F.first(c, ignorenulls=True).over(fwd)
            pt = F.last(F.when(c.isNotNull(), t), ignorenulls=True).over(back)
            nt = F.first(F.when(c.isNotNull(), t), ignorenulls=True).over(fwd)
            if method == "linear":
                interp = pv + (nv - pv) * (t - pt) / F.nullif(nt - pt, F.lit(0.0))
                interior = F.coalesce(interp, pv)  # duplicate-time guard
            else:  # nearest: tie -> previous (scipy kind='nearest')
                interior = F.when((t - pt) <= (nt - t), pv).otherwise(nv)
            filled = (F.when(c.isNotNull(), c)
                       .when(pv.isNull(), nv)      # leading edge clamp
                       .when(nv.isNull(), pv)      # trailing edge clamp
                       .otherwise(interior))
        # <2 defined values: leave as-is (functions.py:326)
        out_cols.append(F.when(n_def >= 2, filled).otherwise(c).alias(name))
    return df.select(*out_cols)


def _fill_discrete(tsf: TimeSeriesFrame, string_cols, method: str):
    """Discrete columns: mode fill (smallest tie-break mirrors
    ``np.argmax(np.bincount(...))``, ``functions.py:298``), or
    nearest-in-time when method='nearest' (``:292-297``)."""
    df = tsf.df
    t = _axis(tsf)
    series = tsf.series_cols
    owin = Window.partitionBy(*series).orderBy(ROW_IDX)
    back = owin.rowsBetween(Window.unboundedPreceding, 0)
    fwd = owin.rowsBetween(0, Window.unboundedFollowing)
    full = Window.partitionBy(*series)

    out_cols = []
    for name in df.columns:
        if name not in string_cols:
            out_cols.append(F.col(name))
            continue
        c = F.col(name)
        if method == "nearest":
            pv = F.last(c, ignorenulls=True).over(back)
            nv = F.first(c, ignorenulls=True).over(fwd)
            pt = F.last(F.when(c.isNotNull(), t), ignorenulls=True).over(back)
            nt = F.first(F.when(c.isNotNull(), t), ignorenulls=True).over(fwd)
            filled = (F.when(c.isNotNull(), c)
                       .when(pv.isNull(), nv)
                       .when(nv.isNull(), pv)
                       .when((t - pt) <= (nt - t), pv).otherwise(nv))
        else:
            # mode of the column; smallest (lexicographic) on ties
            arr = F.sort_array(F.collect_list(c).over(full))
            mode = _string_array_mode(arr)
            filled = F.coalesce(c, mode)
        out_cols.append(filled.alias(name))
    return df.select(*out_cols)


def _string_array_mode(arr):
    acc0 = F.struct(
        F.lit(None).cast("string").alias("bv"), F.lit(0).cast("long").alias("bc"),
        F.lit(None).cast("string").alias("cv"), F.lit(0).cast("long").alias("cc"),
    )

    def merge(acc, x):
        new_run = acc["cv"].isNull() | (acc["cv"] != x)
        better = acc["cc"] > acc["bc"]
        return F.struct(
            F.when(new_run & better, acc["cv"]).otherwise(acc["bv"]).alias("bv"),
            F.when(new_run & better, acc["cc"]).otherwise(acc["bc"]).alias("bc"),
            F.when(new_run, x).otherwise(acc["cv"]).alias("cv"),
            F.when(new_run, F.lit(1).cast("long")).otherwise(acc["cc"] + 1).alias("cc"),
        )

    return F.aggregate(
        arr, acc0, merge,
        lambda acc: F.when(acc["cc"] > acc["bc"], acc["cv"]).otherwise(acc["bv"]))


# ------------------------------------------------------------------ cubic UDF
def natural_cubic_interp(x: np.ndarray, y: np.ndarray,
                         xq: np.ndarray) -> np.ndarray:
    """Natural cubic spline through (x, y), evaluated at xq, edges clamped
    to the boundary values (cf. ``functions.py:334-342`` fill_value
    semantics).  Pure NumPy (O(n) Thomas solve) — no scipy dependency."""
    n = len(x)
    if n < 2:
        return np.full(len(xq), np.nan)
    if n == 2:
        yq = np.interp(xq, x, y)
    else:
        h = np.diff(x)
        # tridiagonal system for second derivatives (natural: M0 = Mn-1 = 0)
        a = h[:-1]
        b = 2.0 * (h[:-1] + h[1:])
        cdiag = h[1:]
        d = 6.0 * ((y[2:] - y[1:-1]) / h[1:] - (y[1:-1] - y[:-2]) / h[:-1])
        m = len(b)
        cp = np.empty(m)
        dp = np.empty(m)
        cp[0] = cdiag[0] / b[0]
        dp[0] = d[0] / b[0]
        for i in range(1, m):
            denom = b[i] - a[i] * cp[i - 1]
            cp[i] = cdiag[i] / denom if i < m - 1 else 0.0
            dp[i] = (d[i] - a[i] * dp[i - 1]) / denom
        M = np.zeros(n)
        M[m] = dp[m - 1]
        for i in range(m - 2, -1, -1):
            M[i + 1] = dp[i] - cp[i] * M[i + 2]
        idx = np.clip(np.searchsorted(x, xq) - 1, 0, n - 2)
        x0, x1 = x[idx], x[idx + 1]
        hseg = x1 - x0
        A = (x1 - xq) / hseg
        B = (xq - x0) / hseg
        yq = (A * y[idx] + B * y[idx + 1]
              + ((A ** 3 - A) * M[idx] + (B ** 3 - B) * M[idx + 1])
              * hseg ** 2 / 6.0)
    yq = np.where(xq <= x[0], y[0], yq)
    yq = np.where(xq >= x[-1], y[-1], yq)
    return yq


def _cubic(tsf: TimeSeriesFrame, value_cols, pinned: bool = False):
    df = tsf.df
    series = tsf.series_cols
    axis_name = tsf.time_col if tsf.time_col is not None else ROW_IDX
    schema = df.schema

    # When the frame has no materialized ROW_IDX (cubic_direct path) the
    # time column IS the sort key; mergesort keeps duplicate-time rows in
    # a stable order, mirroring row_number's tie behavior.
    sort_key = ROW_IDX if ROW_IDX in df.columns else axis_name

    def fill(pdf):
        pdf = pdf.sort_values(sort_key, kind="mergesort")
        ax = pdf[axis_name]
        x_all = (ax.astype("int64") / 1e9).to_numpy() \
            if str(ax.dtype).startswith("datetime") else ax.to_numpy(float)
        for colname in value_cols:
            col = pdf[colname].to_numpy(float)
            nan = np.isnan(col)
            if not nan.any() or (~nan).sum() < 2:
                continue
            col[nan] = natural_cubic_interp(x_all[~nan], col[~nan],
                                            x_all[nan])
            pdf[colname] = col
        return pdf

    if series:
        if not pinned:
            from orange3_timeseries_spark.spark_analytics import (
                _pin_parallelism,
            )
            df = _pin_parallelism(df, list(series))
        return df.groupBy(*series).applyInPandas(fill, schema=schema)
    gdf = df.withColumn("__g__", F.lit(1))
    return (gdf.groupBy("__g__").applyInPandas(fill, schema=gdf.schema)
            .drop("__g__"))


def _multivariate_fill(tsf: TimeSeriesFrame, value_cols, method: str):
    """2-D fill over (row, column) index space — the scipy-free port of
    the reference's ``griddata`` pre-pass (``functions.py:301-318``),
    which interpolates the value MATRIX as a surface over scattered
    defined cells.

    - ``nearest``: each NaN cell takes the value of the Euclidean-nearest
      defined cell (griddata-nearest semantics);
    - ``linear``: Delaunay + barycentric piecewise-linear interpolation
      (``functions._griddata``); cells outside the defined hull stay NaN
      — the 1-D pass that follows mops them up, same two-pass order as
      the reference.

    Runs per series under ``applyInPandas`` (the matrix is one series'
    data); with no series the frame collapses to ONE group so the fill
    sees the whole matrix — a ``mapInPandas`` would see only
    partition-local cells and diverge from the reference's whole-matrix
    semantics."""
    import pandas as pd

    df = tsf.df
    series = tsf.series_cols
    schema = df.schema

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ROW_IDX).reset_index(drop=True)
        A = pdf[value_cols].to_numpy(dtype=float)
        isnan = np.isnan(A)
        if isnan.any() and (~isnan).any():
            di, dj = np.nonzero(~isnan)
            ni, nj = np.nonzero(isnan)
            if method == "nearest":
                # distance from every NaN cell to every defined cell in
                # index space; argmin matches griddata-nearest semantics
                d2 = (ni[:, None] - di[None, :]) ** 2 \
                    + (nj[:, None] - dj[None, :]) ** 2
                pick = d2.argmin(axis=1)
                A[ni, nj] = A[di[pick], dj[pick]]
            else:
                from orange3_timeseries_spark.functions._griddata import (
                    griddata_cubic,
                    griddata_linear,
                )
                fill2d = griddata_cubic if method == "cubic" \
                    else griddata_linear
                vals = fill2d(
                    np.column_stack([di, dj]).astype(float),
                    A[di, dj],
                    np.column_stack([ni, nj]).astype(float))
                filled = ~np.isnan(vals)
                A[ni[filled], nj[filled]] = vals[filled]
            pdf.loc[:, value_cols] = A
        return pdf

    if series:
        from orange3_timeseries_spark.spark_analytics import _pin_parallelism
        return _pin_parallelism(df, list(series)) \
            .groupBy(*series).applyInPandas(
                lambda pdf: fill(pdf), schema=schema)
    gdf = df.withColumn("__g__", F.lit(1))
    return (gdf.groupBy("__g__")
            .applyInPandas(lambda pdf: fill(pdf), schema=gdf.schema)
            .drop("__g__"))
