"""Distributed model fitting: the "grouped ML" Spark pattern (SURVEY §2.8).

The reference fits one statsmodels model on one in-memory series
(``models.py:152-190``).  At 100 TB the workload is *many* independent
series (one per user / instrument / sensor).  Every fit here packs each
series into one row of time-sorted arrays and fits many series per Arrow
batch on the shared per-series runner (``spark_analytics._pack`` /
``_run_units``): a million series parallelize across the cluster with a
single shuffle on the series key.  No driver-side loop, no collect.

``forecast_by_series`` emits the reference's forecast-table naming
contract (``models.py:210-228``) as rows ``(series..., step, var,
forecast, ci_low, ci_high)`` — long form rather than wide columns so the
schema is fixed regardless of variable count.

``evaluate_by_series`` runs rolling-origin CV (``functions.py:495-582``)
per series and emits one metrics row per (series, model, in_sample).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.models.evaluation import model_evaluation
from orange3_timeseries_spark.spark_analytics import (
    _columns,
    _pack,
    _packed_map,
    _run_units,
)

#: the exceptions an infeasible fit raises (series too short for the
#: order, singular Gram, degenerate residuals): that fit yields no rows.
#: Anything else propagates — a genuine bug must fail the job, not
#: silently drop series.
_INFEASIBLE_FIT = (ValueError, np.linalg.LinAlgError, ZeroDivisionError,
                  FloatingPointError)

_FORECAST_FIELDS = [
    T.StructField("step", T.IntegerType()),
    T.StructField("var", T.StringType()),
    T.StructField("forecast", T.DoubleType()),
    T.StructField("ci_low", T.DoubleType()),
    T.StructField("ci_high", T.DoubleType()),
]


def forecast_by_series(tsf: TimeSeriesFrame, cols: Sequence[str],
                       model_factory: Callable[[], object],
                       steps: int = 10, alpha: float = 0.05) -> DataFrame:
    """Fit ``model_factory()`` per series on ``cols`` and forecast
    ``steps`` ahead with ``(1-alpha)`` CIs.

    Univariate models (ARIMA) fit per (series, var); vector models (VAR)
    fit all ``cols`` jointly per series — decided via the model's
    ``SUPPORTS_VECTOR`` flag (cf. ``models.py:26``).
    """
    cols = list(cols)
    vector = bool(getattr(model_factory(), "SUPPORTS_VECTOR", False))
    hs = np.arange(1, steps + 1)

    def per_series(r):
        ys = {c: np.asarray(r[c], dtype=float) for c in cols}
        fits = ([(cols, np.column_stack([ys[c] for c in cols]))] if vector
                else [([c], ys[c]) for c in cols])
        rows = []
        for names, y in fits:
            try:
                model = model_factory().fit(y, var_names=names)
                fc, lo, hi = model.predict(steps, alpha=alpha)
            except _INFEASIBLE_FIT:
                continue  # short / degenerate series yield no rows
            rows += zip(np.repeat(hs, len(names)), names * steps,
                        np.ravel(fc), np.ravel(lo), np.ravel(hi))
        return _columns(_FORECAST_FIELDS, rows)

    return _packed_map(tsf, cols, _FORECAST_FIELDS, per_series)


def _pack_series(df, groups, order, cols):
    """:func:`spark_analytics._pack` over a plain DataFrame keyed by
    ``groups`` and ordered by ``order``; the packed DataFrame only.
    Kept under this name for the benchmark's ``ar1_fitted_by_user`` op
    (``perfbench/ops_ts.py``), which imports it."""
    tsf = TimeSeriesFrame(df, time_col=order, series_cols=groups)
    return _pack(tsf, cols)[0]


def forecast_wide_table(tsf: TimeSeriesFrame, cols: Sequence[str],
                        model_factory: Callable[[], object],
                        steps: int = 10, alpha: float = 0.05) -> DataFrame:
    """The reference's forecast-table naming contract as a WIDE Spark
    table: one row per (series..., step) with ``"{var} (forecast)"`` /
    ``"{var} ({p}%CI low)"`` / ``"{var} ({p}%CI high)"`` columns, each
    carrying the ``ci_percent``/``ci_attrs`` cross-links
    (``models.py:216-222``) in ``StructField.metadata`` so a
    LineChart-equivalent consumer can pair a forecast with its CI band
    from the schema alone.

    Plan: the long-form per-series forecast (one shuffle) pivoted on the
    KNOWN variable list — explicit pivot values, no discovery pass."""
    from orange3_timeseries_spark.models.base import BaseModel

    cols = list(cols)
    long = forecast_by_series(tsf, cols, model_factory, steps=steps,
                              alpha=alpha)
    groups = [c for c in long.columns
              if c not in ("step", "var", "forecast", "ci_low", "ci_high")]
    confidence = int((1 - alpha) * 100)
    wide = (long.groupBy(*groups, "step")
            .pivot("var", cols)
            .agg(F.first("forecast").alias("fc"),
                 F.first("ci_low").alias("lo"),
                 F.first("ci_high").alias("hi")))
    meta = BaseModel.forecast_column_metadata(cols, confidence)
    renames = {}
    for name in cols:
        renames[f"{name}_fc"] = f"{name} (forecast)"
        renames[f"{name}_lo"] = f"{name} ({confidence}%CI low)"
        renames[f"{name}_hi"] = f"{name} ({confidence}%CI high)"
    out_cols = []
    for c in wide.columns:
        target = renames.get(c)
        if target is None:
            out_cols.append(F.col(f"`{c}`"))
        else:
            out_cols.append(F.col(f"`{c}`").alias(
                target, metadata=meta.get(target, {})))
    return wide.select(*out_cols)


def evaluate_by_series(tsf: TimeSeriesFrame, col: str,
                       model_factories: Sequence[Callable[[], object]],
                       n_folds: int = 3, forecast_steps: int = 5,
                       extra_cols: Sequence[str] = ()) -> DataFrame:
    """Rolling-origin CV per series: one row per (series, model,
    in_sample) with the reference's metric set.

    ``extra_cols`` feeds additional variables to vector models (the
    reference fits the WHOLE interpolated table, ``functions.py:557``,
    with the class var as scored target — here target = ``col``,
    companions = ``extra_cols``); univariate models just ignore them
    via ``model_evaluation``'s column-0 convention.
    """
    all_cols = [col, *extra_cols]
    fields = [
        T.StructField("model", T.StringType()),
        T.StructField("in_sample", T.BooleanType()),
        T.StructField("rmse", T.DoubleType()),
        T.StructField("mae", T.DoubleType()),
        T.StructField("mape", T.DoubleType()),
        T.StructField("pocid", T.DoubleType()),
        T.StructField("r2", T.DoubleType()),
        T.StructField("aic", T.DoubleType()),
        T.StructField("bic", T.DoubleType()),
    ]

    def per_series(r):
        y = np.asarray(r[col], dtype=float)
        if extra_cols:
            y = np.column_stack(
                [y] + [np.asarray(r[c], dtype=float) for c in extra_cols])
        try:
            table = model_evaluation(
                y, [f() for f in model_factories], n_folds, forecast_steps)
        except _INFEASIBLE_FIT:
            return None  # too short for the folds
        rows = []
        for row in table[1:]:
            name = str(row[0])
            vals = [float(v) if isinstance(v, (int, float, np.floating))
                    else float("nan") for v in row[1:8]]
            rows.append((name.replace(" (in-sample)", ""),
                         name.endswith(" (in-sample)"), *vals))
        return _columns(fields, rows)

    return _packed_map(tsf, all_cols, fields, per_series)


#: default IC grid: p x d x q over the small orders practitioners
#: actually search first (Box-Jenkins step-down); extend per call
DEFAULT_ORDER_GRID = ((1, 0, 0), (2, 0, 0), (1, 0, 1), (2, 0, 1),
                      (1, 1, 0), (2, 1, 0), (1, 1, 1), (2, 1, 1))


def auto_arima_order_by_series(tsf: TimeSeriesFrame, col: str,
                               orders: Sequence = DEFAULT_ORDER_GRID,
                               ic: str = "aic",
                               quantize: Optional[int] = None,
                               keep_all: bool = False) -> DataFrame:
    """Distributed ARIMA order selection — the step the reference leaves
    to the user (``owarimamodel.py:48-55`` exposes manual (p,d,q)
    spinners): fit every candidate order per series and keep the one
    minimizing AIC/BIC (Hyndman-Khandakar-style grid step, simplified to
    a fixed grid so the search is embarrassingly parallel).

    Scale plan: the packed series table (one row per series, values as
    a sorted array) EXPLODES to one row per (series, candidate order),
    so the grid × series product — not just the series count — is the
    parallel unit; a 1000-executor cluster stays busy even with few
    series.  Each fit is the closed-form Hannan-Rissanen pass
    (``ARIMA(method='hr')``); the winner is a per-series min over a
    skinny (series, p, d, q, ic) table.  ``quantize`` applies the same
    determinism firewall as the forecast oracle; ICs round to 6 dp
    before ranking so engine/oracle winner selection can never diverge
    on float noise.  ``keep_all=True`` returns the full scored grid
    (one row per order) instead of only the winner."""
    from pyspark.sql import Window

    from orange3_timeseries_spark.models.arima import ARIMA

    if ic not in ("aic", "bic"):
        raise ValueError("ic must be 'aic' or 'bic'")
    packed, groups = _pack(tsf, [col])
    grid = packed.withColumn(
        "__ord__",
        F.explode(F.array(*[
            F.struct(F.lit(int(p)).alias("p"), F.lit(int(d)).alias("d"),
                     F.lit(int(q)).alias("q"))
            for (p, d, q) in orders])))
    fields = [
        T.StructField("p", T.IntegerType()),
        T.StructField("d", T.IntegerType()),
        T.StructField("q", T.IntegerType()),
        T.StructField("aic", T.DoubleType()),
        T.StructField("bic", T.DoubleType()),
    ]

    def per_order(r):
        o = r["__ord__"]
        p_, d_, q_ = int(o["p"]), int(o["d"]), int(o["q"])
        try:
            res = ARIMA((p_, d_, q_), quantize=quantize).fit(
                np.asarray(r[col], dtype=float), var_names=[col]).results
        except _INFEASIBLE_FIT:
            # that order drops from this series' grid; anything else
            # propagates rather than silently change the selected winner
            return None
        return _columns(fields, [(p_, d_, q_, float(res.aic),
                                  float(res.bic))])

    scored = _run_units(grid, groups, fields, per_order)
    if keep_all:
        return scored
    w = Window.partitionBy(*tsf.series_cols).orderBy(
        F.round(F.col(ic), 6).asc(), F.col("p"), F.col("d"), F.col("q"))
    return (scored.withColumn("__rk__", F.row_number().over(w))
            .where(F.col("__rk__") == 1).drop("__rk__"))
