"""Model persistence: fit once, save the per-series model STATE as a
plain parquet table, reload anywhere, forecast without refitting.

The reference persists models by pickling the statsmodels object inside
an Orange workflow.  The Spark-first equivalent is a SKINNY TABLE — one
row per (series, var) holding the ARIMA order, coefficients, innovation
variance, and the short state tails the forecast recursion needs:

    (series..., var, p, d, q, const, phi[], theta[], sigma2,
     w_tail[p], e_tail[q], y_tail[max(d,1)], n_obs)

A table serializes with ordinary ``write.parquet`` (no pickle, no
engine coupling — any reader that implements the recursion can score
it), diffs cleanly between training runs, and broadcasts to a serving
job.  ``forecast_from_model_table`` replays EXACTLY the recursion
``ARIMA._predict`` runs (same association order on the same doubles),
so a saved-then-loaded model forecasts bit-identically to the model
that was just fit — asserted in tests/test_registry.py.

Scale: fitting packs each series once and runs on the shared per-series
batch runner, like the forecast tier (``spark_analytics._pack`` /
``_run_units``); the model table is O(series), not O(data); scoring runs
the same runner over the model table itself, one saved model per unit
(no touch of the history data at serve time).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.models.arima import (
    ARIMA,
    arma_forecast_diff,
    arma_psi_weights,
    integrate_forecast,
)
from orange3_timeseries_spark.models.spark import (
    _FORECAST_FIELDS,
    _INFEASIBLE_FIT,
)
from orange3_timeseries_spark.spark_analytics import (
    _columns,
    _packed_map,
    _run_units,
)

__all__ = ["arima_model_table", "forecast_from_model_table",
           "write_model_table", "read_model_table"]

_ARR = T.ArrayType(T.DoubleType())


def arima_model_table(tsf: TimeSeriesFrame, cols: Sequence[str],
                      order=(1, 0, 0), quantize=None,
                      method: str = "hr") -> DataFrame:
    """Fit ``ARIMA(order)`` per (series, var) and emit the persistable
    state row (module docstring).  Same distributed shape as
    ``forecast_by_series``; short/degenerate series yield no row."""
    p, d, q = (int(x) for x in order)
    cols = list(cols)
    fields = [
        T.StructField("var", T.StringType()),
        T.StructField("p", T.IntegerType()),
        T.StructField("d", T.IntegerType()),
        T.StructField("q", T.IntegerType()),
        T.StructField("const", T.DoubleType()),
        T.StructField("phi", _ARR),
        T.StructField("theta", _ARR),
        T.StructField("sigma2", T.DoubleType()),
        T.StructField("w_tail", _ARR),
        T.StructField("e_tail", _ARR),
        T.StructField("y_tail", _ARR),
        T.StructField("n_obs", T.IntegerType()),
    ]

    def per_series(r):
        rows = []
        for name in cols:
            y = np.asarray(r[name], dtype=float)
            try:
                m = ARIMA((p, d, q), method=method,
                          quantize=quantize).fit(y, var_names=[name])
            except _INFEASIBLE_FIT:
                continue
            res, w, e = m.results, m._w, m._e
            rows.append((
                name, p, d, q, float(res.const),
                [float(v) for v in res.phi],
                [float(v) for v in res.theta],
                float(res.sigma2),
                [float(v) for v in w[len(w) - p:]] if p else [],
                [float(v) for v in e[len(e) - q:]] if q else [],
                [float(v) for v in
                 m._y_levels[len(m._y_levels) - max(d, 1):]],
                int(len(y)),
            ))
        return _columns(fields, rows)

    return _packed_map(tsf, cols, fields, per_series)


def forecast_from_model_table(models: DataFrame, steps: int = 10,
                              alpha: float = 0.05) -> DataFrame:
    """Forecast ``steps`` ahead from a SAVED model table — no refit, no
    history scan: replays the exact ``ARIMA._predict`` recursion from
    the stored state (same association order, bit-identical output).
    Emits the engine's forecast-table contract
    ``(series..., step, var, forecast, ci_low, ci_high)``."""
    from orange3_timeseries_spark.models._stats import norm_ppf

    state_cols = {"var", "p", "d", "q", "const", "phi", "theta",
                  "sigma2", "w_tail", "e_tail", "y_tail", "n_obs"}
    groups = [c for c in models.columns if c not in state_cols]
    z_q = float(norm_ppf(1 - alpha / 2))

    def per_model(r):
        d = int(r["d"])
        phi = np.asarray(r["phi"], dtype=float)
        theta = np.asarray(r["theta"], dtype=float)
        # the SAME functions the live ARIMA._predict calls — the
        # bit-identical contract is structural, not copy-paste-synced
        preds_diff = arma_forecast_diff(
            float(r["const"]), phi, theta,
            [float(v) for v in r["w_tail"]],
            [float(v) for v in r["e_tail"]], steps)
        forecast = integrate_forecast(
            preds_diff, np.asarray(r["y_tail"], dtype=float), d)
        psi = arma_psi_weights(phi, theta, d, steps)
        err = z_q * np.sqrt(float(r["sigma2"]) * np.cumsum(psi ** 2))
        fc = np.asarray(forecast, dtype=float)
        return {"step": np.arange(1, steps + 1), "var": [r["var"]] * steps,
                "forecast": fc, "ci_low": fc - err, "ci_high": fc + err}

    return _run_units(models, groups, _FORECAST_FIELDS, per_model)


def write_model_table(models: DataFrame, path: str) -> None:
    """Persist a model table as parquet (overwrite)."""
    models.write.mode("overwrite").parquet(path)


def read_model_table(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted model table."""
    return spark.read.parquet(path)


def var_model_table(tsf: TimeSeriesFrame, cols: Sequence[str],
                    maxlags=1, trend: str = "c") -> DataFrame:
    """Fit ``VAR(maxlags)`` per series over ``cols`` jointly and emit
    one persistable state row per series: lag matrices, trend
    coefficients, residual covariance (all flattened row-major with
    their dims), and the last ``k_ar`` observation rows — everything
    :func:`forecast_from_var_model_table` needs to reproduce
    ``VAR._predict`` exactly."""
    from orange3_timeseries_spark.models.var import VAR

    cols = list(cols)
    fields = [
        T.StructField("vars", T.ArrayType(T.StringType())),
        T.StructField("k_ar", T.IntegerType()),
        T.StructField("neqs", T.IntegerType()),
        T.StructField("nobs", T.IntegerType()),
        T.StructField("trend", T.StringType()),
        T.StructField("coefs", _ARR),        # (k_ar, k, k) row-major
        T.StructField("trend_coefs", _ARR),  # (n_trend, k) row-major
        T.StructField("n_trend", T.IntegerType()),
        T.StructField("sigma_u", _ARR),      # (k, k) row-major
        T.StructField("y_tail", _ARR),       # (k_ar, k) row-major
    ]

    def per_series(r):
        try:
            y = np.column_stack(
                [np.asarray(r[c], dtype=float) for c in cols])
            m = VAR(maxlags=maxlags, trend=trend).fit(y, var_names=cols)
        except _INFEASIBLE_FIT:
            return None
        res = m.results
        # tail from the NaN-FILTERED history the model actually fit
        # (m._y), not the raw packed columns: the pack preserves nulls as
        # NaN, and VAR._predict forecasts from the filtered rows
        tail = (m._y[-res.k_ar:] if res.k_ar
                else np.empty((0, res.neqs)))
        return _columns(fields, [(
            list(cols), int(res.k_ar), int(res.neqs),
            int(res.nobs), res.trend,
            [float(v) for v in np.ravel(res.coefs)],
            [float(v) for v in np.ravel(res.trend_coefs)],
            int(res.trend_coefs.shape[0]),
            [float(v) for v in np.ravel(res.sigma_u)],
            [float(v) for v in np.ravel(tail)],
        )])

    return _packed_map(tsf, cols, fields, per_series)


def forecast_from_var_model_table(models: DataFrame, steps: int = 10,
                                  alpha: float = 0.05) -> DataFrame:
    """Forecast from a saved VAR model table — reconstructs the fitted
    state and replays ``VAR._predict`` exactly (same recursion, same
    psi-weight covariances), emitting the long forecast-table contract.
    Map-only over the model table; the history is never touched."""
    from orange3_timeseries_spark.models._stats import norm_ppf
    from orange3_timeseries_spark.models.var import _VarResults

    state_cols = {"vars", "k_ar", "neqs", "nobs", "trend", "coefs",
                  "trend_coefs", "n_trend", "sigma_u", "y_tail"}
    groups = [c for c in models.columns if c not in state_cols]
    q_z = float(norm_ppf(1 - alpha / 2))
    nan_ics = {"aic": float("nan"), "bic": float("nan"),
               "hqic": float("nan"), "fpe": float("nan")}

    def per_model(r):
        p, k = int(r["k_ar"]), int(r["neqs"])
        n_tr = int(r["n_trend"])
        res = _VarResults(
            coefs=np.asarray(r["coefs"], dtype=float).reshape(p, k, k),
            trend_coefs=np.asarray(
                r["trend_coefs"], dtype=float).reshape(n_tr, k),
            sigma_u=np.asarray(r["sigma_u"], dtype=float).reshape(k, k),
            resid=None, fitted=None, k_ar=p, neqs=k,
            nobs=int(r["nobs"]), trend=r["trend"], ics=nan_ics)
        tail = np.asarray(r["y_tail"], dtype=float).reshape(-1, k)
        fc = res.forecast(tail, steps)
        err = q_z * np.sqrt(np.abs(np.diagonal(
            res.mse(steps), axis1=1, axis2=2)))
        return {"step": np.repeat(np.arange(1, steps + 1), k),
                "var": list(r["vars"]) * steps, "forecast": np.ravel(fc),
                "ci_low": np.ravel(fc - err), "ci_high": np.ravel(fc + err)}

    return _run_units(models, groups, _FORECAST_FIELDS, per_model)


__all__ += ["var_model_table", "forecast_from_var_model_table"]


#: valid ``family`` values for the smoothing state tables; dispatch is
#: the if-chains in ``smoothing_model_table.fit_state`` and
#: ``forecast_from_smoothing_table.per_model`` — extend BOTH when adding one
_SMOOTH_FAMILIES = ("holt", "holt_damped", "holt_winters", "theta")


def smoothing_model_table(tsf: TimeSeriesFrame, cols: Sequence[str],
                          family: str = "holt", alpha: float = 0.5,
                          beta: float = 0.3, gamma: float = 0.4,
                          m: int = 7, phi: float = 0.9) -> DataFrame:
    """Fit the named exponential-smoothing family per (series, var) and
    emit one persistable state row:

        (series..., var, family, level, trend, season[], aux[],
         phi, n_obs)

    — ``season`` is Holt-Winters' rotated seasonal buffer (element 0 =
    the h=1 season), ``aux`` carries Theta's OLS intercept ``[a]``
    (its slope rides in ``trend``), ``phi`` is the damping factor
    (1.0 where unused).  Together with ARIMA/VAR model tables this
    makes EVERY forecaster in the engine refit-free servable under the
    same parquet contract: plain columns, no pickle, engine-agnostic.
    Short/degenerate series yield no row (same contract as the live
    ``*_forecast_table`` fits).

    Serving replays the forecast through the SAME
    ``*_forecast_from_state`` functions the live fit path calls
    (functions/correlation.py), so a saved-then-loaded model forecasts
    bit-identically — structural reuse, not copy-paste sync."""
    from orange3_timeseries_spark.functions.correlation import (
        holt_damped_state,
        holt_state,
        holt_winters_state,
        theta_state,
    )

    if family not in _SMOOTH_FAMILIES:
        raise ValueError(f"unknown smoothing family {family!r}")
    cols = list(cols)
    fields = [
        T.StructField("var", T.StringType()),
        T.StructField("family", T.StringType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("season", _ARR),
        T.StructField("aux", _ARR),
        T.StructField("phi", T.DoubleType()),
        T.StructField("n_obs", T.IntegerType()),
    ]

    def fit_state(x):
        if family == "holt":
            st = holt_state(x, alpha, beta)
            if st is None:
                return None
            return st[0], st[1], [], [], 1.0
        if family == "holt_damped":
            st = holt_damped_state(x, alpha, beta, phi)
            if st is None:
                return None
            return st[0], st[1], [], [], float(phi)
        if family == "holt_winters":
            st = holt_winters_state(x, m, alpha, beta, gamma)
            if st is None:
                return None
            return st[0], st[1], st[2], [], 1.0
        st = theta_state(x, alpha)                      # theta
        if st is None:
            return None
        a, b, l, _n = st
        return l, b, [], [a], 1.0

    def per_series(r):
        rows = []
        for name in cols:
            x = np.asarray(r[name], dtype=float)
            x = x[~np.isnan(x)]
            st = fit_state(x)
            if st is not None:
                rows.append((name, family, *st, int(len(x))))
        return _columns(fields, rows)

    return _packed_map(tsf, cols, fields, per_series)


def forecast_from_smoothing_table(models: DataFrame,
                                  steps: int = 5) -> DataFrame:
    """Forecast from a saved smoothing model table — no refit, no
    history scan; dispatches per row on ``family`` to the same
    ``*_forecast_from_state`` functions the live fits use.  Emits
    ``(series..., step, var, forecast)`` (smoothing fits carry no
    closed-form state covariance, so no CI columns — matching the live
    ``holt_*_table`` contract)."""
    from orange3_timeseries_spark.functions.correlation import (
        damped_forecast_from_state,
        holt_forecast_from_state,
        hw_forecast_from_state,
        theta_forecast_from_state,
    )

    state_cols = {"var", "family", "level", "trend", "season", "aux",
                  "phi", "n_obs"}
    groups = [c for c in models.columns if c not in state_cols]
    fields = _FORECAST_FIELDS[:3]

    def per_model(r):
        fam = r["family"]
        level, trend = float(r["level"]), float(r["trend"])
        if fam == "holt":
            fc = holt_forecast_from_state(level, trend, steps)
        elif fam == "holt_damped":
            fc = damped_forecast_from_state(
                level, trend, float(r["phi"]), steps)
        elif fam == "holt_winters":
            fc = hw_forecast_from_state(
                level, trend, [float(s) for s in r["season"]], steps)
        elif fam == "theta":
            fc = theta_forecast_from_state(
                float(r["aux"][0]), trend, level, int(r["n_obs"]), steps)
        else:
            # no-silent-drops rule: a foreign/corrupt family string must
            # fail loudly, not forecast nothing
            raise ValueError(
                f"unknown smoothing family {fam!r} in model "
                f"table (known: {_SMOOTH_FAMILIES})")
        return {"step": np.arange(1, len(fc) + 1),
                "var": [r["var"]] * len(fc),
                "forecast": np.asarray(fc, dtype=float)}

    return _run_units(models, groups, fields, per_model)


__all__ += ["smoothing_model_table", "forecast_from_smoothing_table"]
