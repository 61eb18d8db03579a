"""Driver-contract queries for the forecast-model tier (SURVEY §2.8).

``ar1_params_by_user`` has a full DuckDB value-hash oracle: fitting
ARIMA(1,0,0) by conditional least squares IS the OLS regression of y_t on
(1, y_{t-1}), so the engine's per-series fit (the packed-series runner,
``spark_analytics._packed_map``) is cross-checked against DuckDB's
``regr_slope`` / ``regr_intercept``, including the one-step-ahead
forecast ``c + phi * y_n``.

``model_eval_by_user`` (rolling-origin CV) is likewise fully oracled: the
per-fold AR(1) fits are closed-form OLS and the 5-step forecast recursion
is a recursive CTE.  MA-term multi-step forecasts (psi-weight CIs over an
estimated innovation history) remain rows-only — registered without
oracles and golden-tested in tests/test_models.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.queries import query, r6
from orange3_timeseries_spark.sources import read_table


def _events(spark, sf_dir):
    df = read_table(spark, sf_dir, "events")
    return TimeSeriesFrame(df, time_col="ts", series_cols=["user_id"])


@query("ar1_params_by_user", """
WITH s AS (
  SELECT user_id, ts, value AS y,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS ylag
  FROM events),
fit AS (
  SELECT user_id,
         regr_intercept(y, ylag) AS c,
         regr_slope(y, ylag) AS phi,
         last(y ORDER BY ts) AS y_last
  FROM s WHERE ylag IS NOT NULL
  GROUP BY user_id)
SELECT user_id,
       round(c, 6) AS const,
       round(phi, 6) AS phi,
       round(c + phi * y_last, 6) AS fc1
FROM fit
""")
def q_ar1_params_by_user(spark, sf_dir):
    """Per-series ARIMA(1,0,0) conditional-LS fit + 1-step forecast;
    oracle = OLS regression aggregates in DuckDB (same normal equations)."""
    from orange3_timeseries_spark.models import ARIMA
    from orange3_timeseries_spark.spark_analytics import _packed_map

    fields = [T.StructField("const", T.DoubleType()),
              T.StructField("phi", T.DoubleType()),
              T.StructField("fc1", T.DoubleType())]

    def per_series(r):
        m = ARIMA((1, 0, 0)).fit(np.asarray(r["value"], dtype=float))
        fc, _, _ = m.predict(1)
        return {"const": [float(m.results.const)],
                "phi": [float(m.results.phi[0])],
                "fc1": [float(np.ravel(fc)[0])]}

    out = _packed_map(_events(spark, sf_dir), ["value"], fields,
                      per_series)
    return out.select("user_id", r6(F.col("const"), "const"),
                      r6(F.col("phi"), "phi"), r6(F.col("fc1"), "fc1"))


@query("ar1_forecast_ci_by_user", """
WITH s AS (
  SELECT user_id, ts, value AS y,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS ylag
  FROM events),
fit AS (
  SELECT user_id, regr_intercept(y, ylag) AS c, regr_slope(y, ylag) AS phi,
         count(*) AS rows_, last(y ORDER BY ts) AS y_last
  FROM s WHERE ylag IS NOT NULL GROUP BY 1),
sg AS (  -- CLS innovation variance: mean squared regression residual
  SELECT s.user_id,
         sum(pow(s.y - (f.c + f.phi * s.ylag), 2)) / any_value(f.rows_)
           AS sigma2
  FROM s JOIN fit f ON s.user_id = f.user_id
  WHERE s.ylag IS NOT NULL GROUP BY 1),
fc AS (  -- closed-form h-step AR(1) mean and psi-weight variance
  SELECT f.user_id, st.step,
         f.c * (1 - pow(f.phi, st.step)) / (1 - f.phi)
           + pow(f.phi, st.step) * f.y_last AS fc,
         sqrt(g.sigma2 * (1 - pow(f.phi, 2 * st.step))
              / (1 - f.phi * f.phi)) AS se
  FROM fit f JOIN sg g ON f.user_id = g.user_id
  CROSS JOIN (SELECT unnest(range(1, 6)) AS step) st)
SELECT user_id, CAST(step AS INT) AS step, round(fc, 6) AS forecast,
       round(fc - 1.959963986120195 * se, 6) AS ci_low,
       round(fc + 1.959963986120195 * se, 6) AS ci_high
FROM fc
""")
def q_ar1_forecast_ci_by_user(spark, sf_dir):
    """Per-series AR(1) 5-step forecast WITH 95% psi-weight confidence
    intervals — the full forecast contract under a value-hash oracle.
    For AR(1) every piece is closed-form: the h-step mean is
    ``c(1-phi^h)/(1-phi) + phi^h y_n``, the forecast variance is
    ``sigma2 (1-phi^(2h))/(1-phi^2)`` (psi_j = phi^j), and the z constant
    is the engine's own Acklam inverse-normal value inlined to full
    double precision."""
    from orange3_timeseries_spark.models import ARIMA, forecast_by_series

    out = forecast_by_series(_events(spark, sf_dir), ["value"],
                             lambda: ARIMA((1, 0, 0)), steps=5)
    return out.select("user_id", "step",
                      r6(F.col("forecast"), "forecast"),
                      r6(F.col("ci_low"), "ci_low"),
                      r6(F.col("ci_high"), "ci_high"))


@query("arima_d_forecast_by_user", """
WITH RECURSIVE
s AS (
  SELECT user_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
w AS (  -- first difference, indexed 1..n-1 per user
  SELECT user_id, rn - 1 AS i, n - 1 AS nw,
         y - lag(y) OVER (PARTITION BY user_id ORDER BY rn) AS w
  FROM s QUALIFY w IS NOT NULL),
wl AS (
  SELECT user_id, i, nw, w,
         lag(w) OVER (PARTITION BY user_id ORDER BY i) AS wlag
  FROM w),
fit AS (  -- conditional OLS of the differenced series on its lag
  SELECT user_id,
         regr_intercept(w, wlag) AS c, regr_slope(w, wlag) AS phi,
         (regr_syy(w, wlag) - pow(regr_sxy(w, wlag), 2)
            / regr_sxx(w, wlag)) / count(*) AS sigma2
  FROM wl WHERE wlag IS NOT NULL GROUP BY 1),
anchor AS (SELECT user_id, y AS y_last FROM s WHERE rn = n),
wlast AS (SELECT user_id, w AS w_last FROM w WHERE i = nw),
fc AS (  -- diff-space AR recursion + integration + psi recursion:
         -- psi(B) = 1 / (phi(B)(1-B)):  psi_h = (1+phi) psi_{h-1}
         -- - phi psi_{h-2}; all state carried as DOUBLE (a bare 1.0
         -- literal would type the column DECIMAL and truncate)
  SELECT f.user_id, 1 AS step,
         f.c + f.phi * wl.w_last AS p,
         a.y_last + (f.c + f.phi * wl.w_last) AS fcv,
         1.0::DOUBLE AS psi_prev, (1 + f.phi)::DOUBLE AS psi_cur,
         1.0::DOUBLE AS spsi
  FROM fit f JOIN anchor a USING (user_id) JOIN wlast wl USING (user_id)
  UNION ALL
  SELECT fc.user_id, fc.step + 1,
         f.c + f.phi * fc.p,
         fc.fcv + (f.c + f.phi * fc.p),
         fc.psi_cur,
         (1 + f.phi) * fc.psi_cur - f.phi * fc.psi_prev,
         fc.spsi + fc.psi_cur * fc.psi_cur
  FROM fc JOIN fit f ON f.user_id = fc.user_id
  WHERE fc.step < 5)
SELECT fc.user_id, CAST(step AS INT) AS step,
       round(fcv, 6) AS forecast,
       round(fcv - 1.959963986120195 * sqrt(f.sigma2 * spsi), 6) AS ci_low,
       round(fcv + 1.959963986120195 * sqrt(f.sigma2 * spsi), 6) AS ci_high
FROM fc JOIN fit f ON f.user_id = fc.user_id
""")
def q_arima_d_forecast_by_user(spark, sf_dir):
    """Per-series ARIMA(1,1,0) 5-step forecast with 95% psi-weight CIs —
    the INTEGRATED (d=1) forecast path under a full value-hash oracle
    (the MA-term sibling below stays rows-only).  The differenced series'
    AR fit is conditional OLS (regr_slope/intercept), the diff-space
    recursion and the cumulative-sum integration anchor at the last
    level, and the psi weights of 1/(phi(B)(1-B)) follow the recursion
    psi_h = (1+phi)psi_{h-1} - phi psi_{h-2} — all replayed as a
    recursive CTE, z inlined at the engine's Acklam double."""
    from orange3_timeseries_spark.models import ARIMA, forecast_by_series

    out = forecast_by_series(_events(spark, sf_dir), ["value"],
                             lambda: ARIMA((1, 1, 0)), steps=5)
    return out.select("user_id", "step",
                      r6(F.col("forecast"), "forecast"),
                      r6(F.col("ci_low"), "ci_low"),
                      r6(F.col("ci_high"), "ci_high"))


def _gauss_sql(px, dim, aug_cte, round_dp, key="user_id"):
    """CTE chain solving per-user augmented normal equations ``[A | b]``
    (rows ``i`` 0..dim-1, cols ``j`` 0..dim with ``j = dim`` the RHS) by
    unrolled forward elimination + back substitution.  A is a Gram
    matrix (SPD), so diagonal pivoting needs no row exchanges.  Final
    CTE ``beta{px}`` holds ({key}, i, v) with ``v`` rounded to
    ``round_dp`` — the same determinism firewall the Python fit applies
    (``ARIMA(quantize=...)``)."""
    out = []
    prev = aug_cte
    for k in range(dim - 1):
        cur = f"m{px}_{k}"
        out.append(f"""{cur} AS MATERIALIZED (
  SELECT t.{key}, t.i, t.j,
         CASE WHEN t.i > {k} THEN t.a - f.a / d.a * p.a ELSE t.a END AS a
  FROM {prev} t
  JOIN (SELECT {key}, a FROM {prev} WHERE i = {k} AND j = {k}) d
    USING ({key})
  JOIN (SELECT {key}, i, a FROM {prev} WHERE j = {k}) f
    ON f.{key} = t.{key} AND f.i = t.i
  JOIN (SELECT {key}, j, a FROM {prev} WHERE i = {k}) p
    ON p.{key} = t.{key} AND p.j = t.j)""")
        prev = cur
    cols = ", ".join(
        f"max(CASE WHEN i = {i} AND j = {j} THEN a END) AS a_{i}_{j}"
        for i in range(dim) for j in range(i, dim + 1))
    out.append(f"u{px} AS MATERIALIZED (\n  SELECT {key}, {cols}\n"
               f"  FROM {prev} GROUP BY {key})")
    for i in range(dim - 1, -1, -1):
        terms = "".join(f" - u.a_{i}_{j} * x{px}_{j}.v"
                        for j in range(i + 1, dim))
        joins = "".join(f" JOIN x{px}_{j} ON x{px}_{j}.{key} = u.{key}"
                        for j in range(i + 1, dim))
        out.append(f"x{px}_{i} AS (SELECT u.{key},"
                   f" (u.a_{i}_{dim}{terms}) / u.a_{i}_{i} AS v"
                   f" FROM u{px} u{joins})")
    sel = " UNION ALL ".join(
        f"SELECT {key}, {i} AS i, round(v, {round_dp}) AS v FROM x{px}_{i}"
        for i in range(dim))
    out.append(f"beta{px} AS MATERIALIZED ({sel})")
    return out


def _arima_211_sql(m=10, dp=7, steps=5):
    """Full Hannan-Rissanen ARIMA(2,1,1) replay in SQL: stage-1 long-AR
    (order ``m``) via 11-variable normal-equation elimination, residual
    proxies, stage-2 4-variable OLS (const + 2 AR lags + 1 MA lag),
    then the diff-space forecast recursion, d=1 integration, and the
    psi-weight recursion of 1/(phi(B)(1-B)) * theta(B) for the CI —
    mirroring ``models/arima.py`` with ``quantize=dp`` coefficient
    rounding at each stage boundary on both engines.  Assumes every
    series has > 2(m+1) observations (the fixture minimum is ~49)."""
    g1 = ",\n".join(_gauss_sql(1, m + 1, "aug1", dp))
    g2 = ",\n".join(_gauss_sql(2, 4, "aug2", dp))
    return f"""WITH RECURSIVE
s AS MATERIALIZED (
  SELECT user_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events),
w AS MATERIALIZED (
  SELECT user_id, rn - 1 AS t, cnt - 1 AS n,
         y - lag(y) OVER (PARTITION BY user_id ORDER BY rn) AS w
  FROM s QUALIFY w IS NOT NULL),
ylast AS (SELECT user_id, y AS y_last FROM s WHERE rn = cnt),
z1 AS MATERIALIZED (
  SELECT a.user_id, a.t, g.i,
         CASE WHEN g.i = 0 THEN 1.0::DOUBLE ELSE b.w END AS x,
         a.w AS yt,
         CASE WHEN g.i = 0 THEN 100
              ELSE CAST(round(b.w * 100) AS BIGINT) END AS xu,
         CAST(round(a.w * 100) AS BIGINT) AS ytu
  FROM w a
  CROSS JOIN (SELECT unnest(generate_series(0, {m})) AS i) g
  LEFT JOIN w b ON b.user_id = a.user_id AND b.t = a.t - g.i
  WHERE a.t > {m}),
aug1 AS MATERIALIZED (
  -- EXACT integer-unit Gram sums (0.01-grid data x 100), one descale
  -- division: identical bits on every engine regardless of
  -- accumulation order (mirrors models/arima.py:_ne_ols_quantized)
  SELECT zi.user_id, zi.i, zj.i AS j,
         sum(zi.xu * zj.xu)::DOUBLE / 10000.0 AS a
  FROM z1 zi JOIN z1 zj ON zi.user_id = zj.user_id AND zi.t = zj.t
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT user_id, i, {m + 1} AS j,
         sum(xu * ytu)::DOUBLE / 10000.0 AS a FROM z1 GROUP BY 1, 2),
{g1},
e AS MATERIALIZED (
  -- 3dp proxies by EXACT int64 half-away arithmetic (w x100 units,
  -- beta x10^dp units -> residual exact in 100*10^dp units); a float
  -- dot + round would accumulate engine-specific association error
  -- and break decimal ties half-to-even vs half-away
  SELECT w.user_id, w.t,
         CASE WHEN w.t <= {m} THEN 0.0::DOUBLE
              ELSE sign(CAST(round(w.w * 100) AS BIGINT) * {10 ** dp}
                        - p.predu)
                   * ((abs(CAST(round(w.w * 100) AS BIGINT) * {10 ** dp}
                           - p.predu) + {10 ** dp // 20})
                      // {10 ** dp // 10}) / 1000.0 END AS e
  FROM w LEFT JOIN (
    SELECT z1.user_id, z1.t,
           sum(z1.xu * CAST(round(b.v * {10 ** dp}) AS BIGINT))::BIGINT
               AS predu
    FROM z1 JOIN beta1 b ON b.user_id = z1.user_id AND b.i = z1.i
    GROUP BY 1, 2) p ON p.user_id = w.user_id AND p.t = w.t),
z2 AS MATERIALIZED (
  SELECT a.user_id, a.t, g.i,
         CASE g.i WHEN 0 THEN 1.0::DOUBLE
                  WHEN 1 THEN w1.w WHEN 2 THEN w2.w
                  ELSE e1.e END AS x,
         a.w AS yt,
         CASE g.i WHEN 0 THEN 100
                  WHEN 1 THEN CAST(round(w1.w * 100) AS BIGINT)
                  WHEN 2 THEN CAST(round(w2.w * 100) AS BIGINT)
                  ELSE CAST(round(e1.e * 1000) AS BIGINT) END AS xu,
         CAST(round(a.w * 100) AS BIGINT) AS ytu
  FROM w a
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g
  LEFT JOIN w w1 ON w1.user_id = a.user_id AND w1.t = a.t - 1
  LEFT JOIN w w2 ON w2.user_id = a.user_id AND w2.t = a.t - 2
  LEFT JOIN e e1 ON e1.user_id = a.user_id AND e1.t = a.t - 1
  WHERE a.t > 2),
aug2 AS MATERIALIZED (
  SELECT zi.user_id, zi.i, zj.i AS j,
         sum(zi.xu * zj.xu)::DOUBLE
         / ((CASE WHEN zi.i = 3 THEN 1000.0 ELSE 100.0 END)
            * (CASE WHEN zj.i = 3 THEN 1000.0 ELSE 100.0 END)) AS a
  FROM z2 zi JOIN z2 zj ON zi.user_id = zj.user_id AND zi.t = zj.t
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT user_id, i, 4 AS j,
         sum(xu * ytu)::DOUBLE
         / ((CASE WHEN i = 3 THEN 1000.0 ELSE 100.0 END) * 100.0) AS a
  FROM z2 GROUP BY 1, 2),
{g2},
coefs AS MATERIALIZED (
  SELECT user_id,
         max(CASE WHEN i = 0 THEN v END) AS c,
         max(CASE WHEN i = 1 THEN v END) AS phi1,
         max(CASE WHEN i = 2 THEN v END) AS phi2,
         max(CASE WHEN i = 3 THEN v END) AS theta1
  FROM beta2 GROUP BY user_id),
res2 AS MATERIALIZED (
  SELECT z2.user_id, z2.t,
         any_value(z2.yt) - sum(z2.x * b.v) AS res
  FROM z2 JOIN beta2 b ON b.user_id = z2.user_id AND b.i = z2.i
  GROUP BY z2.user_id, z2.t),
sg AS MATERIALIZED (
  SELECT r.user_id,
         -- 1e-4 grid, mirroring models/arima.py: the rss accumulation
         -- order differs between engines (~1e-13 relative), which can
         -- flip the 6dp CI-bound rounding at volume
         round(sum(r.res * r.res) / count(*), 4) AS sigma2,
         max(CASE WHEN r.t = mx.tmax THEN r.res END) AS e_last
  FROM res2 r JOIN (SELECT user_id, max(t) AS tmax FROM res2
                    GROUP BY 1) mx USING (user_id)
  GROUP BY r.user_id),
wl AS (
  SELECT user_id,
         max(CASE WHEN t = n THEN w END) AS w_n,
         max(CASE WHEN t = n - 1 THEN w END) AS w_n1
  FROM w GROUP BY user_id),
fc AS (  -- diff-space ARMA(2,1) recursion + integration + psi weights of
         -- theta(B)/(phi(B)(1-B)): ar = [1, -(1+phi1), phi1-phi2, phi2]
  SELECT c.user_id, 1 AS step,
         (c.c + c.phi1 * wl.w_n + c.phi2 * wl.w_n1
          + c.theta1 * sg.e_last) AS p_cur,
         wl.w_n AS p_prev,
         y.y_last + (c.c + c.phi1 * wl.w_n + c.phi2 * wl.w_n1
                     + c.theta1 * sg.e_last) AS fcv,
         1.0::DOUBLE AS psi_a, 0.0::DOUBLE AS psi_b,
         0.0::DOUBLE AS psi_c, 1.0::DOUBLE AS spsi
  FROM coefs c JOIN wl USING (user_id) JOIN sg USING (user_id)
  JOIN ylast y USING (user_id)
  UNION ALL
  SELECT fc.user_id, fc.step + 1,
         c.c + c.phi1 * fc.p_cur + c.phi2 * fc.p_prev,
         fc.p_cur,
         fc.fcv + (c.c + c.phi1 * fc.p_cur + c.phi2 * fc.p_prev),
         (CASE WHEN fc.step = 1 THEN c.theta1 ELSE 0.0::DOUBLE END)
           + (1 + c.phi1) * fc.psi_a - (c.phi1 - c.phi2) * fc.psi_b
           - c.phi2 * fc.psi_c,
         fc.psi_a, fc.psi_b,
         fc.spsi + pow((CASE WHEN fc.step = 1 THEN c.theta1
                             ELSE 0.0::DOUBLE END)
                       + (1 + c.phi1) * fc.psi_a
                       - (c.phi1 - c.phi2) * fc.psi_b
                       - c.phi2 * fc.psi_c, 2)
  FROM fc JOIN coefs c ON c.user_id = fc.user_id
  WHERE fc.step < {steps})
SELECT fc.user_id, CAST(step AS INT) AS step,
       round(fcv, 6) AS forecast,
       round(fcv - 1.959963986120195 * sqrt(sg.sigma2 * spsi), 6)
           AS ci_low,
       round(fcv + 1.959963986120195 * sqrt(sg.sigma2 * spsi), 6)
           AS ci_high
FROM fc JOIN sg ON sg.user_id = fc.user_id"""


@query("arima_forecast_by_user", _arima_211_sql())
def q_arima_forecast_by_user(spark, sf_dir):
    """Per-series ARIMA(2,1,1) 5-step forecast with 95% CIs under a FULL
    value-hash oracle: the Hannan-Rissanen two-stage fit (long-AR
    innovation proxy, then const + AR(2) + MA(1) OLS), the MA-term
    forecast recursion, d=1 integration, and the psi-weight CI widths
    are all replayed in SQL — normal-equation Gaussian elimination for
    both OLS stages, a recursive CTE for forecast + psi state.  Both
    engines quantize stage coefficients to 7 decimals
    (``ARIMA(quantize=7)``) so solver float noise cannot leak into the
    hash.  Invariants (CI sandwich, widening) stay golden-tested in
    tests/test_models.py; reference anchor ``models.py:312-316``."""
    from orange3_timeseries_spark.models import ARIMA, forecast_by_series

    out = forecast_by_series(_events(spark, sf_dir), ["value"],
                             lambda: ARIMA((2, 1, 1), quantize=7), steps=5)
    return out.select("user_id", "step", r6(F.col("forecast"), "forecast"),
                      r6(F.col("ci_low"), "ci_low"),
                      r6(F.col("ci_high"), "ci_high"))


@query("var_forecast_by_user", """
WITH base AS (
  SELECT user_id, ts, value AS v,
         avg(value) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS mw,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
  QUALIFY rn >= 12),
s AS (
  SELECT user_id, v, mw,
         lag(v) OVER (PARTITION BY user_id ORDER BY rn) AS v1,
         lag(mw) OVER (PARTITION BY user_id ORDER BY rn) AS m1,
         rn
  FROM base),
m AS (  -- centered second moments of the VAR(1) design per series
  SELECT user_id,
         covar_pop(v1, v1) * count(*) AS s11,
         covar_pop(m1, m1) * count(*) AS s22,
         covar_pop(v1, m1) * count(*) AS s12,
         covar_pop(v, v1) * count(*) AS p11,
         covar_pop(v, m1) * count(*) AS p12,
         covar_pop(mw, v1) * count(*) AS p21,
         covar_pop(mw, m1) * count(*) AS p22,
         avg(v) AS ybar1, avg(mw) AS ybar2,
         avg(v1) AS x1bar, avg(m1) AS x2bar
  FROM s WHERE v1 IS NOT NULL GROUP BY 1),
co AS (  -- per-equation 2-predictor OLS in closed form
  SELECT user_id,
         (s22 * p11 - s12 * p12) / (s11 * s22 - s12 * s12) AS a11,
         (s11 * p12 - s12 * p11) / (s11 * s22 - s12 * s12) AS a12,
         (s22 * p21 - s12 * p22) / (s11 * s22 - s12 * s12) AS a21,
         (s11 * p22 - s12 * p21) / (s11 * s22 - s12 * s12) AS a22,
         ybar1, ybar2, x1bar, x2bar
  FROM m),
cc AS (
  SELECT user_id, a11, a12, a21, a22,
         ybar1 - a11 * x1bar - a12 * x2bar AS c1,
         ybar2 - a21 * x1bar - a22 * x2bar AS c2
  FROM co),
lastv AS (
  SELECT user_id, last(v ORDER BY rn) AS vL, last(mw ORDER BY rn) AS mL
  FROM base GROUP BY 1),
f1 AS (  -- three iterated steps, expanded
  SELECT c.user_id,
         c.c1 + c.a11 * l.vL + c.a12 * l.mL AS f1v,
         c.c2 + c.a21 * l.vL + c.a22 * l.mL AS f1m,
         c.* EXCLUDE (user_id)
  FROM cc c JOIN lastv l ON c.user_id = l.user_id),
f2 AS (
  SELECT *, c1 + a11 * f1v + a12 * f1m AS f2v,
            c2 + a21 * f1v + a22 * f1m AS f2m FROM f1),
f3 AS (
  SELECT *, c1 + a11 * f2v + a12 * f2m AS f3v,
            c2 + a21 * f2v + a22 * f2m AS f3m FROM f2)
SELECT user_id, CAST(step AS INT) AS step, var, round(fc, 6) AS forecast
FROM f3, LATERAL (VALUES (1, 'value', f1v), (1, 'value (mean)', f1m),
                         (2, 'value', f2v), (2, 'value (mean)', f2m),
                         (3, 'value', f3v), (3, 'value (mean)', f3m))
          AS u(step, var, fc)
""")
def q_var_forecast_by_user(spark, sf_dir):
    """Per-series bivariate VAR(1) 3-step forecast over (value, its
    12-wide moving mean).  The oracle replays everything in SQL: the
    complete-window sliding mean, the per-equation 2-predictor OLS in
    covariance closed form (joint multivariate LS == per-equation OLS on
    a shared design), and the three iterated forecast steps expanded
    symbolically."""
    from orange3_timeseries_spark.models import VAR, forecast_by_series
    from orange3_timeseries_spark.operators.moving_transform import (
        KEEP_COMPLETE,
        sliding_window,
    )

    tsf = _events(spark, sf_dir)
    tsf = sliding_window(tsf, {"value": ["mean"]}, 12, keep=KEEP_COMPLETE)
    out = forecast_by_series(tsf, ["value", "value (mean)"],
                             lambda: VAR(1), steps=3)
    return out.select("user_id", "step", "var",
                      r6(F.col("forecast"), "forecast"))


@query("model_eval_by_user", """
WITH RECURSIVE
s AS (
  SELECT user_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS ylag
  FROM events),
folds AS (SELECT unnest([0, 1, 2]) AS fold),
-- fold 0 = full-series (in-sample) fit; fold f>=1 trains on y[: n-5f]
fit AS (
  SELECT s.user_id, f.fold,
         regr_intercept(s.y, s.ylag) AS c,
         regr_slope(s.y, s.ylag) AS phi,
         count(*)::DOUBLE AS m,
         regr_syy(s.y, s.ylag)
           - pow(regr_sxy(s.y, s.ylag), 2) / regr_sxx(s.y, s.ylag) AS rss
  FROM s CROSS JOIN folds f
  WHERE s.ylag IS NOT NULL AND s.rn <= s.n - f.fold * 5
  GROUP BY 1, 2),
ic AS (  -- AIC/BIC of the conditional-OLS fit (k = 2, sigma2 = rss/m)
  SELECT user_id, fold,
         4 + m * (ln(2 * pi() * rss / m) + 1) AS aic,
         2 * ln(m) + m * (ln(2 * pi() * rss / m) + 1) AS bic
  FROM fit),
last_train AS (  -- anchor of the forecast recursion: last train value
  SELECT s.user_id, f.fold, s.y AS y0
  FROM s JOIN (SELECT unnest([1, 2]) AS fold) f
    ON s.rn = s.n - f.fold * 5),
fc AS (  -- 5-step AR(1) recursion per (user, fold)
  SELECT lt.user_id, lt.fold, 1 AS h, fit.c + fit.phi * lt.y0 AS p
  FROM last_train lt JOIN fit ON fit.user_id = lt.user_id
                             AND fit.fold = lt.fold
  UNION ALL
  SELECT fc.user_id, fc.fold, fc.h + 1, fit.c + fit.phi * fc.p
  FROM fc JOIN fit ON fit.user_id = fc.user_id AND fit.fold = fc.fold
  WHERE fc.h < 5),
pool AS (  -- pooled OOS predictions in model_evaluation's extend order
  SELECT fc.user_id, (fc.fold - 1) * 5 + fc.h AS i, fc.p,
         s.y AS t
  FROM fc JOIN s ON s.user_id = fc.user_id
                AND s.rn = s.n - fc.fold * 5 + fc.h),
pool_d AS (  -- POCID diffs on the 6dp grid (mirrors metrics.pocid)
  SELECT user_id, i, t, p,
         round(t, 6) - lag(round(t, 6)) OVER (PARTITION BY user_id
                                              ORDER BY i) AS dt,
         round(p, 6) - lag(round(p, 6)) OVER (PARTITION BY user_id
                                              ORDER BY i) AS dp,
         avg(t) OVER (PARTITION BY user_id) AS tbar
  FROM pool),
oos AS (
  SELECT user_id,
         sqrt(sum(pow(t - p, 2)) / count(*)) AS rmse,
         median(abs(t - p)) AS mae,
         avg(abs(t - p)) / avg(abs(t)) AS mape,
         100.0 * avg(CASE WHEN dt * dp > 0 THEN 1.0 ELSE 0.0 END)
             FILTER (dt IS NOT NULL) AS pocid,
         1 - sum(pow(t - p, 2)) / sum(pow(t - tbar, 2)) AS r2
  FROM pool_d GROUP BY user_id),
fitted AS (  -- full-fit one-step fitted values (rn=1 row passes through)
  SELECT s.user_id, s.rn, s.y AS t,
         CASE WHEN s.rn = 1 THEN s.y ELSE fit.c + fit.phi * s.ylag END AS p
  FROM s JOIN fit ON fit.user_id = s.user_id AND fit.fold = 0),
fitted_d AS (  -- POCID diffs on the 6dp grid (mirrors metrics.pocid)
  SELECT user_id, rn, t, p,
         round(t, 6) - lag(round(t, 6)) OVER (PARTITION BY user_id
                                              ORDER BY rn) AS dt,
         round(p, 6) - lag(round(p, 6)) OVER (PARTITION BY user_id
                                              ORDER BY rn) AS dp,
         avg(t) OVER (PARTITION BY user_id) AS tbar
  FROM fitted),
ins AS (
  SELECT user_id,
         sqrt(sum(pow(t - p, 2)) / count(*)) AS rmse,
         median(abs(t - p)) AS mae,
         avg(abs(t - p)) / avg(abs(t)) AS mape,
         100.0 * avg(CASE WHEN dt * dp > 0 THEN 1.0 ELSE 0.0 END)
             FILTER (dt IS NOT NULL) AS pocid,
         1 - sum(pow(t - p, 2)) / sum(pow(t - tbar, 2)) AS r2
  FROM fitted_d GROUP BY user_id)
SELECT o.user_id, 'ARMA(1,0,0)' AS model, FALSE AS in_sample,
       round(o.rmse, 6) AS rmse, round(o.mae, 6) AS mae,
       round(o.mape, 6) AS mape, round(o.pocid, 6) AS pocid,
       round(o.r2, 6) AS r2,
       round(ic.aic, 6) AS aic, round(ic.bic, 6) AS bic
FROM oos o JOIN ic ON ic.user_id = o.user_id AND ic.fold = 2
UNION ALL
SELECT i.user_id, 'ARMA(1,0,0)' AS model, TRUE AS in_sample,
       round(i.rmse, 6), round(i.mae, 6), round(i.mape, 6),
       round(i.pocid, 6), round(i.r2, 6),
       round(ic.aic, 6), round(ic.bic, 6)
FROM ins i JOIN ic ON ic.user_id = i.user_id AND ic.fold = 0
""")
def q_model_eval_by_user(spark, sf_dir):
    """Per-series rolling-origin CV (2 folds x 5 steps) of AR(1):
    RMSE/MAE/MAPE/POCID/R2 + AIC/BIC for the pooled out-of-fold row and
    the in-sample row (``model_evaluation``, cf. ``functions.py:495-582``).

    Full value-hash oracle: the AR(1) 'hr' fit is the conditional OLS of
    y_t on (1, y_{t-1}) (regr_slope/regr_intercept per fold), the 5-step
    forecast is a recursive CTE, rss comes from the regression identity
    rss = syy - sxy^2/sxx, and the reference's metric quirks (mae =
    MEDIAN abs error, mape normalized by mean |true|, POCID over the
    pooled fold-concatenation order including the fold boundary pair, and
    the out-of-sample row carrying the LAST fold's AIC/BIC) are replayed
    verbatim."""
    from orange3_timeseries_spark.models import ARIMA, evaluate_by_series

    out = evaluate_by_series(_events(spark, sf_dir), "value",
                             [lambda: ARIMA((1, 0, 0))],
                             n_folds=2, forecast_steps=5)
    return out.select("user_id", "model", "in_sample",
                      r6(F.col("rmse"), "rmse"), r6(F.col("mae"), "mae"),
                      r6(F.col("mape"), "mape"),
                      r6(F.col("pocid"), "pocid"), r6(F.col("r2"), "r2"),
                      r6(F.col("aic"), "aic"), r6(F.col("bic"), "bic"))


@query("ar1_fitted_by_user", """
WITH s AS (
  SELECT user_id, event_id, ts, value AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS ylag
  FROM events),
fit AS (
  SELECT user_id,
         regr_intercept(y, ylag) AS c,
         regr_slope(y, ylag) AS phi
  FROM s WHERE ylag IS NOT NULL GROUP BY user_id)
SELECT s.user_id, s.event_id,
       round(CASE WHEN s.rn = 1 THEN s.y ELSE f.c + f.phi * s.ylag END, 6)
           AS fitted,
       round(s.y - CASE WHEN s.rn = 1 THEN s.y
                        ELSE f.c + f.phi * s.ylag END, 6) AS resid
FROM s JOIN fit f ON s.user_id = f.user_id
""")
def q_ar1_fitted_by_user(spark, sf_dir):
    """Per-series AR(1) in-sample fitted values + residuals
    (``fittedvalues``/``residuals``, ``models.py:62-128``) — oracle
    recomputes them from the OLS normal equations row by row."""
    from orange3_timeseries_spark.models import ARIMA
    from orange3_timeseries_spark.spark_analytics import _packed_map

    tsf = _events(spark, sf_dir)
    fields = [tsf.df.schema["event_id"],
              T.StructField("fitted", T.DoubleType()),
              T.StructField("resid", T.DoubleType())]

    def per_series(r):
        m = ARIMA((1, 0, 0)).fit(np.asarray(r["value"], dtype=float))
        return {"event_id": np.asarray(r["event_id"], dtype="int64"),
                "fitted": m.fittedvalues(),
                "resid": m.residuals()}

    # event_id packed at its native type: a double round-trip corrupts
    # ids above 2^53
    out = _packed_map(tsf, ["value", "event_id"], fields, per_series,
                      native_cols=("event_id",))
    return out.select("user_id", "event_id", r6(F.col("fitted"), "fitted"),
                      r6(F.col("resid"), "resid"))


def _auto_order_sql(m=10, dp=7,
                    orders=((1, 0, 0), (2, 0, 0), (1, 0, 1), (2, 0, 1),
                            (1, 1, 0), (2, 1, 0), (1, 1, 1), (2, 1, 1))):
    """Unrolled per-order Hannan-Rissanen AIC replay over the whole
    (p,d,q) grid: per differencing level one shared stage-1 long-AR
    (order ``m``) elimination + residual proxies, then per order a
    (1+p+q)-variable stage-2 elimination, residual RSS, and the exact
    engine IC formulas

        aic = 2k + rows*(ln(2*pi*rss/rows) + 1)
        bic = k*ln(rows) + rows*(ln(2*pi*rss/rows) + 1)

    with k = 1+p+q and rows = n_d - max(p,q); the per-series winner is
    the min over round(aic, 6) with (p,d,q) tie-break — the identical
    rounded ranking the engine applies, so float noise cannot flip the
    selected order on one side only."""
    ctes = [f"""s AS MATERIALIZED (
  SELECT user_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events),
wd0 AS MATERIALIZED (SELECT user_id, rn AS t, cnt AS n, y AS w FROM s),
wd1 AS MATERIALIZED (
  SELECT user_id, rn - 1 AS t, cnt - 1 AS n,
         y - lag(y) OVER (PARTITION BY user_id ORDER BY rn) AS w
  FROM s QUALIFY w IS NOT NULL)"""]
    # one stage-1 long-AR per differencing level that any MA order uses
    ds_with_ma = sorted({d for (_, d, q) in orders if q > 0})
    for d in ds_with_ma:
        ctes.append(f"""z1d{d} AS MATERIALIZED (
  SELECT a.user_id, a.t, g.i,
         CASE WHEN g.i = 0 THEN 1.0::DOUBLE ELSE b.w END AS x,
         a.w AS yt,
         CASE WHEN g.i = 0 THEN 100
              ELSE CAST(round(b.w * 100) AS BIGINT) END AS xu,
         CAST(round(a.w * 100) AS BIGINT) AS ytu
  FROM wd{d} a
  CROSS JOIN (SELECT unnest(generate_series(0, {m})) AS i) g
  LEFT JOIN wd{d} b ON b.user_id = a.user_id AND b.t = a.t - g.i
  WHERE a.t > {m}),
aug1d{d} AS MATERIALIZED (
  SELECT zi.user_id, zi.i, zj.i AS j,
         sum(zi.xu * zj.xu)::DOUBLE / 10000.0 AS a
  FROM z1d{d} zi JOIN z1d{d} zj
    ON zi.user_id = zj.user_id AND zi.t = zj.t
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT user_id, i, {m + 1} AS j,
         sum(xu * ytu)::DOUBLE / 10000.0 AS a
  FROM z1d{d} GROUP BY 1, 2)""")
        ctes.extend(_gauss_sql(f"1d{d}", m + 1, f"aug1d{d}", dp))
        ctes.append(f"""ed{d} AS MATERIALIZED (
  SELECT w.user_id, w.t,
         CASE WHEN w.t <= {m} THEN 0.0::DOUBLE
              ELSE sign(CAST(round(w.w * 100) AS BIGINT) * {10 ** dp}
                        - p.predu)
                   * ((abs(CAST(round(w.w * 100) AS BIGINT) * {10 ** dp}
                           - p.predu) + {10 ** dp // 20})
                      // {10 ** dp // 10}) / 1000.0 END AS e
  FROM wd{d} w LEFT JOIN (
    SELECT z.user_id, z.t,
           sum(z.xu * CAST(round(b.v * {10 ** dp}) AS BIGINT))::BIGINT
               AS predu
    FROM z1d{d} z JOIN beta1d{d} b
      ON b.user_id = z.user_id AND b.i = z.i
    GROUP BY 1, 2) p ON p.user_id = w.user_id AND p.t = w.t)""")
    ic_names = []
    for (p, d, q) in orders:
        r = max(p, q)
        dim = 1 + p + q
        o = f"{p}{d}{q}"
        cases = ["WHEN 0 THEN 1.0::DOUBLE"]
        ucases = ["WHEN 0 THEN 100"]
        joins = []
        for j in range(1, p + 1):
            cases.append(f"WHEN {j} THEN w{j}.w")
            ucases.append(f"WHEN {j} THEN CAST(round(w{j}.w * 100)"
                          f" AS BIGINT)")
            joins.append(f"  LEFT JOIN wd{d} w{j} ON w{j}.user_id = "
                         f"a.user_id AND w{j}.t = a.t - {j}")
        for j in range(1, q + 1):
            cases.append(f"WHEN {p + j} THEN e{j}.e")
            ucases.append(f"WHEN {p + j} THEN CAST(round(e{j}.e * 1000)"
                          f" AS BIGINT)")
            joins.append(f"  LEFT JOIN ed{d} e{j} ON e{j}.user_id = "
                         f"a.user_id AND e{j}.t = a.t - {j}")
        # descale: 100 units for const/series lags, 1000 for MA proxies
        si = (f"(CASE WHEN zi.i > {p} THEN 1000.0 ELSE 100.0 END)"
              if q else "100.0")
        sj = (f"(CASE WHEN zj.i > {p} THEN 1000.0 ELSE 100.0 END)"
              if q else "100.0")
        sr = (f"(CASE WHEN i > {p} THEN 1000.0 ELSE 100.0 END)"
              if q else "100.0")
        ctes.append(f"""z{o} AS MATERIALIZED (
  SELECT a.user_id, a.t, g.i,
         CASE g.i {' '.join(cases)} END AS x,
         a.w AS yt,
         CASE g.i {' '.join(ucases)} END AS xu,
         CAST(round(a.w * 100) AS BIGINT) AS ytu
  FROM wd{d} a
  CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS i) g
{chr(10).join(joins)}
  WHERE a.t > {r}),
aug{o} AS MATERIALIZED (
  SELECT zi.user_id, zi.i, zj.i AS j,
         sum(zi.xu * zj.xu)::DOUBLE / ({si} * {sj}) AS a
  FROM z{o} zi JOIN z{o} zj
    ON zi.user_id = zj.user_id AND zi.t = zj.t
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT user_id, i, {dim} AS j,
         sum(xu * ytu)::DOUBLE / ({sr} * 100.0) AS a
  FROM z{o} GROUP BY 1, 2)""")
        ctes.extend(_gauss_sql(o, dim, f"aug{o}", dp))
        ctes.append(f"""ic{o} AS (
  SELECT r.user_id, {p} AS p, {d} AS d, {q} AS q,
         {dim} AS k, count(*) AS nrows, sum(r.res * r.res) AS rss
  FROM (
    SELECT z.user_id, z.t,
           any_value(z.yt) - sum(z.x * b.v) AS res
    FROM z{o} z JOIN beta{o} b
      ON b.user_id = z.user_id AND b.i = z.i
    GROUP BY z.user_id, z.t) r
  GROUP BY 1)""")
        ic_names.append(f"SELECT * FROM ic{o}")
    ctes.append(f"""allic AS (
  SELECT user_id, p, d, q,
         2 * k + nrows * (ln(2 * pi() * (rss / nrows)) + 1) AS aic,
         k * ln(nrows) + nrows * (ln(2 * pi() * (rss / nrows)) + 1)
             AS bic
  FROM ({' UNION ALL '.join(ic_names)}))""")
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT user_id, p, d, q, round(aic, 6) AS aic, round(bic, 6) AS bic
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
      ORDER BY round(aic, 6), p, d, q) AS rk
  FROM allic) t
WHERE rk = 1"""


@query("arima_auto_order_by_user", _auto_order_sql())
def q_arima_auto_order_by_user(spark, sf_dir):
    """Automatic ARIMA order selection per series — the step the
    reference leaves to manual spinners (``owarimamodel.py:48-55``):
    the 8-order (p,d,q) grid fits distributed over grid × series (the
    packed table explodes per candidate order), AIC decides, (p,d,q)
    breaks ties.  The oracle replays the ENTIRE grid — per differencing
    level one stage-1 long-AR elimination, per order a stage-2
    elimination + RSS + the exact AIC/BIC formulas — and re-derives the
    same winner, so both the fits and the selection are value-hash
    verified.  Both engines quantize stage coefficients to 7 decimals
    and rank on round(aic, 6)."""
    from orange3_timeseries_spark.models.spark import (
        auto_arima_order_by_series,
    )

    out = auto_arima_order_by_series(_events(spark, sf_dir), "value",
                                     quantize=7)
    return out.select("user_id", "p", "d", "q",
                      r6(F.col("aic"), "aic"), r6(F.col("bic"), "bic"))


@query("adf_test_by_user", """
WITH b AS (
  SELECT user_id, ts, value::DOUBLE AS y,
         lag(value::DOUBLE) OVER w AS x,
         value::DOUBLE - lag(value::DOUBLE) OVER w AS t
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
rws AS (
  SELECT user_id, x, t,
         lag(t) OVER (PARTITION BY user_id ORDER BY ts) AS d
  FROM b
  QUALIFY t IS NOT NULL AND x IS NOT NULL AND d IS NOT NULL),
g AS (
  SELECT user_id, count(*)::DOUBLE AS n,
         round(sum(x), 7) AS sx, round(sum(d), 7) AS sd,
         round(sum(t), 7) AS st,
         round(sum(x*x), 7) AS sxx, round(sum(d*d), 7) AS sdd,
         round(sum(x*d), 7) AS sxd,
         round(sum(x*t), 7) AS sxt, round(sum(d*t), 7) AS sdt,
         round(sum(t*t), 7) AS stt
  FROM rws GROUP BY 1
  HAVING count(*) >= 10),
c AS (
  SELECT *,
         (n*(sxx*sdd - sxd*sxd) - sx*(sx*sdd - sxd*sd)
          + sd*(sx*sxd - sxx*sd)) AS det
  FROM g),
coef AS (
  SELECT *,
         (st*(sxx*sdd - sxd*sxd) - sx*(sxt*sdd - sxd*sdt)
          + sd*(sxt*sxd - sxx*sdt)) / det AS a_,
         (n*(sxt*sdd - sdt*sxd) - st*(sx*sdd - sxd*sd)
          + sd*(sx*sdt - sxt*sd)) / det AS b_,
         (n*(sxx*sdt - sxd*sxt) - sx*(sx*sdt - sxt*sd)
          + st*(sx*sxd - sxx*sd)) / det AS g_
  FROM c),
fin AS (
  SELECT user_id, n, b_ AS beta,
         b_ / sqrt(((stt - (a_*st + b_*sxt + g_*sdt)) / (n - 3.0))
                   * ((n*sdd - sd*sd) / det)) AS tau,
         (-3.43035 + -6.5393/n + -16.786/(n*n)
          + -79.433/(n*n*n)) AS cv1,
         (-2.86154 + -2.8903/n + -4.234/(n*n)
          + -40.04/(n*n*n)) AS cv5,
         (-2.56677 + -1.5384/n + -2.809/(n*n)
          + 0.0/(n*n*n)) AS cv10
  FROM coef)
SELECT user_id, n::BIGINT AS n_obs, round(beta, 6) AS beta,
       round(tau, 6) AS tau, round(cv1, 6) AS cv_1pct,
       round(cv5, 6) AS cv_5pct, round(cv10, 6) AS cv_10pct,
       tau < cv5 AS stationary_5pct
FROM fin
""")
def q_adf_test_by_user(spark, sf_dir):
    """Augmented Dickey-Fuller unit-root test per series (constant, one
    augmented lag): the automatic 'does this series need differencing'
    decision the reference leaves to the user's d spinner
    (``owarimamodel.py:48-55``).  Pure Catalyst — ten map-combinable
    Gram sums per series, then closed-form Cramer's-rule algebra and
    MacKinnon (2010) critical-value surfaces; exchanges = 1.  The
    oracle replays the identical rounded-Gram firewall and scalar
    formulas, so the statistic AND the stationarity verdict are
    value-hash-verified."""
    from orange3_timeseries_spark.operators.stattests import adf_test

    df = read_table(spark, sf_dir, "events")
    out = adf_test(df, "ts", "value", ["user_id"], quantize=7)
    return out.select("user_id", "n_obs", r6(F.col("beta"), "beta"),
                      r6(F.col("tau"), "tau"),
                      r6(F.col("cv_1pct"), "cv_1pct"),
                      r6(F.col("cv_5pct"), "cv_5pct"),
                      r6(F.col("cv_10pct"), "cv_10pct"),
                      "stationary_5pct")


@query("kpss_test_by_user", """
WITH base AS (
  SELECT user_id,
         row_number() OVER w AS rn,
         round(value::DOUBLE
               - round(avg(value::DOUBLE) OVER p, 7), 7) AS e,
         count(*) OVER p AS T
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts),
         p AS (PARTITION BY user_id)),
ws AS (
  SELECT user_id, rn, e, T,
         sum(e) OVER (PARTITION BY user_id ORDER BY rn) AS S
  FROM base WHERE T >= 10),
num AS (
  SELECT user_id, round(sum(S * S), 7) AS ssq,
         round(sum(e * e), 7) AS g0,
         max(T)::DOUBLE AS T,
         CAST(floor(4.0 * pow(max(T) / 100.0, 0.25)) AS INT) AS l
  FROM ws GROUP BY 1),
lagcov AS (
  SELECT a.user_id, a.rn - b.rn AS j,
         round(sum(a.e * b.e), 7) AS gj
  FROM ws a
  JOIN ws b ON b.user_id = a.user_id
  JOIN num n ON n.user_id = a.user_id
  WHERE a.rn - b.rn >= 1 AND a.rn - b.rn <= n.l
  GROUP BY 1, 2),
wsum AS (
  SELECT lc.user_id,
         round(sum((1.0 - lc.j / (n.l + 1.0)) * lc.gj), 7) AS wg
  FROM lagcov lc JOIN num n USING (user_id)
  GROUP BY 1),
fin AS (
  SELECT n.user_id, n.T, n.l,
         (n.ssq / (n.T * n.T))
             / ((n.g0 + 2.0 * coalesce(w.wg, 0.0)) / n.T) AS eta
  FROM num n LEFT JOIN wsum w USING (user_id))
SELECT user_id, T::BIGINT AS n_obs, round(eta, 6) AS eta, l AS lags,
       0.739::DOUBLE AS cv_1pct, 0.463::DOUBLE AS cv_5pct,
       0.347::DOUBLE AS cv_10pct,
       eta < 0.463 AS stationary_5pct
FROM fin
""")
def q_kpss_test_by_user(spark, sf_dir):
    """KPSS level-stationarity test per series — ADF's reversed-null
    complement (KPSS null = stationary), completing the standard joint
    differencing decision.  Partial sums and demeaning are window
    functions; Bartlett lag covariances come from one band self-join
    bounded by the l4 bandwidth; everything Catalyst with the rounded
    firewall, and the oracle replays statistic AND verdict."""
    from orange3_timeseries_spark.operators.stattests import kpss_test

    df = read_table(spark, sf_dir, "events")
    out = kpss_test(df, "ts", "value", ["user_id"], quantize=7)
    return out.select("user_id", "n_obs", r6(F.col("eta"), "eta"),
                      "lags", "cv_1pct", "cv_5pct", "cv_10pct",
                      "stationary_5pct")


@query("ljung_box_by_user", """
WITH s AS (
  SELECT user_id,
         value - avg(value) OVER (PARTITION BY user_id) AS xd,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
p AS (
  SELECT a.user_id, (b.rn - a.rn) AS lag, sum(a.xd * b.xd) AS sp,
         any_value(a.n) AS n
  FROM s a JOIN s b
    ON a.user_id = b.user_id AND b.rn - a.rn BETWEEN 0 AND 10
  GROUP BY 1, 2),
a2 AS (
  SELECT user_id, lag, n,
         round(sp / first_value(sp)
                   OVER (PARTITION BY user_id ORDER BY lag), 7) AS acf
  FROM p QUALIFY lag >= 1 AND n > 10),
g AS (
  SELECT user_id, max(n)::DOUBLE AS n,
         sum(acf * acf / (n - lag)) AS ssum
  FROM a2 GROUP BY 1),
fin AS (
  SELECT user_id, n, n * (n + 2.0) * ssum AS q_stat
  FROM g),
pv AS (
  SELECT user_id, n, q_stat, q_stat / 2.0 AS half
  FROM fin)
SELECT user_id, n::BIGINT AS n_obs, round(q_stat, 6) AS q_stat,
       10 AS df,
       round(exp(-half) * (pow(half, 0) / 1.0 + pow(half, 1) / 1.0
             + pow(half, 2) / 2.0 + pow(half, 3) / 6.0
             + pow(half, 4) / 24.0), 6) AS p_value,
       (exp(-half) * (pow(half, 0) / 1.0 + pow(half, 1) / 1.0
             + pow(half, 2) / 2.0 + pow(half, 3) / 6.0
             + pow(half, 4) / 24.0)) > 0.05 AS white_noise_5pct
FROM pv
""")
def q_ljung_box_by_user(spark, sf_dir):
    """Ljung-Box portmanteau white-noise test per series (10 lags) —
    the residual-diagnostics step after any fit.  The chi-square
    p-value uses the CLOSED-FORM integer-shape survival function
    (lags even → shape 5 → a 5-term polynomial), so statistic,
    p-value, and verdict are all replayed exactly; autocovariances
    come from the same band self-join the ACF oracle uses."""
    from orange3_timeseries_spark.operators.stattests import ljung_box

    df = read_table(spark, sf_dir, "events")
    out = ljung_box(df, "ts", "value", ["user_id"], lags=10)
    return out.select("user_id", "n_obs", r6(F.col("q_stat"), "q_stat"),
                      "df", r6(F.col("p_value"), "p_value"),
                      "white_noise_5pct")


@query("engle_granger_by_user", """
WITH mw AS (
  SELECT user_id, ts, value::DOUBLE AS y,
         round(avg(value::DOUBLE) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN 11 PRECEDING
                                                 AND CURRENT ROW), 7) AS x
  FROM events),
s AS (
  SELECT user_id, ts, y, x,
         count(*) OVER p::DOUBLE AS n,
         round(sum(x) OVER p, 7) AS sx, round(sum(y) OVER p, 7) AS sy,
         round(sum(x*x) OVER p, 7) AS sxx,
         round(sum(x*y) OVER p, 7) AS sxy
  FROM mw WINDOW p AS (PARTITION BY user_id)),
co AS (
  SELECT user_id, ts, n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b_raw,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 7) AS b,
         sy, sx
  FROM s),
u AS (
  SELECT s.user_id, s.ts, co.b_raw AS b,
         round(s.y - (round((co.sy - co.b * co.sx) / co.n, 7)
                      + co.b * s.x), 7) AS u
  FROM s JOIN co ON co.user_id = s.user_id AND co.ts = s.ts),
st2 AS (
  SELECT user_id, b,
         lag(u) OVER (PARTITION BY user_id ORDER BY ts) AS ul,
         u - lag(u) OVER (PARTITION BY user_id ORDER BY ts) AS du
  FROM u QUALIFY ul IS NOT NULL),
g AS (
  SELECT user_id, max(b) AS beta, count(*)::DOUBLE AS m,
         round(sum(ul * du), 7) AS sud,
         round(sum(ul * ul), 7) AS suu,
         round(sum(du * du), 7) AS sdd
  FROM st2 GROUP BY 1
  HAVING count(*) >= 10),
fin AS (
  SELECT user_id, beta, m,
         (sud / suu)
             / sqrt(((sdd - (sud / suu) * sud) / (m - 1.0)) / suu)
             AS tau,
         (-3.89644 + -10.9519/m + -22.527/(m*m)) AS cv1,
         (-3.33613 + -6.1101/m + -6.823/(m*m)) AS cv5,
         (-3.04445 + -4.2412/m + -2.720/(m*m)) AS cv10
  FROM g)
SELECT user_id, m::BIGINT AS n_obs, round(beta, 6) AS beta,
       round(tau, 6) AS tau, round(cv1, 6) AS cv_1pct,
       round(cv5, 6) AS cv_5pct, round(cv10, 6) AS cv_10pct,
       tau < cv5 AS cointegrated_5pct
FROM fin
""")
def q_engle_granger_by_user(spark, sf_dir):
    """Engle-Granger cointegration per series between the value and its
    12-point trailing mean (the same co-moving pair the VAR fixture
    uses): step-1 OLS via unbounded-window sums (residuals computed per
    row, NO join back), step-2 no-constant DF on the residuals with
    MacKinnon N=2 critical surfaces.  Pure Catalyst with the rounded
    firewall; oracle replays both steps and the verdict."""
    from orange3_timeseries_spark.operators.stattests import (
        engle_granger,
    )

    d = read_table(spark, sf_dir, "events")
    mw = d.select(
        "user_id", "ts", F.col("value").cast("double").alias("y"),
        F.round(
            F.avg(F.col("value").cast("double"))
            .over(__import__("pyspark.sql.window", fromlist=["Window"])
                  .Window.partitionBy("user_id").orderBy("ts")
                  .rowsBetween(-11, 0)), 7).alias("x"))
    out = engle_granger(mw, "ts", "y", "x", ["user_id"], quantize=7)
    return out.select("user_id", "n_obs", r6(F.col("beta"), "beta"),
                      r6(F.col("tau"), "tau"),
                      r6(F.col("cv_1pct"), "cv_1pct"),
                      r6(F.col("cv_5pct"), "cv_5pct"),
                      r6(F.col("cv_10pct"), "cv_10pct"),
                      "cointegrated_5pct")


@query("gap_profile_by_user", """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY user_id ORDER BY ts)) / 1e6 AS gp
  FROM events QUALIFY gp IS NOT NULL),
r AS (
  SELECT user_id, gp,
         row_number() OVER (PARTITION BY user_id ORDER BY gp) AS rk,
         count(*) OVER (PARTITION BY user_id) AS ng
  FROM g),
med AS (
  SELECT user_id,
         max(CASE WHEN rk = (ng + 1) // 2 THEN gp END) AS median_gap_s,
         max(gp) AS max_gap_s, count(*) AS n_gaps
  FROM r GROUP BY 1),
sc AS (
  SELECT g.user_id,
         CAST(sum(greatest(round(g.gp / m.median_gap_s, 0) - 1, 0.0))
              AS BIGINT) AS missing_est
  FROM g JOIN med m USING (user_id) GROUP BY 1)
SELECT m.user_id, (m.n_gaps + 1)::BIGINT AS n_obs,
       m.n_gaps::BIGINT AS n_gaps,
       round(m.median_gap_s, 6) AS median_gap_s,
       round(m.max_gap_s, 6) AS max_gap_s, s.missing_est,
       round((m.n_gaps + 1)::DOUBLE / (m.n_gaps + 1 + s.missing_est), 6)
           AS coverage
FROM med m JOIN sc s USING (user_id)
""")
def q_gap_profile_by_user(spark, sf_dir):
    """Per-series sampling-gap profile — data-quality triage before
    interpolation/modeling: exact median and max inter-observation gap,
    missing-grid-point estimate (round(gap/median)-1 per gap), coverage
    ratio.  One lag window + one groupBy + one skinny join; the oracle
    replays gaps, exact median, and the estimate."""
    from orange3_timeseries_spark.operators.stattests import gap_profile

    d = read_table(spark, sf_dir, "events")
    out = gap_profile(d, "ts", ["user_id"])
    return out.select("user_id", "n_obs", "n_gaps",
                      r6(F.col("median_gap_s"), "median_gap_s"),
                      r6(F.col("max_gap_s"), "max_gap_s"),
                      "missing_est", r6(F.col("coverage"), "coverage"))


@query("winsorize_by_user", """
WITH r AS (
  SELECT user_id, event_id, value::DOUBLE AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY value::DOUBLE)
             AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
b AS (
  SELECT user_id,
         max(CASE WHEN rk = greatest(floor(n * 0.05), 1)
                  THEN v END) AS lo,
         max(CASE WHEN rk = least(ceil(n * 0.95), n) THEN v END) AS hi
  FROM r GROUP BY 1)
SELECT r.user_id, r.event_id,
       round(least(greatest(r.v, b.lo), b.hi), 6) AS v_winsorized,
       least(greatest(r.v, b.lo), b.hi) != r.v AS v_clamped
FROM r JOIN b USING (user_id)
""")
def q_winsorize_by_user(spark, sf_dir):
    """Per-series 5/95% winsorization — robust preprocessing before
    model fits: clamp to quantile ELEMENTS (lower-element selection,
    engine-portable like gap_profile's median) and flag clamped rows.
    One window pass + skinny bounds join; oracle replays the rank
    selection and the clamp."""
    from orange3_timeseries_spark.operators.stattests import winsorize

    d = read_table(spark, sf_dir, "events")
    out = winsorize(d, "value", ["user_id"], lower=0.05, upper=0.95)
    return out.select("user_id", "event_id",
                      r6(F.col("value_winsorized"), "v_winsorized"),
                      F.col("value_clamped").alias("v_clamped"))


@query("temporal_split_events", """
WITH b AS (
  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
s AS (
  SELECT e.user_id, e.event_id,
         CASE WHEN epoch_us(e.ts) <= b.mn + ((b.mx - b.mn) * 7) // 10
              THEN 'train'
              WHEN epoch_us(e.ts) <= b.mn + ((b.mx - b.mn) * 85) // 100
              THEN 'val' ELSE 'test' END AS split
  FROM events e, b)
SELECT user_id, event_id, split FROM s
""")
def q_temporal_split_events(spark, sf_dir):
    """TEMPORAL train/val/test split (70/15/15 by event-time range) —
    the leakage-safe split for forecasting data, where a hash split
    would leak the future into training (the time-series counterpart
    of the cluster-aware ``leakage_safe_split``).  Map-only against a
    broadcast 1-row bounds aggregate; cutoffs in integer microseconds
    so both engines compare exactly."""
    d = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    b = d.agg(F.min(us).alias("__mn__"), F.max(us).alias("__mx__"))
    j = d.crossJoin(F.broadcast(b))
    span = F.col("__mx__") - F.col("__mn__")
    t_tr = F.col("__mn__") + F.floor(span * 7 / 10).cast("long")
    t_va = F.col("__mn__") + F.floor(span * 85 / 100).cast("long")
    split = (F.when(us <= t_tr, "train")
             .when(us <= t_va, "val").otherwise("test"))
    return j.select("user_id", "event_id", split.alias("split"))


@query("rolling_corr_by_user", """
WITH m AS (
  SELECT user_id, ts, value::DOUBLE AS y,
         round(avg(value::DOUBLE) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN 11 PRECEDING
                                                 AND CURRENT ROW), 7)
             AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events),
w AS (
  SELECT user_id, rn,
         count(*) OVER win AS n,
         round(sum(y) OVER win, 7) AS sy,
         round(sum(x) OVER win, 7) AS sx,
         round(sum(y*y) OVER win, 7) AS syy,
         round(sum(x*x) OVER win, 7) AS sxx,
         round(sum(x*y) OVER win, 7) AS sxy
  FROM m
  WINDOW win AS (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
SELECT user_id, rn::INT AS idx,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS corr
FROM w WHERE rn >= 24
""")
def q_rolling_corr_by_user(spark, sf_dir):
    """Rolling 24-point Pearson correlation between each series and its
    12-point trailing mean — the windowed co-movement monitor (pairs
    trading, sensor cross-checks).  Window sums only, rounded-sum
    firewall, closed-form correlation; rows before a full window are
    suppressed (Complete keep policy)."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "events")
    wts = Window.partitionBy("user_id").orderBy("ts")
    y = F.col("value").cast("double")
    m = d.select("user_id",
                 F.round(F.avg(y).over(wts.rowsBetween(-11, 0)), 7)
                 .alias("x"),
                 y.alias("y"),
                 F.row_number().over(wts).alias("rn"))
    win = Window.partitionBy("user_id").orderBy("rn") \
        .rowsBetween(-23, 0)
    r7 = lambda c: F.round(c, 7)  # noqa: E731
    x, yy = F.col("x"), F.col("y")
    w = m.select(
        "user_id", "rn",
        F.count(F.lit(1)).over(win).alias("n"),
        r7(F.sum(yy).over(win)).alias("sy"),
        r7(F.sum(x).over(win)).alias("sx"),
        r7(F.sum(yy * yy).over(win)).alias("syy"),
        r7(F.sum(x * x).over(win)).alias("sxx"),
        r7(F.sum(x * yy).over(win)).alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy_, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = ((n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy_ - sy * sy)))
    return (w.where(F.col("rn") >= 24)
            .select("user_id", F.col("rn").cast("int").alias("idx"),
                    r6(corr, "corr")))


@query("ecm_fit_by_user", """
WITH mw AS (
  SELECT user_id, ts, value::DOUBLE AS y,
         round(avg(value::DOUBLE) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN 11 PRECEDING
                                                 AND CURRENT ROW), 7) AS x
  FROM events),
s AS (
  SELECT user_id, ts, y, x,
         count(*) OVER p::DOUBLE AS n,
         round(sum(x) OVER p, 7) AS sx, round(sum(y) OVER p, 7) AS sy,
         round(sum(x*x) OVER p, 7) AS sxx,
         round(sum(x*y) OVER p, 7) AS sxy
  FROM mw WINDOW p AS (PARTITION BY user_id)),
co AS (
  SELECT user_id, ts, n,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 7) AS b,
         sy, sx
  FROM s),
u AS (
  SELECT s.user_id, s.ts, s.y, s.x,
         round(s.y - (round((co.sy - co.b * co.sx) / co.n, 7)
                      + co.b * s.x), 7) AS u
  FROM s JOIN co ON co.user_id = s.user_id AND co.ts = s.ts),
st2 AS (
  SELECT user_id,
         y - lag(y) OVER w AS t, x - lag(x) OVER w AS d,
         lag(u) OVER w AS e
  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  QUALIFY t IS NOT NULL AND d IS NOT NULL AND e IS NOT NULL),
g AS (
  SELECT user_id, count(*)::DOUBLE AS n,
         round(sum(e), 7) AS sx, round(sum(d), 7) AS sd,
         round(sum(t), 7) AS st,
         round(sum(e*e), 7) AS sxx, round(sum(d*d), 7) AS sdd,
         round(sum(e*d), 7) AS sxd,
         round(sum(e*t), 7) AS sxt, round(sum(d*t), 7) AS sdt
  FROM st2 GROUP BY 1
  HAVING count(*) >= 10),
c AS (
  SELECT *,
         (n*(sxx*sdd - sxd*sxd) - sx*(sx*sdd - sxd*sd)
          + sd*(sx*sxd - sxx*sd)) AS det
  FROM g),
fin AS (
  SELECT user_id, n,
         (st*(sxx*sdd - sxd*sxd) - sx*(sxt*sdd - sxd*sdt)
          + sd*(sxt*sxd - sxx*sdt)) / det AS alpha,
         (n*(sxt*sdd - sdt*sxd) - st*(sx*sdd - sxd*sd)
          + sd*(sx*sdt - sxt*sd)) / det AS ec_gamma,
         (n*(sxx*sdt - sxd*sxt) - sx*(sx*sdt - sxt*sd)
          + st*(sx*sxd - sxx*sd)) / det AS beta_dx
  FROM c)
SELECT user_id, n::BIGINT AS n_obs, round(alpha, 6) AS alpha,
       round(ec_gamma, 6) AS ec_gamma, round(beta_dx, 6) AS beta_dx,
       ec_gamma < 0 AS ec_valid
FROM fin
""")
def q_ecm_fit_by_user(spark, sf_dir):
    """Error-correction model per series (the modeling step after the
    Engle-Granger verdict, on the same value / trailing-mean pair):
    Δy on (const, u_{t-1}, Δx) — the error-correction speed γ must be
    negative, each period closing -γ of the gap to the long-run
    relation.  Same closed-form Cramer plan as ADF; the oracle replays
    both steps and the validity verdict."""
    from orange3_timeseries_spark.operators.stattests import ecm_fit

    d = read_table(spark, sf_dir, "events")
    mw = d.select(
        "user_id", "ts", F.col("value").cast("double").alias("y"),
        F.round(
            F.avg(F.col("value").cast("double"))
            .over(__import__("pyspark.sql.window", fromlist=["Window"])
                  .Window.partitionBy("user_id").orderBy("ts")
                  .rowsBetween(-11, 0)), 7).alias("x"))
    out = ecm_fit(mw, "ts", "y", "x", ["user_id"], quantize=7)
    return out.select("user_id", "n_obs", r6(F.col("alpha"), "alpha"),
                      r6(F.col("ec_gamma"), "ec_gamma"),
                      r6(F.col("beta_dx"), "beta_dx"), "ec_valid")


def _var_auto_sql(maxlag=3, dp=7, sel_dp=4):
    """Per-lag replay of the VAR(2-variable) AIC: the (m+2)x(m+2)
    augmented Gram [[Z'Z, Z'Y], [Y'Z, Y'Y]] is forward-eliminated
    through the m predictor pivots only; the remaining 2x2 block IS the
    ML residual cross-product (Schur complement) — no back-substitution
    needed for an IC.  aic = ln(det(S)/rows^2) + 2*free/rows,
    free = 4p + 2.  Selection and display round to ``sel_dp`` so a
    ~1e-10 Gram-rounding wobble can never flip the argmin on one engine
    only (cf. the EG double-rounding lesson)."""
    ctes = ["""base AS MATERIALIZED (
  SELECT user_id,
         value::DOUBLE AS y1,
         round(avg(value::DOUBLE) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN 11 PRECEDING
                                                 AND CURRENT ROW), 7)
             AS y2,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events)"""]
    sels = []
    for p in range(0, maxlag + 1):
        m = 1 + 2 * p
        cases = ["WHEN 0 THEN 1.0::DOUBLE"]
        joins = []
        for lag in range(1, p + 1):
            cases.append(f"WHEN {1 + 2*(lag-1)} THEN l{lag}.y1")
            cases.append(f"WHEN {2 + 2*(lag-1)} THEN l{lag}.y2")
            joins.append(f"  LEFT JOIN base l{lag} ON l{lag}.user_id = "
                         f"a.user_id AND l{lag}.rn = a.rn - {lag}")
        cases.append(f"WHEN {m} THEN a.y1")
        cases.append(f"WHEN {m + 1} THEN a.y2")
        ctes.append(f"""z{p} AS MATERIALIZED (
  SELECT a.user_id, a.rn, g.i,
         CASE g.i {' '.join(cases)} END AS x
  FROM base a
  CROSS JOIN (SELECT unnest(generate_series(0, {m + 1})) AS i) g
{chr(10).join(joins)}
  WHERE a.rn > {p}),
aug{p}_0 AS MATERIALIZED (
  SELECT zi.user_id, zi.i, zj.i AS j, sum(round(zi.x * zj.x, 12)) AS a
  FROM z{p} zi JOIN z{p} zj
    ON zi.user_id = zj.user_id AND zi.rn = zj.rn
  GROUP BY 1, 2, 3)""")
        prev = f"aug{p}_0"
        # normalize: round the Gram once before elimination
        ctes.append(f"""augr{p} AS MATERIALIZED (
  SELECT user_id, i, j, round(a, {dp}) AS a FROM {prev})""")
        prev = f"augr{p}"
        for k in range(m):
            cur = f"e{p}_{k}"
            ctes.append(f"""{cur} AS MATERIALIZED (
  SELECT t.user_id, t.i, t.j,
         CASE WHEN t.i > {k} THEN t.a - f.a / d.a * r.a ELSE t.a END AS a
  FROM {prev} t
  JOIN (SELECT user_id, a FROM {prev} WHERE i = {k} AND j = {k}) d
    USING (user_id)
  JOIN (SELECT user_id, i, a FROM {prev} WHERE j = {k}) f
    ON f.user_id = t.user_id AND f.i = t.i
  JOIN (SELECT user_id, j, a FROM {prev} WHERE i = {k}) r
    ON r.user_id = t.user_id AND r.j = t.j)""")
            prev = cur
        ctes.append(f"""ic{p} AS (
  SELECT s.user_id, {p} AS k_ar, n.rows,
         ln((s00 * s11 - s01 * s01) / (n.rows * n.rows))
             + 2.0 * {4 * p + 2} / n.rows AS aic
  FROM (
    SELECT user_id,
           max(CASE WHEN i = {m} AND j = {m} THEN a END) AS s00,
           max(CASE WHEN i = {m} AND j = {m + 1} THEN a END) AS s01,
           max(CASE WHEN i = {m + 1} AND j = {m + 1} THEN a END) AS s11
    FROM {prev} GROUP BY 1) s
  JOIN (SELECT user_id, (cnt - {p})::DOUBLE AS rows FROM base
        GROUP BY user_id, cnt
        HAVING cnt - {p} > {p} * 2 + 3) n
    ON n.user_id = s.user_id)""")
        sels.append(f"SELECT user_id, k_ar, rows, aic FROM ic{p}")
    body = ",\n".join(ctes)
    un = " UNION ALL ".join(sels)
    return f"""WITH {body},
allic AS ({un})
SELECT user_id, k_ar, rows::BIGINT AS n_obs,
       round(aic, {sel_dp}) AS aic
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY round(aic, {sel_dp}), k_ar) AS rk FROM allic) t
WHERE rk = 1"""


@query("var_auto_lag_by_user", _var_auto_sql())
def q_var_auto_lag_by_user(spark, sf_dir):
    """Automatic VAR lag-order selection per series (lags 0..3 on the
    (value, 12-pt trailing mean) pair, AIC argmin) — the vector
    counterpart of the auto-ARIMA order search, exposing the model
    tier's IC machinery as a fleet-scale query.  The oracle replays
    every lag's multivariate fit WITHOUT back-substitution: forward-
    eliminating the [[Z'Z, Z'Y],[Y'Z, Y'Y]] augmented Gram through the
    predictor pivots leaves the ML residual cross-product as the Schur
    complement, from which ln det and the AIC follow directly."""
    from orange3_timeseries_spark.models.var import _fit_var
    from orange3_timeseries_spark.spark_analytics import _columns, _packed_map
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "events")
    w12 = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-11, 0)
    base = d.select(
        "user_id", "ts", F.col("value").cast("double").alias("y1"),
        F.round(F.avg(F.col("value").cast("double")).over(w12), 7)
        .alias("y2"))
    fields = [T.StructField("k_ar", T.IntegerType()),
              T.StructField("n_obs", T.LongType()),
              T.StructField("aic", T.DoubleType())]

    def per_series(r):
        y = np.column_stack([np.asarray(r["y1"], dtype=float),
                             np.asarray(r["y2"], dtype=float)])
        n = y.shape[0]
        return _columns(fields, [(p, n - p, float(_fit_var(y, p, "c").aic))
                                 for p in range(0, 4)
                                 if n - p > p * 2 + 3])

    scored = _packed_map(
        TimeSeriesFrame(base, time_col="ts", series_cols=["user_id"]),
        ["y1", "y2"], fields, per_series)
    win = Window.partitionBy("user_id").orderBy(
        F.round(F.col("aic"), 4), F.col("k_ar"))
    return (scored.withColumn("__rk__", F.row_number().over(win))
            .where(F.col("__rk__") == 1)
            .select("user_id", "k_ar", "n_obs",
                    F.round(F.col("aic"), 4).alias("aic")))


@query("arima_registry_forecast_by_user", _arima_211_sql())
def q_arima_registry_forecast_by_user(spark, sf_dir):
    """The MODEL-PERSISTENCE path under the SAME full HR replay oracle
    as ``arima_forecast_by_user``: fit ARIMA(2,1,1) per series into a
    parquet model table (coefficients + state tails, no pickle), write
    it, READ IT BACK, and forecast from the loaded table without
    refitting or touching the history.  Hash-green here proves the
    persisted state is sufficient and the serve-time recursion is
    bit-faithful to the fit-time one (models/registry.py)."""
    import os
    import tempfile

    from orange3_timeseries_spark.models.registry import (
        arima_model_table,
        forecast_from_model_table,
        read_model_table,
        write_model_table,
    )

    tsf = _events(spark, sf_dir)
    models = arima_model_table(tsf, ["value"], order=(2, 1, 1),
                               quantize=7)
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_models_{os.getpid()}")
    write_model_table(models, path)
    out = forecast_from_model_table(read_model_table(spark, path),
                                    steps=5)
    return out.select("user_id", "step",
                      r6(F.col("forecast"), "forecast"),
                      r6(F.col("ci_low"), "ci_low"),
                      r6(F.col("ci_high"), "ci_high"))


from orange3_timeseries_spark.queries import ORACLE_SQL as _OS  # noqa: E402


@query("var_registry_forecast_by_user", _OS["var_forecast_by_user"])
def q_var_registry_forecast_by_user(spark, sf_dir):
    """The VAR persistence path under the SAME closed-form replay
    oracle as ``var_forecast_by_user``: fit the bivariate VAR(1) per
    series into a parquet model table (lag matrices + trend coefs +
    last-k_ar rows), write, READ BACK, forecast without refitting —
    hash-green proves the persisted state fully determines the
    forecast (models/registry.py)."""
    import os
    import tempfile

    from orange3_timeseries_spark.models.registry import (
        forecast_from_var_model_table,
        read_model_table,
        var_model_table,
        write_model_table,
    )
    from orange3_timeseries_spark.operators.moving_transform import (
        KEEP_COMPLETE,
        sliding_window,
    )

    tsf = _events(spark, sf_dir)
    tsf = sliding_window(tsf, {"value": ["mean"]}, 12, keep=KEEP_COMPLETE)
    models = var_model_table(tsf, ["value", "value (mean)"], maxlags=1)
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_var_models_{os.getpid()}")
    write_model_table(models, path)
    out = forecast_from_var_model_table(read_model_table(spark, path),
                                        steps=3)
    return out.select("user_id", "step", "var",
                      r6(F.col("forecast"), "forecast"))


@query("mann_kendall_by_user", """
WITH base AS (
  SELECT user_id, ts, value::DOUBLE AS y
  FROM events WHERE value IS NOT NULL),
nn AS (
  SELECT user_id, count(*) AS n FROM base GROUP BY 1
  HAVING count(*) BETWEEN 2 AND 10000),
p AS (
  SELECT a.user_id,
         sign(b.y - a.y) AS sg,
         round((b.y - a.y)
               / ((epoch_us(b.ts) - epoch_us(a.ts)) / 86400000000.0),
               6) AS slope
  FROM base a JOIN base b ON a.user_id = b.user_id AND a.ts < b.ts),
agg AS (
  SELECT user_id, sum(sg)::DOUBLE AS s,
         list_sort(list(slope)) AS slopes
  FROM p GROUP BY 1),
tc AS (
  SELECT user_id, sum(t*(t-1)*(2*t+5)) AS tcorr FROM (
    SELECT user_id, count(*)::DOUBLE AS t
    FROM base GROUP BY user_id, y) GROUP BY 1),
fin AS (
  SELECT nn.user_id, nn.n::DOUBLE AS n, s, slopes, tcorr,
         (nn.n::DOUBLE * (nn.n::DOUBLE - 1) * (2 * nn.n::DOUBLE + 5)
          - tcorr) / 18.0 AS var_s
  FROM nn JOIN agg ON nn.user_id = agg.user_id
  JOIN tc ON nn.user_id = tc.user_id
  WHERE (nn.n::DOUBLE * (nn.n::DOUBLE - 1) * (2 * nn.n::DOUBLE + 5)
         - tcorr) / 18.0 > 0),
zed AS (
  SELECT user_id, n, s, var_s,
         round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                    WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                    ELSE 0.0 END, 6) AS z6,
         slopes[(len(slopes) + 1) // 2] AS med_slope
  FROM fin)
SELECT user_id, n::BIGINT AS n_obs, s::BIGINT AS s_stat,
       round(var_s, 6) AS var_s, z6 AS z,
       med_slope AS sen_slope,
       CASE WHEN z6 > 1.959964 THEN 'increasing'
            WHEN z6 < -1.959964 THEN 'decreasing'
            ELSE 'no trend' END AS trend,
       abs(z6) > 1.959964 AS significant_5pct
FROM zed
""")
def q_mann_kendall_by_user(spark, sf_dir):
    """Mann-Kendall trend test + Sen's slope per series — the
    distribution-free 'is this metric trending' monitor the reference's
    parametric tier (ARIMA trend terms, ``owarimamodel.py``) has no
    answer for.  S / Var S are integer-exact; z carries the continuity
    correction; Sen's slope is an exact lower-median ELEMENT of
    6-dp-rounded pairwise slopes (per day, via integer-microsecond
    deltas).  The oracle replays the identical pairwise join, tie
    correction, and element selection — statistic, slope, and the
    trend verdict are all value-hash-verified."""
    from orange3_timeseries_spark.operators.trend import mann_kendall

    df = read_table(spark, sf_dir, "events")
    return mann_kendall(df, "ts", "value", ["user_id"])


@query("theil_sen_by_user", """
WITH base AS (
  SELECT user_id, ts, value::DOUBLE AS y
  FROM events WHERE value IS NOT NULL),
nn AS (
  SELECT user_id, count(*) AS n FROM base GROUP BY 1
  HAVING count(*) BETWEEN 2 AND 10000),
p AS (
  SELECT a.user_id,
         round((b.y - a.y)
               / ((epoch_us(b.ts) - epoch_us(a.ts)) / 86400000000.0),
               6) AS slope
  FROM base a JOIN base b ON a.user_id = b.user_id AND a.ts < b.ts),
sl2 AS (
  SELECT user_id, n, slopes[(len(slopes) + 1) // 2] AS slope FROM (
    SELECT p.user_id, nn.n, list_sort(list(slope)) AS slopes
    FROM p JOIN nn ON p.user_id = nn.user_id
    GROUP BY p.user_id, nn.n)),
anchored AS (
  SELECT base.user_id, y,
         epoch_us(ts) - min(epoch_us(ts))
             OVER (PARTITION BY base.user_id) AS us0
  FROM base JOIN sl2 ON base.user_id = sl2.user_id),
lev AS (
  SELECT anchored.user_id, sl2.n, sl2.slope,
         round(y - sl2.slope * (us0 / 86400000000.0), 6) AS level
  FROM anchored JOIN sl2 ON anchored.user_id = sl2.user_id),
fin AS (
  SELECT user_id, n, slope, list_sort(list(level)) AS levels
  FROM lev GROUP BY user_id, n, slope)
SELECT user_id, n::BIGINT AS n_obs,
       slope AS slope_per_day,
       levels[(len(levels) + 1) // 2] AS intercept
FROM fin
""")
def q_theil_sen_by_user(spark, sf_dir):
    """Theil-Sen robust line fit per series (slope = median pairwise
    slope, intercept = median residual level anchored at the series
    start) — up to 29% outlier breakdown vs 0% for the OLS trend the
    parametric tier uses.  Shares the pairwise machinery (and its
    linear-in-users scale story) with ``mann_kendall_by_user``; both
    medians are exact element selections over 6-dp-rounded inputs,
    replayed verbatim in the oracle."""
    from orange3_timeseries_spark.operators.trend import theil_sen

    df = read_table(spark, sf_dir, "events")
    return theil_sen(df, "ts", "value", ["user_id"])


@query("pettitt_by_user", """
WITH base AS (
  SELECT user_id, ts, value::DOUBLE AS y
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT user_id, ts, y,
         rank() OVER (PARTITION BY user_id ORDER BY y)
           + (count(*) OVER (PARTITION BY user_id, y) - 1) / 2.0 AS rr
  FROM base),
c AS (
  SELECT user_id, ts,
         sum(rr) OVER (PARTITION BY user_id ORDER BY ts, y
                       ROWS UNBOUNDED PRECEDING) AS cr,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, y) AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM r),
u AS (
  SELECT user_id, ts, t, n, n::DOUBLE AS nd,
         abs(2 * cr - t * (n::DOUBLE + 1)) AS uu
  FROM c WHERE t < n),
b AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY uu DESC, t) AS rn
  FROM u)
SELECT user_id, n::BIGINT AS n_obs, uu AS k_stat, ts AS change_ts,
       round(least(1.0, 2 * exp(-6 * uu * uu / (nd*nd*nd + nd*nd))),
             6) AS p_value,
       round(least(1.0, 2 * exp(-6 * uu * uu / (nd*nd*nd + nd*nd))),
             6) < 0.05 AS significant_5pct
FROM b WHERE rn = 1
""")
def q_pettitt_by_user(spark, sf_dir):
    """Pettitt rank-based single change-point test per series — the
    nonparametric sibling of ``changepoint_by_user``'s mean-shift
    statistic, with an actual significance level (closed-form
    ``2·exp(−6K²/(n³+n²))``).  Average ranks make U_t exact
    half-integer arithmetic, so K and the change point are bit-exact;
    only the p-value touches floats (one exp, rounded 6 dp).  Two
    window passes per series, no join, no UDF."""
    from orange3_timeseries_spark.operators.trend import pettitt_test

    df = read_table(spark, sf_dir, "events")
    return pettitt_test(df, "ts", "value", ["user_id"])


@query("seasonal_mann_kendall_by_user", """
WITH base AS (
  SELECT user_id,
         (epoch_us(ts) // 86400000000 + 3) % 7 AS season,
         ts, value::DOUBLE AS y
  FROM events WHERE value IS NOT NULL),
nn AS (
  SELECT user_id, season, count(*) AS n FROM base GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND 10000),
p AS (
  SELECT a.user_id, a.season,
         sign(b.y - a.y) AS sg,
         round((b.y - a.y)
               / ((epoch_us(b.ts) - epoch_us(a.ts)) / 86400000000.0),
               6) AS slope
  FROM base a JOIN base b
    ON a.user_id = b.user_id AND a.season = b.season AND a.ts < b.ts
  JOIN nn ON a.user_id = nn.user_id AND a.season = nn.season),
ps AS (
  SELECT user_id, season, sum(sg)::DOUBLE AS sg FROM p GROUP BY 1, 2),
tc AS (
  SELECT user_id, season, sum(t*(t-1)*(2*t+5)) AS tcorr FROM (
    SELECT user_id, season, count(*)::DOUBLE AS t
    FROM base GROUP BY user_id, season, y) GROUP BY 1, 2),
vg AS (
  SELECT ps.user_id, ps.season, ps.sg, nn.n,
         (nn.n::DOUBLE * (nn.n::DOUBLE - 1) * (2 * nn.n::DOUBLE + 5)
          - tcorr) / 18.0 AS var_g
  FROM ps JOIN nn ON ps.user_id = nn.user_id AND ps.season = nn.season
  JOIN tc ON ps.user_id = tc.user_id AND ps.season = tc.season),
comb AS (
  SELECT user_id, sum(n)::BIGINT AS n_obs, count(*)::BIGINT AS n_seasons,
         sum(sg) AS s, sum(var_g) AS var_s
  FROM vg GROUP BY 1 HAVING sum(var_g) > 0),
sl AS (
  SELECT user_id, list_sort(list(slope)) AS slopes FROM p GROUP BY 1),
zed AS (
  SELECT comb.user_id, n_obs, n_seasons, s, var_s,
         round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                    WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                    ELSE 0.0 END, 6) AS z6,
         slopes[(len(slopes) + 1) // 2] AS med_slope
  FROM comb JOIN sl ON comb.user_id = sl.user_id)
SELECT user_id, n_obs, n_seasons, s::BIGINT AS s_stat,
       round(var_s, 6) AS var_s, z6 AS z,
       med_slope AS sen_slope,
       CASE WHEN z6 > 1.959964 THEN 'increasing'
            WHEN z6 < -1.959964 THEN 'decreasing'
            ELSE 'no trend' END AS trend,
       abs(z6) > 1.959964 AS significant_5pct
FROM zed
""")
def q_seasonal_mann_kendall_by_user(spark, sf_dir):
    """Seasonal Mann-Kendall (Hirsch-Slack independent-seasons form)
    per series with day-of-week seasons — the trend monitor that a
    weekly cycle can neither fake nor hide.  The season key is the
    epoch-day formula ``(days + 3) mod 7`` (dayofweek() origins differ
    between engines); within-season S/VarS sum per series, and the
    seasonal Kendall slope pools all within-season pairwise slopes
    (operators/trend.py:seasonal_mann_kendall)."""
    from orange3_timeseries_spark.operators.trend import (
        seasonal_mann_kendall,
    )

    ev = read_table(spark, sf_dir, "events")
    season = F.expr("pmod(unix_micros(ts) div 86400000000 + 3, 7)")
    return seasonal_mann_kendall(ev, "ts", "value", ["user_id"], season)


@query("conformal_ar1_by_user", """
WITH base AS (
  SELECT user_id, ts, value::DOUBLE AS y,
         row_number() OVER w AS t,
         count(*) OVER (PARTITION BY user_id) AS n,
         lag(value::DOUBLE) OVER w AS ylag
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
b2 AS (SELECT *, floor(n::DOUBLE * 0.8) AS ntr FROM base),
fit AS (
  SELECT user_id, count(*)::DOUBLE AS m,
         round(sum(ylag), 7) AS sx, round(sum(y), 7) AS sy,
         round(sum(ylag * y), 7) AS sxy,
         round(sum(ylag * ylag), 7) AS sxx
  FROM b2 WHERE t >= 2 AND t <= ntr GROUP BY 1
  HAVING count(*) >= 10),
coef AS (
  SELECT user_id, m, sx, sy,
         (m * sxy - sx * sy) / (m * sxx - sx * sx) AS phi
  FROM fit WHERE (m * sxx - sx * sx) <> 0),
coef2 AS (
  SELECT user_id, phi, (sy - phi * sx) / m AS c FROM coef),
cal AS (
  SELECT b2.user_id,
         round(abs(y - (c + phi * ylag)), 7) AS r
  FROM b2 JOIN coef2 USING (user_id)
  WHERE t > ntr AND ylag IS NOT NULL),
calagg AS (
  SELECT user_id, count(*) AS mc, list_sort(list(r)) AS rs
  FROM cal GROUP BY 1 HAVING count(*) >= 5),
qh AS (
  SELECT user_id, mc,
         rs[least(ceil(0.9 * (mc::DOUBLE + 1))::INT, mc::INT)] AS q
  FROM calagg),
lastv AS (SELECT user_id, n, y AS ylast FROM b2 WHERE t = n)
SELECT l.user_id, n::BIGINT AS n_obs, mc::BIGINT AS n_cal,
       c + phi * ylast AS fc1,
       q AS q_hat,
       (c + phi * ylast) - q AS lo,
       (c + phi * ylast) + q AS hi
FROM lastv l JOIN coef2 USING (user_id) JOIN qh USING (user_id)
""")
def q_conformal_ar1_by_user(spark, sf_dir):
    """Split-conformal one-step interval around the AR(1) forecast per
    series: distribution-free ≥90% coverage from an exact ELEMENT
    quantile of held-out absolute residuals — the honest band when
    the ±z·σ Gaussian CI assumption fails.  Train/calibration split,
    Gram sums, residual quantile and the interval all replay in SQL
    (operators/stattests.py:conformal_ar1_interval)."""
    from orange3_timeseries_spark.operators.stattests import (
        conformal_ar1_interval,
    )

    ev = read_table(spark, sf_dir, "events")
    return conformal_ar1_interval(ev, "ts", "value", ["user_id"])


@query("binseg_changepoints_by_user", """
WITH base AS (
  SELECT user_id, ts, value::DOUBLE AS y
  FROM events WHERE value IS NOT NULL),
rk1 AS (
  SELECT user_id, ts, y,
         rank() OVER (PARTITION BY user_id ORDER BY y)
           + (count(*) OVER (PARTITION BY user_id, y) - 1) / 2.0 AS rr
  FROM base),
c1 AS (
  SELECT user_id, ts, y,
         sum(rr) OVER (PARTITION BY user_id ORDER BY ts, y
                       ROWS UNBOUNDED PRECEDING) AS cr,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, y) AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM rk1),
u1 AS (SELECT user_id, ts, t, n, n::DOUBLE AS nd,
              abs(2 * cr - t * (n::DOUBLE + 1)) AS uu
       FROM c1 WHERE t < n),
b1 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                    ORDER BY uu DESC, t) AS rn
       FROM u1),
l1 AS (SELECT user_id, n, uu, ts, t AS k1,
              round(least(1.0, 2 * exp(-6 * uu * uu
                                       / (nd*nd*nd + nd*nd))), 6) AS p6
       FROM b1 WHERE rn = 1),
seg AS (
  SELECT c1.user_id, c1.ts, c1.y,
         CASE WHEN c1.t <= l1.k1 THEN 0 ELSE 1 END AS sg,
         CASE WHEN c1.t <= l1.k1 THEN l1.k1 ELSE c1.n - l1.k1 END AS slen
  FROM c1 JOIN l1 ON c1.user_id = l1.user_id
  WHERE l1.p6 < 0.05),
base2 AS (SELECT user_id, sg, ts, y FROM seg WHERE slen >= 10),
rk2 AS (
  SELECT user_id, sg, ts, y,
         rank() OVER (PARTITION BY user_id, sg ORDER BY y)
           + (count(*) OVER (PARTITION BY user_id, sg, y) - 1) / 2.0
             AS rr
  FROM base2),
c2 AS (
  SELECT user_id, sg, ts,
         sum(rr) OVER (PARTITION BY user_id, sg ORDER BY ts, y
                       ROWS UNBOUNDED PRECEDING) AS cr,
         row_number() OVER (PARTITION BY user_id, sg
                            ORDER BY ts, y) AS t,
         count(*) OVER (PARTITION BY user_id, sg) AS n
  FROM rk2),
u2 AS (SELECT user_id, sg, ts, t, n, n::DOUBLE AS nd,
              abs(2 * cr - t * (n::DOUBLE + 1)) AS uu
       FROM c2 WHERE t < n),
b2 AS (SELECT *, row_number() OVER (PARTITION BY user_id, sg
                                    ORDER BY uu DESC, t) AS rn
       FROM u2),
l2 AS (SELECT user_id, sg, n, uu, ts,
              round(least(1.0, 2 * exp(-6 * uu * uu
                                       / (nd*nd*nd + nd*nd))), 6) AS p6
       FROM b2 WHERE rn = 1)
SELECT user_id, 1 AS level, 0 AS segment, n::BIGINT AS n_obs,
       uu AS k_stat, ts AS change_ts, p6 AS p_value,
       p6 < 0.05 AS significant_5pct
FROM l1
UNION ALL
SELECT user_id, 2 AS level, sg AS segment, n::BIGINT, uu, ts, p6,
       p6 < 0.05
FROM l2
""")
def q_binseg_changepoints_by_user(spark, sf_dir):
    """Depth-2 binary segmentation over the Pettitt statistic per
    series: the whole-series test, then — where the level-1 split is
    significant — an independent re-test of each side (the binseg
    stopping rule; sides shorter than 2·min_seg=10 are not re-tested).
    Up to three change points per series from exact half-integer rank
    arithmetic; the segment boundary crossing the recursion is the
    INTEGER argmax position, so nothing float feeds level 2
    (operators/trend.py:binseg_changepoints)."""
    from orange3_timeseries_spark.operators.trend import (
        binseg_changepoints,
    )

    df = read_table(spark, sf_dir, "events")
    return binseg_changepoints(df, "ts", "value", ["user_id"], min_seg=5)


def _garch_sql():
    grid_vals = ", ".join(
        f"({a}::DOUBLE, {b}::DOUBLE)" for a, b in
        [(0.05, 0.90), (0.05, 0.80), (0.05, 0.70),
         (0.10, 0.85), (0.10, 0.80), (0.10, 0.70),
         (0.15, 0.80), (0.20, 0.75), (0.20, 0.70)])
    return f"""
WITH RECURSIVE b AS (
  SELECT user_id, ts,
         CAST(round(value::DOUBLE * 100.0) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL),
l AS (
  SELECT user_id, ts,
         u - lag(u) OVER (PARTITION BY user_id ORDER BY ts) AS r
  FROM b),
m AS (
  SELECT user_id, count(*)::BIGINT AS n, sum(r)::BIGINT AS d,
         sum(r * r)::BIGINT AS s2u, list(r ORDER BY ts) AS arr
  FROM l WHERE r IS NOT NULL GROUP BY 1 HAVING count(*) >= 40),
v AS (
  SELECT user_id, n, arr,
         (n::DOUBLE * s2u::DOUBLE - d::DOUBLE * d::DOUBLE)
           / ((n::DOUBLE * n::DOUBLE) * 10000.0) AS vbar
  FROM m),
v2 AS (SELECT * FROM v WHERE vbar > 0),
grid(alpha, beta) AS (VALUES {grid_vals}),
rec AS (
  SELECT user_id, alpha, beta, arr, n, vbar,
         0::BIGINT AS t, vbar AS s2, 0.0::DOUBLE AS ll
  FROM v2 CROSS JOIN grid
  UNION ALL
  SELECT user_id, alpha, beta, arr, n, vbar, t + 1,
         (1.0 - alpha - beta) * vbar
           + alpha * ((arr[CAST(t + 1 AS INT)]
                       * arr[CAST(t + 1 AS INT)])::DOUBLE / 10000.0)
           + beta * s2,
         ll - (ln(s2) + ((arr[CAST(t + 1 AS INT)]
                          * arr[CAST(t + 1 AS INT)])::DOUBLE / 10000.0)
               / s2)
  FROM rec WHERE t < n)
SELECT user_id, alpha, beta, n AS n_obs,
       round((1.0 - alpha - beta) * vbar, 6) AS omega,
       round(ll, 6) AS loglik, round(s2, 6) AS sigma2_next
FROM rec WHERE t = n
"""


@query("garch_grid_by_user", _garch_sql())
def q_garch_grid_by_user(spark, sf_dir):
    """GARCH(1,1) conditional-volatility grid fit per series: variance
    targeting over 9 (alpha, beta) points with the Gaussian
    log-likelihood emitted for EVERY point — volatility clustering is
    the one stylized fact the conditional-mean tier (ARIMA/VAR) cannot
    see, and the grid output avoids any float argmax a 1-ulp wobble
    could flip.  The sigma^2/loglik recursion runs as one Catalyst
    aggregate fold over the packed return array; the oracle replays it
    step-by-step through a recursive CTE
    (models/garch.py:garch_grid)."""
    from orange3_timeseries_spark.models.garch import garch_grid

    ev = read_table(spark, sf_dir, "events")
    return garch_grid(ev, "ts", "value", ["user_id"])


@query("mase_naive_by_user", """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         sum(round(value * 100)::BIGINT) AS u
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
r0 AS (
  SELECT user_id, u,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         lag(u) OVER (PARTITION BY user_id ORDER BY day) AS lu
  FROM daily),
r AS (
  SELECT *, max(CASE WHEN rn = n - 5 THEN u END)
                OVER (PARTITION BY user_id) AS anchor
  FROM r0),
g AS (
  SELECT user_id, max(n)::BIGINT AS n_days,
         sum(CASE WHEN rn > n - 5 THEN abs(u - anchor) END)::BIGINT
             AS se,
         sum(CASE WHEN rn >= 2 AND rn <= n - 5 THEN abs(u - lu)
             END)::BIGINT AS sd,
         sum(CASE WHEN rn >= 2 AND rn <= n - 5 THEN 1 END)::BIGINT
             AS md
  FROM r WHERE n >= 10 GROUP BY user_id)
SELECT user_id, n_days,
       se::DOUBLE / 5.0 / 100.0 AS mae,
       round(sd::DOUBLE / nullif(md, 0)::DOUBLE / 100.0, 6)
           AS naive_scale,
       round((se * md)::DOUBLE / nullif(5 * sd, 0)::DOUBLE, 6) AS mase
FROM g
""")
def q_mase_naive_by_user(spark, sf_dir):
    """MASE of the naive forecaster per user over the daily rollup
    (operators/backtest.py:naive_mase): last-5-observed-days holdout
    scored against the train one-step naive MAE — the scale-free
    companion to ``model_eval_by_user``'s rmse/mae/mape/pocid
    (functions.py:495-582), comparable across series of different
    magnitude.  Both error sums are exact BIGINT unit sums; mase is an
    integer-domain product with one float division, so the oracle
    replays it bit-for-bit."""
    from orange3_timeseries_spark.operators.backtest import naive_mase

    ev = read_table(spark, sf_dir, "events")
    return naive_mase(ev, "ts", "user_id", "value",
                      test_len=5, min_obs=10)
