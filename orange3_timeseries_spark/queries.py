"""The driver-contract query registry: named queries implemented through the
engine's operators, each paired with an equivalent DuckDB oracle SQL.

Conventions (driver compares row count + schema + order-insensitive value
hash, cf. /root/repo/__spark_entry__.py docstring):

- every computed column is aliased identically on both sides;
- float aggregates are rounded identically on both sides — 6 dp for means /
  per-window values (error ~1e-13), 2 dp for large whole-table sums where
  summation-order drift approaches 1e-6 absolute;
- DuckDB ``date_trunc`` returns DATE at day+ granularity → oracles cast to
  TIMESTAMP to match Spark's ``date_trunc``;
- counts are BIGINT on both sides.

Each Spark callable takes ``(spark, sf_dir)`` and is defensive about the
driver's session: it pins the UTC timezone / non-ANSI / nanos-parquet confs
at runtime (cf. session.py).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.operators.difference import (
    DIFF,
    DIFF2,
    PERC,
    difference,
)
from orange3_timeseries_spark.operators.moving_transform import (
    KEEP_ALL,
    KEEP_COMPLETE,
    KEEP_LAST,
    period_aggregation,
    sequential_blocks,
    sliding_window,
)
from orange3_timeseries_spark.operators.spiralogram import spiralogram
from orange3_timeseries_spark.operators.timeslice import time_slice
from orange3_timeseries_spark.session import ensure_session_conf
from orange3_timeseries_spark.sources import read_table

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: Dict[str, str] = {}


def query(name: str, sql: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_conf(spark)
            return fn(spark, sf_dir)
        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            # a silent overwrite de-verifies the earlier registration:
            # its driver rows keep looking green while the semantics
            # under the name have changed (the r9 hurst_rs_by_user
            # incident) — fail loud at import instead
            raise ValueError(
                f"duplicate @query registration: {name!r}")
        QUERIES[name] = wrapped
        if sql is not None:
            ORACLE_SQL[name] = sql
        return wrapped
    return deco


def _events(spark, sf_dir) -> TimeSeriesFrame:
    df = read_table(spark, sf_dir, "events")
    return TimeSeriesFrame(df, time_col="ts", series_cols=["user_id"])


def r6(c, name):
    return F.round(c, 6).alias(name)


# --------------------------------------------------------------- window aggs
@query("sliding_mean_sum", """
SELECT user_id, ts,
       round(avg(value) OVER w, 6) AS mean4,
       round(sum(value) OVER w, 6) AS sum4
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
      FROM events) t
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
QUALIFY rn >= 4
""")
def q_sliding_mean_sum(spark, sf_dir):
    """Per-series sliding mean+sum, width 4, complete windows
    (SURVEY §2.4 sliding mode)."""
    out = sliding_window(_events(spark, sf_dir),
                         {"value": ["mean", "sum"]}, 4, keep=KEEP_COMPLETE)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (mean)"), "mean4"),
                         r6(F.col("value (sum)"), "sum4"))


@query("sliding_robust", """
SELECT user_id, ts,
       round(median(value) OVER w, 6) AS med7,
       round(min(value) OVER w, 6) AS min7,
       round(max(value) OVER w, 6) AS max7,
       round(max(value) OVER w - min(value) OVER w, 6) AS span7
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
      FROM events) t
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
QUALIFY rn >= 7
""")
def q_sliding_robust(spark, sf_dir):
    """Sliding median/min/max/span, width 7 (SURVEY §2.4: median, span)."""
    out = sliding_window(_events(spark, sf_dir),
                         {"value": ["median", "min", "max", "span"]}, 7,
                         keep=KEEP_COMPLETE)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (median)"), "med7"),
                         r6(F.col("value (min)"), "min7"),
                         r6(F.col("value (max)"), "max7"),
                         r6(F.col("value (span)"), "span7"))


@query("sliding_var_std", """
SELECT user_id, ts,
       round(var_pop(value) OVER w, 6) AS var5,
       round(stddev_pop(value) OVER w, 6) AS std5
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
      FROM events) t
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
QUALIFY rn >= 5
""")
def q_sliding_var_std(spark, sf_dir):
    """Population variance/std over sliding width 5 (ddof=0 parity,
    SURVEY §4.6)."""
    out = sliding_window(_events(spark, sf_dir),
                         {"value": ["var", "std"]}, 5, keep=KEEP_COMPLETE)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (var)"), "var5"),
                         r6(F.col("value (std)"), "std5"))


@query("strided_window", """
SELECT user_id, ts, round(avg(value) OVER w, 6) AS mean4
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
      FROM events) t
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
QUALIFY rn >= 4 AND (rn - 4) % 3 = 0
""")
def q_strided_window(spark, sf_dir):
    """Strided sliding window: width 4, stride 3 (``aggregate.py:31-38``)."""
    out = sliding_window(_events(spark, sf_dir), {"value": ["mean"]}, 4,
                         keep=KEEP_COMPLETE, shift=3)
    return out.df.select("user_id", "ts", r6(F.col("value (mean)"), "mean4"))


@query("cumulative", """
SELECT user_id, ts,
       round(sum(value) OVER w, 6) AS csum,
       count(value) OVER w AS cdefined
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def q_cumulative(spark, sf_dir):
    """Per-series cumulative sum (``aggregate.py:86-87``) + running defined
    count (the cumulative variant of the ``defined`` kernel)."""
    from pyspark.sql import Window

    tsf = _events(spark, sf_dir)
    out = sliding_window(tsf, [("value", "cumsum")], 1, keep=KEEP_ALL)
    cumwin = (Window.partitionBy("user_id").orderBy("ts")
              .rowsBetween(Window.unboundedPreceding, 0))
    return out.df.select("user_id", "ts",
                         r6(F.col("value (cumsum)"), "csum"),
                         F.count("value").over(cumwin).alias("cdefined"))


# ----------------------------------------------------------- lag/differences
@query("difference_ops", """
SELECT user_id, event_id,
       round(value - lag(value, 1) OVER w, 6) AS diff1,
       round(value - 2 * lag(value, 1) OVER w + lag(value, 2) OVER w, 6)
           AS diff2,
       round((value / nullif(lag(value, 1) OVER w, 0) - 1) * 100, 6) AS pct
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""")
def q_difference_ops(spark, sf_dir):
    """First/second difference + percent change per series
    (``owdifference.py:153-201``)."""
    tsf = _events(spark, sf_dir)
    out = difference(tsf, ["value"], op=DIFF)
    out = difference(out, ["value"], op=DIFF2)
    out = difference(out, ["value"], op=PERC)
    return out.df.select("user_id", "event_id",
                         r6(F.col("Δvalue"), "diff1"),
                         r6(F.col("ΔΔvalue"), "diff2"),
                         r6(F.col("%value"), "pct"))


@query("difference_inverted", """
SELECT user_id, event_id,
       round(value - lead(value, 2) OVER w, 6) AS dinv
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""")
def q_difference_inverted(spark, sf_dir):
    """Inverted-direction difference at shift 2
    (``owdifference.py:164-165,188-189``)."""
    out = difference(_events(spark, sf_dir), ["value"], op=DIFF, shift=2,
                     invert_direction=True)
    return out.df.select("user_id", "event_id",
                         r6(F.col("Δvalue:2"), "dinv"))


# ------------------------------------------------------- calendar period aggs
@query("period_days", """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "Time",
       count(*) AS n,
       round(avg(value), 6) AS mean_v,
       round(sum(value), 2) AS sum_v,
       round(min(value), 6) AS min_v,
       round(max(value), 6) AS max_v,
       round(stddev_pop(value), 6) AS std_v
FROM events GROUP BY 1
""")
def q_period_days(spark, sf_dir):
    """Daily calendar rollup with count + 5 kernels
    (``owmovingtransform.py:500-534``)."""
    tsf = _events(spark, sf_dir)
    tsf = TimeSeriesFrame(tsf.df, time_col="ts")  # global rollup
    out = period_aggregation(
        tsf, "Days",
        [("value", "mean"), ("value", "sum"), ("value", "min"),
         ("value", "max"), ("value", "std")])
    return out.df.select(
        "Time",
        F.col("Instance count").cast("long").alias("n"),
        r6(F.col("value (mean)"), "mean_v"),
        F.round(F.col("value (sum)"), 2).alias("sum_v"),
        r6(F.col("value (min)"), "min_v"),
        r6(F.col("value (max)"), "max_v"),
        r6(F.col("value (std)"), "std_v"))


@query("period_month_of_year", """
SELECT CAST(month(ts) AS INT) AS "Month", count(*) AS n,
       round(avg(value), 6) AS mean_v
FROM events GROUP BY 1
""")
def q_period_month_of_year(spark, sf_dir):
    """Periodic month-of-year key (``aggregate.py:210-213``)."""
    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = period_aggregation(tsf, "Month of year", [("value", "mean")])
    return out.df.select(F.col("Month").cast("int").alias("Month"),
                         F.col("Instance count").cast("long").alias("n"),
                         r6(F.col("value (mean)"), "mean_v"))


@query("period_week_of_year", """
SELECT CAST(weekofyear(ts) AS INT) AS "Week", count(*) AS n,
       round(sum(value), 6) AS sum_v
FROM events GROUP BY 1
""")
def q_period_week_of_year(spark, sf_dir):
    """Periodic ISO week-of-year key (``aggregate.py:241``; Spark
    ``weekofyear`` and DuckDB ``weekofyear`` are both ISO-8601)."""
    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = period_aggregation(tsf, "Week of year", [("value", "sum")])
    return out.df.select(F.col("Week").cast("int").alias("Week"),
                         F.col("Instance count").cast("long").alias("n"),
                         r6(F.col("value (sum)"), "sum_v"))


@query("period_day_of_week", """
SELECT CAST(isodow(ts) - 1 AS INT) AS "Day", count(*) AS n,
       round(avg(value), 6) AS mean_v,
       round(median(value), 6) AS med_v
FROM events GROUP BY 1
""")
def q_period_day_of_week(spark, sf_dir):
    """Day-of-week key, Monday=0 (``aggregate.py:236-237``)."""
    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = period_aggregation(tsf, "Day of week",
                             [("value", "mean"), ("value", "median")])
    return out.df.select(F.col("Day").cast("int").alias("Day"),
                         F.col("Instance count").cast("long").alias("n"),
                         r6(F.col("value (mean)"), "mean_v"),
                         r6(F.col("value (median)"), "med_v"))


@query("period_hour_of_day", """
SELECT CAST(hour(ts) AS INT) AS "Hour", count(*) AS n,
       round(avg(value), 6) AS mean_v
FROM events GROUP BY 1
""")
def q_period_hour_of_day(spark, sf_dir):
    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = period_aggregation(tsf, "Hour of day", [("value", "mean")])
    return out.df.select(F.col("Hour").cast("int").alias("Hour"),
                         F.col("Instance count").cast("long").alias("n"),
                         r6(F.col("value (mean)"), "mean_v"))


@query("period_geo_harmonic", """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "Time",
       round(CASE WHEN min(value) < 0 THEN NULL
                  WHEN min(value) = 0 THEN 0.0
                  ELSE exp(avg(CASE WHEN value > 0 THEN ln(value) END))
             END, 6) AS geo_v,
       round(CASE WHEN min(value) < 0 THEN NULL
                  WHEN min(value) = 0 THEN 0.0
                  ELSE count(value)
                       / sum(CASE WHEN value > 0 THEN 1.0 / value END)
             END, 6) AS harm_v
FROM events GROUP BY 1
""")
def q_period_geo_harmonic(spark, sf_dir):
    """Geometric + harmonic mean rollups (``aggregate.py:106-117,170-173``).
    The oracle replays the engine's poison rules for non-positive values
    (present at sf0.1: six exact zeros): negative in the day -> NULL,
    zero in the day -> 0, with every ``ln``/``1/x`` guarded inside the
    aggregate argument so DuckDB never evaluates log-of-zero.  Days with
    all-positive values keep the original bit-identical float path (the
    guard CASE is a no-op there)."""
    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = period_aggregation(tsf, "Days",
                             [("value", "geometric"), ("value", "harmonic")])
    return out.df.select("Time",
                         r6(F.col("value (geometric)"), "geo_v"),
                         r6(F.col("value (harmonic)"), "harm_v"))


@query("period_mode", """
WITH g AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                  round(value / 50) AS v, count(*) AS c
           FROM events GROUP BY 1, 2),
m AS (SELECT d, max(c) AS mc FROM g GROUP BY 1)
SELECT g.d AS "Time", round(min(g.v), 6) AS mode_v
FROM g JOIN m ON g.d = m.d AND g.c = m.mc
GROUP BY 1
""")
def q_period_mode(spark, sf_dir):
    """Daily mode of a bucketed value, smallest-tie-break
    (``aggregate.py:94-103``)."""
    tsf = TimeSeriesFrame(
        _events(spark, sf_dir).df
        .withColumn("vbucket", F.round(F.col("value") / 50)),
        time_col="ts")
    out = period_aggregation(tsf, "Days", [("vbucket", "mode")])
    return out.df.select("Time", r6(F.col("vbucket (mode)"), "mode_v"))


# ------------------------------------------------------------ blocks & slices
@query("tumbling_blocks", """
WITH t AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
           FROM events),
b AS (SELECT *, CAST(floor((rn - 1) / 10) AS BIGINT) blk FROM t),
a AS (SELECT user_id, blk, count(*) cnt,
             round(avg(value), 6) mean10, round(max(value), 6) max10
      FROM b GROUP BY 1, 2)
SELECT b.user_id, b.ts, a.mean10, a.max10
FROM b JOIN a ON b.user_id = a.user_id AND b.blk = a.blk
WHERE a.cnt = 10 AND b.rn = a.blk * 10 + 10
""")
def q_tumbling_blocks(spark, sf_dir):
    """Count-based tumbling blocks of 10 with keep-last representative
    (``owmovingtransform.py:446-498``)."""
    out = sequential_blocks(_events(spark, sf_dir),
                            [("value", "mean"), ("value", "max")], 10,
                            keep=KEEP_LAST)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (mean)"), "mean10"),
                         r6(F.col("value (max)"), "max10"))


@query("tumbling_blocks_middle", """
WITH t AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
           FROM events),
b AS (SELECT *, CAST(floor((rn - 1) / 8) AS BIGINT) blk FROM t),
a AS (SELECT user_id, blk, count(*) cnt,
             round(median(value), 6) med8, round(sum(value), 6) sum8
      FROM b GROUP BY 1, 2)
SELECT b.user_id, b.ts, a.med8, a.sum8
FROM b JOIN a ON b.user_id = a.user_id AND b.blk = a.blk
WHERE a.cnt = 8 AND b.rn = a.blk * 8 + 5
""")
def q_tumbling_blocks_middle(spark, sf_dir):
    """Tumbling blocks of 8 with keep-MIDDLE representative (row width//2
    of each block, ``owmovingtransform.py:474-478``) and median/sum cell
    aggregates."""
    from orange3_timeseries_spark.operators.moving_transform import (
        KEEP_MIDDLE,
    )
    out = sequential_blocks(_events(spark, sf_dir),
                            [("value", "median"), ("value", "sum")], 8,
                            keep=KEEP_MIDDLE)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (median)"), "med8"),
                         r6(F.col("value (sum)"), "sum8"))


@query("time_slice", """
SELECT event_type, count(*) AS n, round(avg(value), 6) AS mean_v
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
GROUP BY 1
""")
def q_time_slice(spark, sf_dir):
    """Half-open time-range selection (``owtimeslice.py:313-319``) +
    downstream group.  The range is ALSO pushed at the source in raw
    int64-nanos space (``read_table(time_range=...)``) so the scan prunes
    parquet row groups — the operator's filter then matches trivially."""
    import datetime as dt
    lo, hi = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 12)
    df = read_table(spark, sf_dir, "events", time_col="ts",
                    time_range=(lo, hi))
    tsf = TimeSeriesFrame(df, time_col="ts", series_cols=["user_id"])
    sl = time_slice(tsf, lo, hi)
    return (sl.df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 r6(F.avg("value"), "mean_v")))


@query("spiralogram_2d", """
SELECT CAST(month(ts) AS INT) AS x, event_type AS r,
       count(*) AS "Count", round(avg(value), 6) AS agg_v
FROM events GROUP BY 1, 2
""")
def q_spiralogram_2d(spark, sf_dir):
    """2-D (month × discrete) grouping with count + one aggregate
    (``owspiralogram.py:749-823``)."""
    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = spiralogram(tsf, "Month of year", F.col("event_type"),
                      agg_col="value", agg="mean", x_name="x", r_name="r",
                      agg_out_name="agg_v")
    return out.df.select(F.col("x").cast("int").alias("x"), "r",
                         F.col("Count").cast("long").alias("Count"),
                         r6(F.col("agg_v"), "agg_v"))


@query("spiralogram_named", """
SELECT monthname(ts) AS x, dayname(ts) AS r,
       count(*) AS "Count", round(avg(value), 6) AS agg_v
FROM events GROUP BY 1, 2
""")
def q_spiralogram_named(spark, sf_dir):
    """2-D month-name x weekday-name grouping with LABELED keys
    (``use_names``, ``aggregate.py:242-246``) — oracle uses DuckDB's
    monthname/dayname (same English labels as ``calendar``)."""
    from orange3_timeseries_spark.operators.aggregate import period_key_expr

    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = spiralogram(
        tsf, "Month of year",
        period_key_expr("Day of week", F.col("ts"), use_names=True),
        agg_col="value", agg="mean", use_names=True,
        x_name="x", r_name="r", agg_out_name="agg_v")
    return out.df.select("x", "r",
                          F.col("Count").cast("long").alias("Count"),
                          r6(F.col("agg_v"), "agg_v"))


# -------------------------------------------------------------- interpolation
@query("interp_linear", """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN value > 150 THEN NULL ELSE value END AS v
  FROM events),
w AS (
  SELECT user_id, ts, v,
    last_value(v IGNORE NULLS) OVER pw AS pv,
    first_value(v IGNORE NULLS) OVER nw AS nv,
    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        OVER pw AS pt,
    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        OVER nw AS nt,
    count(v) OVER (PARTITION BY user_id) AS ndef
  FROM e
  WINDOW pw AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         nw AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, ts, round(CASE
    WHEN ndef < 2 THEN v
    WHEN v IS NOT NULL THEN v
    WHEN pv IS NULL THEN nv
    WHEN nv IS NULL THEN pv
    ELSE pv + (nv - pv) * (epoch_us(ts) - pt) / nullif(nt - pt, 0)
  END, 6) AS vi
FROM w
""")
def q_interp_linear(spark, sf_dir):
    """Linear interpolation over the time axis with edge clamping
    (``functions.py:334-342``); high values nulled out to create gaps."""
    from orange3_timeseries_spark.operators.interpolate import (
        interpolate_timeseries,
    )
    tsf = _events(spark, sf_dir)
    gapped = tsf._with_df(
        tsf.df.withColumn(
            "v", F.when(F.col("value") > 150, None).otherwise(F.col("value"))))
    out = interpolate_timeseries(gapped, "linear", cols=["v"])
    return out.df.select("user_id", "ts", r6(F.col("v"), "vi"))


@query("sliding_weighted_ma", """
SELECT user_id, ts,
       round((value + 0.6 * lag(value, 1) OVER w
                    + 0.36 * lag(value, 2) OVER w
                    + 0.216 * lag(value, 3) OVER w) / 2.176, 6) AS ema4,
       round((4 * value + 3 * lag(value, 1) OVER w
                        + 2 * lag(value, 2) OVER w
                        + 1 * lag(value, 3) OVER w) / 10, 6) AS lma4
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) rn
      FROM events) t
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
QUALIFY rn >= 4
""")
def q_sliding_weighted_ma(spark, sf_dir):
    """Linear + exponential moving averages, width 4 (``aggregate.py:50-83``;
    oracle is the closed-form lag expansion, alpha=2/5)."""
    out = sliding_window(_events(spark, sf_dir),
                         {"value": ["exp. MA", "lin. MA"]}, 4,
                         keep=KEEP_COMPLETE)
    return out.df.select("user_id", "ts",
                         r6(F.col("`value (exp. MA)`"), "ema4"),
                         r6(F.col("`value (lin. MA)`"), "lma4"))


@query("sliding_product_geometric", """
SELECT user_id, ts,
       round(CASE WHEN prod > 0 THEN ln(prod) END, 6) AS log_prod3,
       round(CASE WHEN minv < 0 THEN NULL
                  WHEN minv = 0 THEN 0.0
                  ELSE exp(avg_lnv) END, 6) AS geo3
FROM (SELECT user_id, ts, rn,
             product(value) OVER w AS prod,
             min(value) OVER w AS minv,
             avg(CASE WHEN value > 0 THEN ln(value) END) OVER w AS avg_lnv
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts) rn
            FROM events) t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) g
WHERE rn >= 3
""")
def q_sliding_product_geometric(spark, sf_dir):
    """Sliding product (log-sum-exp path) + geometric mean, width 3.
    The product is compared in the log domain: the engine's scalable
    log-sum-exp accumulation and DuckDB's sequential multiply agree to
    ~1e-15 in ln but drift in the last float ulp of the raw product.
    The oracle guards every ``ln`` behind CASE so exact-zero values
    (present at sf0.1) replay the engine's poison rules — product with a
    zero -> 0 -> NULL log (Spark ``log`` of non-positive is NULL), and
    geometric-with-a-zero -> 0 (``aggregate.py`` registry) — instead of
    raising DuckDB's log-of-zero range error.  ``ln`` must live inside
    CASE *arguments* (not post-hoc over a window of raw ``ln(value)``)
    because DuckDB hoists window expressions and would evaluate the
    poisoned branch anyway."""
    out = sliding_window(_events(spark, sf_dir),
                         {"value": ["product", "geometric"]}, 3,
                         keep=KEEP_COMPLETE)
    return out.df.select("user_id", "ts",
                         r6(F.log(F.col("`value (product)`")), "log_prod3"),
                         r6(F.col("`value (geometric)`"), "geo3"))


# ------------------------------------------------------------- TPC-H-flavored
@query("lineitem_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q_lineitem_pricing_summary(spark, sf_dir):
    """TPC-H Q1-flavored scan+agg over lineitem — exercises pushdown,
    column pruning and partial aggregation at volume."""
    li = read_table(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 r6(F.avg("l_quantity"), "avg_qty"),
                 r6(F.avg("l_extendedprice"), "avg_price"),
                 F.count(F.lit(1)).alias("count_order")))


@query("orders_monthly_revenue", """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS "Time",
       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1
""")
def q_orders_monthly_revenue(spark, sf_dir):
    """Monthly revenue rollup over orders via the period operator."""
    o = read_table(spark, sf_dir, "orders")
    tsf = TimeSeriesFrame(o, time_col="o_orderdate")
    out = period_aggregation(tsf, "Months", [("o_totalprice", "sum")])
    return out.df.select("Time",
                         F.col("Instance count").cast("long").alias("n"),
                         F.round(F.col("o_totalprice (sum)"), 2)
                          .alias("revenue"))


@query("interp_nearest", """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN value > 150 THEN NULL ELSE value END AS v
  FROM events),
w AS (
  SELECT user_id, ts, v,
    last_value(v IGNORE NULLS) OVER pw AS pv,
    first_value(v IGNORE NULLS) OVER nw AS nv,
    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        OVER pw AS pt,
    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        OVER nw AS nt,
    count(v) OVER (PARTITION BY user_id) AS ndef
  FROM e
  WINDOW pw AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         nw AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, ts, round(CASE
    WHEN ndef < 2 THEN v
    WHEN v IS NOT NULL THEN v
    WHEN pv IS NULL THEN nv
    WHEN nv IS NULL THEN pv
    WHEN (epoch_us(ts) - pt) <= (nt - epoch_us(ts)) THEN pv
    ELSE nv
  END, 6) AS vi
FROM w
""")
def q_interp_nearest(spark, sf_dir):
    """Nearest-in-time fill (tie -> previous, scipy kind='nearest',
    ``functions.py:292-297,336``)."""
    from orange3_timeseries_spark.operators.interpolate import (
        interpolate_timeseries,
    )
    tsf = _events(spark, sf_dir)
    gapped = tsf._with_df(
        tsf.df.withColumn(
            "v", F.when(F.col("value") > 150, None).otherwise(F.col("value"))))
    out = interpolate_timeseries(gapped, "nearest", cols=["v"])
    return out.df.select("user_id", "ts", r6(F.col("v"), "vi"))


@query("interp_mean", """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN value > 150 THEN NULL ELSE value END AS v
  FROM events)
SELECT user_id, ts,
       round(CASE WHEN count(v) OVER (PARTITION BY user_id) < 2 THEN v
                  ELSE coalesce(v, avg(v) OVER (PARTITION BY user_id)) END,
             6) AS vi
FROM e
""")
def q_interp_mean(spark, sf_dir):
    """Column-mean fill (``functions.py:329-331``)."""
    from orange3_timeseries_spark.operators.interpolate import (
        interpolate_timeseries,
    )
    tsf = _events(spark, sf_dir)
    gapped = tsf._with_df(
        tsf.df.withColumn(
            "v", F.when(F.col("value") > 150, None).otherwise(F.col("value"))))
    out = interpolate_timeseries(gapped, "mean", cols=["v"])
    return out.df.select("user_id", "ts", r6(F.col("v"), "vi"))


@query("from_sequence_monthly", """
SELECT user_id, event_id,
       TIMESTAMP '2020-01-15 06:30:00'
         + to_months(CAST((row_number() OVER (PARTITION BY user_id
                                              ORDER BY ts) - 1) * 2
                          AS INTEGER)) AS "T"
FROM events
""")
def q_from_sequence_monthly(spark, sf_dir):
    """Synthesized equispaced time column start + i*(2 months) over the
    per-series row sequence (``make_timeseries_from_sequence``,
    ``timeseries.py:193-217``) — time-of-day is preserved through month
    stepping like the reference's ``add_time`` (``util.py:29-41``)."""
    import datetime as dt

    from orange3_timeseries_spark.frame import TimeSeriesFrame

    df = read_table(spark, sf_dir, "events")
    tsf = TimeSeriesFrame.from_sequence(
        df, (2, "month"), start=dt.datetime(2020, 1, 15, 6, 30),
        name="T", order_col="ts", series_cols=["user_id"])
    return tsf.df.select("user_id", "event_id", "T")


@query("interp_cubic", """
WITH RECURSIVE
base AS (
  -- t replays pandas' datetime64[ns].astype(int64)/1e9 exactly: the nanos
  -- exceed 2^53, so the int64->double conversion rounds BEFORE the divide;
  -- epoch() (exact micros / 1e6) would differ by up to ~1e-6 s, which a
  -- 50 ms knot gap amplifies to ~1e-4 in the spline value
  SELECT user_id, event_id, epoch_ns(ts)::DOUBLE / 1000000000.0 AS t,
         CASE WHEN value > 150 THEN NULL ELSE value END AS v
  FROM events),
k AS (
  SELECT user_id, list(t ORDER BY t) AS kt, list(v ORDER BY t) AS ky,
         count(*)::INT AS n
  FROM base WHERE v IS NOT NULL GROUP BY 1),
coef AS (  -- tridiagonal coefficients, 1-indexed over interior rows 1..m
  SELECT user_id, kt, ky, n, n - 2 AS m,
         list_transform(range(1, n), i -> kt[i+1] - kt[i]) AS h
  FROM k WHERE n >= 3),
abcd AS (
  SELECT user_id, kt, ky, n, m, h,
         list_transform(range(1, m+1), i -> h[i]) AS a,
         list_transform(range(1, m+1), i -> 2*(h[i] + h[i+1])) AS b,
         list_transform(range(1, m+1), i -> h[i+1]) AS c,
         list_transform(range(1, m+1), i ->
             6*((ky[i+2]-ky[i+1])/h[i+1] - (ky[i+1]-ky[i])/h[i])) AS d
  FROM coef),
fwd AS (  -- Thomas forward sweep
  SELECT user_id, kt, ky, n, m, a, b, c, d, 1 AS i,
         [c[1]/b[1]] AS cp, [d[1]/b[1]] AS dp
  FROM abcd
  UNION ALL
  SELECT user_id, kt, ky, n, m, a, b, c, d, i + 1 AS i,
         list_append(cp, CASE WHEN i + 1 < m
                              THEN c[i+1] / (b[i+1] - a[i+1]*cp[i])
                              ELSE 0.0 END) AS cp,
         list_append(dp, (d[i+1] - a[i+1]*dp[i])
                         / (b[i+1] - a[i+1]*cp[i])) AS dp
  FROM fwd WHERE i < m),
fin AS (SELECT * FROM fwd WHERE i = m),
bwd AS (  -- back substitution: M 1-indexed length n, M[1]=M[n]=0
  SELECT user_id, kt, ky, n, m, cp, dp, m - 1 AS j,
         [dp[m]] AS mtail      -- mtail holds M[j+2..m+1]
  FROM fin
  UNION ALL
  SELECT user_id, kt, ky, n, m, cp, dp, j - 1 AS j,
         list_prepend(dp[j] - cp[j]*mtail[1], mtail) AS mtail
  FROM bwd WHERE j >= 1),
mm AS (  -- assemble M = [0, interior..., 0]
  SELECT user_id, kt, ky, n,
         list_prepend(0.0, list_append(mtail, 0.0)) AS M
  FROM bwd WHERE j = 0),
interp3 AS (  -- spline evaluation for missing rows of n>=3 users
  SELECT b.user_id, b.event_id,
         CASE
           WHEN b.t <= kt[1] THEN ky[1]
           WHEN b.t >= kt[n] THEN ky[n]
           -- exact NumPy grouping: A*y0 + B*y1 + ((A^3-A)M0 + (B^3-B)M1)
           --                        * h^2 / 6  (left-assoc, pow via libm)
           ELSE (
             (kt[s+1]-b.t)/(kt[s+1]-kt[s]) * ky[s]
             + (b.t-kt[s])/(kt[s+1]-kt[s]) * ky[s+1]
             + ((pow((kt[s+1]-b.t)/(kt[s+1]-kt[s]), 3)
                 - (kt[s+1]-b.t)/(kt[s+1]-kt[s])) * M[s]
                + (pow((b.t-kt[s])/(kt[s+1]-kt[s]), 3)
                   - (b.t-kt[s])/(kt[s+1]-kt[s])) * M[s+1])
               * ((kt[s+1]-kt[s]) * (kt[s+1]-kt[s])) / 6.0)
         END AS vi
  FROM (SELECT base.*,
               least(greatest(len(list_filter(mm.kt, e -> e < base.t)), 1),
                     mm.n - 1) AS s,
               mm.kt, mm.ky, mm.n, mm.M
        FROM base JOIN mm USING (user_id)
        WHERE base.v IS NULL) b),
interp2 AS (  -- n == 2: linear with edge clamps (np.interp path)
  SELECT base.user_id, base.event_id,
         CASE WHEN base.t <= kt[1] THEN ky[1]
              WHEN base.t >= kt[2] THEN ky[2]
              ELSE ky[1] + (ky[2]-ky[1]) * (base.t-kt[1]) / (kt[2]-kt[1])
         END AS vi
  FROM base JOIN k USING (user_id)
  WHERE base.v IS NULL AND k.n = 2),
filled AS (
  SELECT user_id, event_id, vi FROM interp3
  UNION ALL SELECT user_id, event_id, vi FROM interp2)
SELECT base.user_id, base.event_id,
       round(coalesce(base.v, filled.vi), 6) AS vi
FROM base LEFT JOIN filled USING (user_id, event_id)
""")
def q_interp_cubic(spark, sf_dir):
    """Natural cubic-spline fill over the time axis (``functions.py:336``,
    scipy ``interp1d(kind='cubic')`` semantics, NumPy tridiagonal solve in
    applyInPandas) — full value-hash oracle: the Thomas forward sweep and
    back substitution are replayed as DuckDB recursive CTEs carrying the
    cp/dp and M coefficient lists (natural boundary M[1]=M[n]=0, edge
    clamping, and the n==2 linear fallback all replicated); also
    golden-tested in tests/test_interpolate.py."""
    from orange3_timeseries_spark.operators.interpolate import (
        interpolate_timeseries,
    )
    tsf = _events(spark, sf_dir)
    gapped = tsf._with_df(
        tsf.df.select(
            "user_id", "ts", "event_id",
            F.when(F.col("value") > 150, None).otherwise(F.col("value"))
            .alias("v")))
    out = interpolate_timeseries(gapped, "cubic", cols=["v"])
    return out.df.select("user_id", "event_id", r6(F.col("v"), "vi"))


@query("spiralogram_binned", """
WITH b AS (
  SELECT CAST(month(ts) AS INT) AS x,
         CASE WHEN value IS NOT NULL THEN
           (round(0 + least(greatest(floor((value - 0) / 50.0), 0), 3) * 50.0,
                  6)::VARCHAR
            || ' – ' ||
            round(0 + (least(greatest(floor((value - 0) / 50.0), 0), 3) + 1)
                  * 50.0, 6)::VARCHAR)
         END AS r,
         value
  FROM events)
SELECT x, r, count(*) AS "Count", round(median(value), 6) AS agg_v
FROM b GROUP BY 1, 2
""")
def q_spiralogram_binned(spark, sf_dir):
    """2-D grouping with a CONTINUOUS radial variable discretized into
    equal-width threshold-labeled bins (``binned_var`` / ``Discretizer``,
    ``owspiralogram.py:360-435``) and a median cell aggregate."""
    from orange3_timeseries_spark.operators.spiralogram import binned_key

    tsf = TimeSeriesFrame(_events(spark, sf_dir).df, time_col="ts")
    out = spiralogram(tsf, "Month of year", binned_key("value", 0, 200, 4),
                      agg_col="value", agg="median", x_name="x", r_name="r",
                      agg_out_name="agg_v")
    return out.df.select(F.col("x").cast("int").alias("x"), "r",
                         F.col("Count").cast("long").alias("Count"),
                         r6(F.col("agg_v"), "agg_v"))


@query("asof_join_purchases", """
SELECT l.user_id, l.event_id, round(l.value, 6) AS value,
       r.ts AS asof_ts, round(r.value, 6) AS asof_value
FROM events l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""")
def q_asof_join_purchases(spark, sf_dir):
    """As-of join: every event gains the user's most recent
    at-or-before PURCHASE (value + its timestamp) — the nearest-event
    join as union + running carry-forward, one shuffle, no range-join
    blow-up (operators/asof.py).  Oracle = DuckDB's native ASOF LEFT
    JOIN (same inclusive backward semantics)."""
    from orange3_timeseries_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id", "value")
    right = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    out = asof_join(left, right, "ts", by=["user_id"],
                    value_cols=["value"])
    return out.select("user_id", "event_id", r6(F.col("value"), "value"),
                      F.col("asof_ts"),
                      r6(F.col("asof_value"), "asof_value"))


@query("sessionize_events", """
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600.0
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM g
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       round(epoch(max(ts)) - epoch(min(ts)), 6) AS duration_seconds,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, session_id
""")
def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (gap > 1h starts a new session) rolled up
    to one row per (user, session) — one event-level shuffle, fused
    lag+running-sum windows (operators/sessionize.py).  The oracle casts
    its windowed sum to BIGINT (DuckDB widens to HUGEINT)."""
    from orange3_timeseries_spark.operators.sessionize import session_table

    ev = read_table(spark, sf_dir, "events")
    out = session_table(ev.select("user_id", "ts", "event_id", "value"),
                        "ts", ["user_id"], 3600.0, value_col="value",
                        order_cols=["event_id"])
    return out.select(
        "user_id", "session_id", "session_start", "session_end",
        r6(F.col("duration_seconds"), "duration_seconds"),
        "n_events", r6(F.col("sum_value"), "sum_value"))


@query("events_props_json", """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
         AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""")
def q_events_props_json(spark, sf_dir):
    """JSON property extraction (get_json_object — JVM codegen, no UDF)
    aggregated per event type; the scalar-function surface SURVEY §2.9
    notes the reference lacks."""
    ev = read_table(spark, sf_dir, "events")
    # bind the extracted property as a real column first: referencing the
    # get_json_object expression in BOTH aggregates would parse the JSON
    # twice per row (aggregate inputs don't common-subexpression across
    # aggs)
    proj = ev.select("event_type",
                     F.get_json_object(F.col("props"), "$.k").cast("long")
                     .alias("__k__"))
    return (proj.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 r6(F.avg("__k__"), "avg_k"),
                 F.max("__k__").alias("max_k")))


@query("interval_join_purchases", """
SELECT l.event_id, l.user_id, r.event_id AS r_event_id,
       round(epoch(l.ts) - epoch(r.ts), 6) AS dt_seconds,
       round(r.value, 6) AS r_value
FROM events l
JOIN events r
  ON l.user_id = r.user_id
 AND r.event_type = 'purchase'
 AND abs(epoch(l.ts) - epoch(r.ts)) <= 1800.0
 AND l.event_id <> r.event_id
""")
def q_interval_join_purchases(spark, sf_dir):
    """Interval join: every event paired with each same-user PURCHASE
    within +/-30 min — bucketed 3x-replication equi-join, never a
    nested-loop range join (operators/intervaljoin.py).  The DuckDB
    oracle is the naive inequality join (fine at sf0.01)."""
    from orange3_timeseries_spark.operators.intervaljoin import (
        interval_join,
    )

    ev = read_table(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id")
    right = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id", "value")
    out = interval_join(left, right, "ts", ["user_id"], 1800.0,
                        value_cols=["event_id", "value"])
    out = out.where(F.col("event_id") != F.col("r_event_id"))
    return out.select("event_id", "user_id", "r_event_id",
                      r6(F.col("dt_seconds"), "dt_seconds"),
                      r6(F.col("r_value"), "r_value"))


@query("calendar_rollup_events", """
WITH b AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(date_trunc('month', ts) AS TIMESTAMP) AS m,
         value
  FROM events
)
SELECT CASE WHEN grouping(h) = 0 THEN 'hour'
            WHEN grouping(d) = 0 THEN 'day'
            ELSE 'month' END AS level,
       coalesce(h, d, m) AS bucket,
       count(*) AS n,
       round(sum(value), 6) AS value_sum,
       round(avg(value), 6) AS value_mean
FROM b
GROUP BY GROUPING SETS ((h), (d), (m))
""")
def q_calendar_rollup_events(spark, sf_dir):
    """Hour/day/month rollup of events in ONE pass (native grouping
    sets: single scan, one Expand + hash aggregate — the
    continuous-aggregate pattern, operators/rollup.py)."""
    from orange3_timeseries_spark.operators.rollup import calendar_rollup

    ev = read_table(spark, sf_dir, "events")
    tsf = TimeSeriesFrame(ev.select("ts", "value"), time_col="ts")
    out = calendar_rollup(tsf, [("value", "sum"), ("value", "mean")],
                          levels=("hour", "day", "month"))
    return out.select("level", "bucket", "n",
                      r6(F.col("value_sum"), "value_sum"),
                      r6(F.col("value_mean"), "value_mean"))


# ------------------------------------------------- TPC-H star-join tier (r7d)
@query("tpch_q3_top_orders", """
WITH rev AS (
  SELECT l_orderkey, o_orderdate,
         sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
             * (100 - CAST(round(l_discount * 100.0) AS BIGINT)))::BIGINT
           AS ru
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
  GROUP BY 1, 2)
SELECT l_orderkey AS o_orderkey, o_orderdate,
       ru::DOUBLE / 10000.0 AS revenue
FROM rev
ORDER BY ru DESC, o_orderdate, l_orderkey
LIMIT 10
""")
def q_tpch_q3_top_orders(spark, sf_dir):
    """TPC-H Q3-flavored shipping-priority query: top-10 unshipped
    BUILDING-segment orders by outstanding revenue.  The scale shape:
    customer is a BROADCAST dim (no shuffle on the fact side for the
    semi-filter), orders joins lineitem on the shared orderkey, the
    rollup partial-aggregates map-side, and the top-10 runs as
    TakeOrderedAndProject — no global sort materializes.

    Revenue determinism: ``price·(1−disc)`` is computed as exact
    BIGINT basis-point units (price cents × (100−disc%)) and summed
    exactly — at extreme fact cardinality the unit sum would move to
    DECIMAL accumulation, noted not needed below ~10^9 rows/group.
    Ordering ties break on (o_orderdate, orderkey) so the LIMIT set is
    deterministic cross-engine."""
    cust = read_table(spark, sf_dir, "customer") \
        .where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders") \
        .where(F.col("o_orderdate") < "1998-03-15") \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem") \
        .where(F.col("l_shipdate") > "1998-03-15") \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    ru = (F.round(F.col("l_extendedprice") * 100.0).cast("bigint")
          * (F.lit(100) - F.round(F.col("l_discount") * 100.0)
             .cast("bigint")))
    rev = (orders.join(F.broadcast(cust),
                       orders.o_custkey == cust.c_custkey)
           .join(li, orders.o_orderkey == li.l_orderkey)
           .groupBy("l_orderkey", "o_orderdate")
           .agg(F.sum(ru).alias("__ru__")))
    return (rev.orderBy(F.col("__ru__").desc(), "o_orderdate",
                        "l_orderkey")
            .limit(10)
            .select(F.col("l_orderkey").alias("o_orderkey"),
                    "o_orderdate",
                    (F.col("__ru__").cast("double") / F.lit(10000.0))
                    .alias("revenue")))


@query("tpch_q5_nation_revenue", """
SELECT n_name,
       sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100.0) AS BIGINT)))::BIGINT
         ::DOUBLE / 10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""")
def q_tpch_q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5-flavored local-supplier volume: 1996 revenue by ASIA
    nation where the supplier and customer share a nation.  The
    six-table star resolves to ONE fact-fact shuffle (orders ⋈
    lineitem on orderkey): region, nation, supplier, and the filtered
    customer side are all BROADCAST dims, the region/nation filters
    prune before the fact scan ships rows, and the final nation rollup
    is a five-row aggregate.  Revenue uses the same exact basis-point
    BIGINT units as tpch_q3."""
    region = read_table(spark, sf_dir, "region") \
        .where(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    asia_nations = (nation.join(F.broadcast(region),
                                nation.n_regionkey == region.r_regionkey)
                    .select("n_nationkey", "n_name"))
    supplier = read_table(spark, sf_dir, "supplier") \
        .join(F.broadcast(asia_nations),
              F.col("s_nationkey") == F.col("n_nationkey")) \
        .select("s_suppkey", "s_nationkey", "n_name")
    cust = read_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    orders = read_table(spark, sf_dir, "orders") \
        .where((F.col("o_orderdate") >= "1996-01-01")
               & (F.col("o_orderdate") < "1997-01-01")) \
        .select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_extendedprice",
                "l_discount")
    ru = (F.round(F.col("l_extendedprice") * 100.0).cast("bigint")
          * (F.lit(100) - F.round(F.col("l_discount") * 100.0)
             .cast("bigint")))
    j = (orders.join(F.broadcast(cust),
                     orders.o_custkey == cust.c_custkey)
         .join(li, orders.o_orderkey == li.l_orderkey)
         .join(F.broadcast(supplier),
               (li.l_suppkey == supplier.s_suppkey)
               & (cust.c_nationkey == supplier.s_nationkey)))
    return (j.groupBy("n_name").agg(F.sum(ru).alias("__ru__"))
            .select("n_name",
                    (F.col("__ru__").cast("double") / F.lit(10000.0))
                    .alias("revenue")))


@query("rfm_segments", """
WITH g AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', max(o_orderdate),
                   TIMESTAMP '2001-08-02 00:00:00')::BIGINT
           AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(CAST(round(o_totalprice * 100.0) AS BIGINT))::BIGINT AS mu
  FROM orders GROUP BY 1),
s AS (
  SELECT c_custkey, recency_days, frequency, mu,
         ntile(5) OVER (ORDER BY recency_days DESC, c_custkey)
           AS r_score,
         ntile(5) OVER (ORDER BY frequency, c_custkey) AS f_score,
         ntile(5) OVER (ORDER BY mu, c_custkey) AS m_score
  FROM g)
SELECT c_custkey, recency_days, frequency,
       mu::DOUBLE / 100.0 AS monetary,
       r_score::INT AS r_score, f_score::INT AS f_score,
       m_score::INT AS m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                 THEN 'champion'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM s
""")
def q_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation over
    orders — the classic marketing-analytics rollup.  Scale shape: the
    heavy stage is the per-customer fact aggregation (one orderkey→
    custkey shuffle with map-side partials); the three ntile windows
    then run over the customer DIMENSION (orders of magnitude smaller
    than the fact table).  Determinism: recency is integer days
    against a literal reference date, monetary accumulates exact
    BIGINT cents, and every ntile ordering carries a custkey tiebreak
    so quintile boundaries are identical cross-engine."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    g = (orders.groupBy(F.col("o_custkey").alias("c_custkey"))
         .agg(F.datediff(F.lit("2001-08-02").cast("date"),
                         F.max(F.col("o_orderdate").cast("date")))
              .cast("bigint").alias("recency_days"),
              F.count(F.lit(1)).alias("frequency"),
              F.sum(F.round(F.col("o_totalprice") * 100.0)
                    .cast("bigint")).alias("__mu__")))
    r = F.ntile(5).over(Window.orderBy(F.col("recency_days").desc(),
                                       "c_custkey"))
    f = F.ntile(5).over(Window.orderBy("frequency", "c_custkey"))
    m = F.ntile(5).over(Window.orderBy("__mu__", "c_custkey"))
    s = (g.withColumn("r_score", r).withColumn("f_score", f)
         .withColumn("m_score", m))
    seg = (F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4)
                  & (F.col("m_score") >= 4), "champion")
           .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
           .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4),
                 "at_risk")
           .when((F.col("r_score") <= 2) & (F.col("m_score") <= 2),
                 "hibernating")
           .otherwise("regular"))
    return s.select("c_custkey", "recency_days", "frequency",
                    (F.col("__mu__").cast("double") / F.lit(100.0))
                    .alias("monetary"),
                    "r_score", "f_score", "m_score", seg.alias("segment"))


@query("k_anonymity_customers", """
WITH r AS (
  SELECT min(c_acctbal::DOUBLE) AS lo, max(c_acctbal::DOUBLE) AS hi
  FROM customer),
b AS (
  SELECT c_mktsegment, c_nationkey,
         CASE WHEN hi - lo > 0
              THEN least(floor((c_acctbal::DOUBLE - lo) / (hi - lo)
                               * 10), 9)
              ELSE 0 END AS bk
  FROM customer CROSS JOIN r),
g AS (
  SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS n_rows,
         count(DISTINCT bk)::INT AS l_diversity
  FROM b GROUP BY 1, 2)
SELECT c_mktsegment, c_nationkey, n_rows, l_diversity,
       n_rows < 10 OR l_diversity < 2 AS risky
FROM g
""")
def q_k_anonymity_customers(spark, sf_dir):
    """k-anonymity / l-diversity privacy audit over the customer
    quasi-identifier combo (mktsegment × nation) with account balance
    as the sensitive attribute — the gate a dataset passes before
    leaving a trust boundary (companion to text_pii_redaction on the
    structured side).  Deterministic equal-width sensitive buckets, no
    quantile pass (operators/profile.py:k_anonymity)."""
    from orange3_timeseries_spark.operators.profile import k_anonymity

    c = read_table(spark, sf_dir, "customer")
    return k_anonymity(c, ["c_mktsegment", "c_nationkey"], "c_acctbal")


@query("sbc_demand_class_by_user", """
WITH b AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS d,
         CAST(round(value::DOUBLE * 100.0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'),
daily AS (
  SELECT user_id, d, sum(c)::BIGINT AS s
  FROM b GROUP BY 1, 2),
g AS (
  SELECT user_id, count(*)::BIGINT AS ndd,
         (max(d) - min(d) + 1)::BIGINT AS nd,
         sum(s)::BIGINT AS ss, sum(s * s)::BIGINT AS s2
  FROM daily WHERE s <> 0 GROUP BY 1),
c AS (
  SELECT user_id, nd, ndd,
         nd::DOUBLE / ndd::DOUBLE AS adi,
         (ndd::DOUBLE * s2::DOUBLE - ss::DOUBLE * ss::DOUBLE)
           / (ss::DOUBLE * ss::DOUBLE) AS cv2
  FROM g WHERE ndd >= 4 AND ss <> 0)
SELECT user_id, nd AS n_days, ndd AS n_demand_days,
       round(adi, 6) AS adi, round(cv2, 6) AS cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
            ELSE 'lumpy' END AS demand_class
FROM c
""")
def q_sbc_demand_class_by_user(spark, sf_dir):
    """Syntetos-Boylan demand classification of each user's daily
    purchase stream (ADI × CV² quadrants) — the router in front of the
    forecasting tier: smooth → ETS/ARIMA, intermittent → Croston,
    erratic/lumpy → robust and quantile methods.  Both statistics are
    single divisions of exact BIGINT centi-unit moments
    (operators/eventstats.py:sbc_classification)."""
    from orange3_timeseries_spark.operators.eventstats import (
        sbc_classification,
    )

    ev = read_table(spark, sf_dir, "events") \
        .where(F.col("event_type") == "purchase")
    return sbc_classification(ev, "ts", "value", ["user_id"])


@query("tpch_q14_promo_share", """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
       sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * 100.0) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100.0) AS BIGINT))
                ELSE 0 END)::BIGINT::DOUBLE / 10000.0 AS promo_revenue,
       sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100.0) AS BIGINT)))
         ::BIGINT::DOUBLE / 10000.0 AS total_revenue,
       round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(round(l_extendedprice * 100.0) AS BIGINT)
                         * (100 - CAST(round(l_discount * 100.0)
                                       AS BIGINT))
                    ELSE 0 END)::BIGINT::DOUBLE
             / sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100.0) AS BIGINT)))
               ::BIGINT::DOUBLE, 6) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""")
def q_tpch_q14_promo_share(spark, sf_dir):
    """TPC-H Q14-flavored promotion-effect query: monthly share of
    revenue from PROMO-type parts — the part dimension BROADCASTS onto
    the lineitem scan (map-side join, no fact shuffle before the
    month rollup) and both revenue sums are exact basis-point BIGINTs,
    so the share is one division of bit-identical integers.  Closes
    table coverage: every testdata table now feeds at least one
    oracled query."""
    part = read_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_type")
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_shipdate", "l_extendedprice",
                "l_discount")
    ru = (F.round(F.col("l_extendedprice") * 100.0).cast("bigint")
          * (F.lit(100) - F.round(F.col("l_discount") * 100.0)
             .cast("bigint")))
    j = li.join(F.broadcast(part),
                li.l_partkey == part.p_partkey)
    g = (j.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
         .agg(F.sum(F.when(F.col("p_type") == "PROMO", ru)
                    .otherwise(F.lit(0))).alias("__pr__"),
              F.sum(ru).alias("__tr__")))
    return g.select(
        "month",
        (F.col("__pr__").cast("double") / F.lit(10000.0))
        .alias("promo_revenue"),
        (F.col("__tr__").cast("double") / F.lit(10000.0))
        .alias("total_revenue"),
        F.round(F.lit(100.0) * F.col("__pr__").cast("double")
                / F.col("__tr__").cast("double"), 6)
        .alias("promo_share_pct"))
