"""Time-series ops of the ``interactive_mix`` and ``bulk_series`` workloads.

Each op mirrors one registered query of ``orange3_timeseries_spark``
(same engine calls, same output columns), so the query's DuckDB oracle
checks the op's output.  The op makes its calls into the engine's layers
through ``Ctx``, which wraps each call in a span when tracing is on.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.operators.asof import asof_join
from orange3_timeseries_spark.operators.difference import (
    DIFF,
    DIFF2,
    PERC,
    difference,
)
from orange3_timeseries_spark.operators.interpolate import (
    interpolate_timeseries,
)
from orange3_timeseries_spark.operators.moving_transform import (
    KEEP_COMPLETE,
    KEEP_LAST,
    period_aggregation,
    sequential_blocks,
    sliding_window,
)
from orange3_timeseries_spark.operators.partitioning import scaled_width
from orange3_timeseries_spark.operators.sessionize import session_table
from orange3_timeseries_spark.operators.spiralogram import spiralogram
from orange3_timeseries_spark.operators.timeslice import time_slice
from orange3_timeseries_spark.queries import ensure_session_conf, r6
from orange3_timeseries_spark.sources import read_table, read_table_stream
from orange3_timeseries_spark.streaming.ops import (
    run_to_memory_isolated,
    stream_window_aggregation,
)


class Ctx:
    """The session, the input directory and the tracer one op runs with."""

    def __init__(self, spark, data_dir: str, tracer):
        self.spark = spark
        self.data = data_dir
        self.tr = tracer

    def conf(self) -> None:
        self.tr.call("session.ensure_conf", ensure_session_conf, self.spark)

    def read(self, table: str = "events", **kw):
        return self.tr.call("sources.read", read_table, self.spark,
                            self.data, table, **kw)

    def frame(self, df, series: bool = True) -> TimeSeriesFrame:
        kw = {"series_cols": ["user_id"]} if series else {}
        return self.tr.call("frame.construct", TimeSeriesFrame, df,
                            time_col="ts", **kw)

    def events(self, series: bool = True) -> TimeSeriesFrame:
        return self.frame(self.read(), series)

    def op(self, layer: str, fn, *args, **kwargs):
        return self.tr.call(layer + ".construct", fn, *args, **kwargs)


# ---------------------------------------------------------------- windows
def sliding_mean_sum(c: Ctx):
    out = c.op("operators", sliding_window, c.events(),
               {"value": ["mean", "sum"]}, 4, keep=KEEP_COMPLETE)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (mean)"), "mean4"),
                         r6(F.col("value (sum)"), "sum4"))




def strided_window(c: Ctx):
    out = c.op("operators", sliding_window, c.events(), {"value": ["mean"]},
               4, keep=KEEP_COMPLETE, shift=3)
    return out.df.select("user_id", "ts", r6(F.col("value (mean)"), "mean4"))




# ----------------------------------------------------------------- blocks
def tumbling_blocks(c: Ctx):
    out = c.op("operators", sequential_blocks, c.events(),
               [("value", "mean"), ("value", "max")], 10, keep=KEEP_LAST)
    return out.df.select("user_id", "ts",
                         r6(F.col("value (mean)"), "mean10"),
                         r6(F.col("value (max)"), "max10"))




# ------------------------------------------------------- calendar periods
def period_days(c: Ctx):
    out = c.op("operators", period_aggregation, c.events(series=False),
               "Days", [("value", "mean"), ("value", "sum"),
                        ("value", "min"), ("value", "max"), ("value", "std")])
    return out.df.select(
        "Time", F.col("Instance count").cast("long").alias("n"),
        r6(F.col("value (mean)"), "mean_v"),
        F.round(F.col("value (sum)"), 2).alias("sum_v"),
        r6(F.col("value (min)"), "min_v"), r6(F.col("value (max)"), "max_v"),
        r6(F.col("value (std)"), "std_v"))




# ------------------------------------------------ differences, gaps, slices
def difference_ops(c: Ctx):
    out = c.op("operators", difference, c.events(), ["value"], op=DIFF)
    out = c.op("operators", difference, out, ["value"], op=DIFF2)
    out = c.op("operators", difference, out, ["value"], op=PERC)
    return out.df.select("user_id", "event_id",
                         r6(F.col("Δvalue"), "diff1"),
                         r6(F.col("ΔΔvalue"), "diff2"),
                         r6(F.col("%value"), "pct"))


def interp_nearest(c: Ctx):
    gapped = c.read().withColumn(
        "v", F.when(F.col("value") > 150, None).otherwise(F.col("value")))
    out = c.op("operators", interpolate_timeseries, c.frame(gapped),
               "nearest", cols=["v"])
    return out.df.select("user_id", "ts", r6(F.col("v"), "vi"))


def time_slice_op(c: Ctx):
    lo, hi = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 12)
    tsf = c.frame(c.read(time_col="ts", time_range=(lo, hi)))
    sl = c.op("operators", time_slice, tsf, lo, hi)
    return (sl.df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), r6(F.avg("value"), "mean_v")))


def spiralogram_2d(c: Ctx):
    out = c.op("operators", spiralogram, c.events(series=False),
               "Month of year", F.col("event_type"), agg_col="value",
               agg="mean", x_name="x", r_name="r", agg_out_name="agg_v")
    return out.df.select(F.col("x").cast("int").alias("x"), "r",
                         F.col("Count").cast("long").alias("Count"),
                         r6(F.col("agg_v"), "agg_v"))




# ------------------------------------------------------- joins, sessions
def asof_join_purchases(c: Ctx):
    ev = c.read()
    left = ev.select("user_id", "ts", "event_id", "value")
    right = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    out = c.op("operators", asof_join, left, right, "ts", by=["user_id"],
               value_cols=["value"])
    return out.select("user_id", "event_id", r6(F.col("value"), "value"),
                      F.col("asof_ts"), r6(F.col("asof_value"), "asof_value"))


def sessionize_events(c: Ctx):
    ev = c.read()
    out = c.op("operators", session_table,
               ev.select("user_id", "ts", "event_id", "value"), "ts",
               ["user_id"], 3600.0, value_col="value",
               order_cols=["event_id"])
    return out.select("user_id", "session_id", "session_start",
                      "session_end",
                      r6(F.col("duration_seconds"), "duration_seconds"),
                      "n_events", r6(F.col("sum_value"), "sum_value"))


# ---------------------------------------------- analytics, models, streams
def seasonal_decompose_daily(c: Ctx):
    from orange3_timeseries_spark.spark_analytics import seasonal_decompose

    daily = c.op("operators", period_aggregation, c.events(series=False),
                 "Days", [("value", "mean")], names={("value", "mean"): "v"})
    out = c.op("spark_analytics", seasonal_decompose, daily, ["v"],
               model="additive", period=7)
    return out.df.select(
        "Time", r6(F.col("v"), "v"),
        r6(F.col("`v (season. adj.)`"), "v_adj"),
        r6(F.col("`v (seasonal)`"), "v_seasonal"),
        r6(F.col("`v (trend)`"), "v_trend"),
        r6(F.col("`v (residual)`"), "v_residual"))





def ar1_fitted_by_user(c: Ctx):
    """Per-series AR(1) fit in one mapInPandas pass over packed series
    (the registered query's own recipe)."""
    import numpy as np
    import pandas as pd

    from orange3_timeseries_spark.models import ARIMA
    from orange3_timeseries_spark.models.spark import _pack_series

    tsf = c.events()
    schema = T.StructType([
        tsf.df.schema["user_id"], tsf.df.schema["event_id"],
        T.StructField("fitted", T.DoubleType()),
        T.StructField("resid", T.DoubleType())])

    def run(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                m = ARIMA((1, 0, 0)).fit(np.asarray(r["value"], dtype=float))
                frames.append(pd.DataFrame({
                    "user_id": r["user_id"],
                    "event_id": np.asarray(r["event_id"]).astype("int64"),
                    "fitted": m.fittedvalues(),
                    "resid": m.residuals()}))
            yield pd.concat(frames, ignore_index=True) if frames \
                else pd.DataFrame(columns=["user_id", "event_id",
                                           "fitted", "resid"])

    def build():
        packed = _pack_series(
            tsf.df.select("user_id", "ts", "value", "event_id"),
            ["user_id"], "ts", ["value", "event_id"])
        return packed.mapInPandas(run, schema=schema)

    out = c.op("models", build)
    return out.select("user_id", "event_id", r6(F.col("fitted"), "fitted"),
                      r6(F.col("resid"), "resid"))


def streaming_hourly_window(c: Ctx):
    """availableNow replay of the events file stream into a memory sink;
    the op's result is the sink's table."""
    def build(s):
        sdf = c.tr.call("sources.read", read_table_stream, s, c.data,
                        "events")
        agg = stream_window_aggregation(
            sdf, "ts", [("value", "mean"), ("value", "sum")], "1 hour",
            series_cols=["user_id"], watermark="1 hour")
        return agg.select(
            "user_id", F.col("window.start").alias("win_start"),
            F.col("Instance count").alias("n"),
            r6(F.col("`value (mean)`"), "mean_v"),
            r6(F.col("`value (sum)`"), "sum_v"))

    width = scaled_width(c.read(), bytes_per_task=256 << 10)
    name = "stream_hourly_" + uuid.uuid4().hex[:8]
    c.tr.call("streaming.run", run_to_memory_isolated, c.spark, build, name,
              output_mode="complete", state_partitions=width)
    return c.spark.table(name)


# name of the registered query each op mirrors -> op
OPS = {
    "sliding_mean_sum": sliding_mean_sum,
    "strided_window": strided_window,
    "tumbling_blocks": tumbling_blocks,
    "period_days": period_days,
    "difference_ops": difference_ops,
    "interp_nearest": interp_nearest,
    "time_slice": time_slice_op,
    "spiralogram_2d": spiralogram_2d,
    "asof_join_purchases": asof_join_purchases,
    "sessionize_events": sessionize_events,
    "seasonal_decompose_daily": seasonal_decompose_daily,
    "ar1_fitted_by_user": ar1_fitted_by_user,
    "streaming_hourly_window": streaming_hourly_window,
}

INTERACTIVE = list(OPS)
BULK = ["sliding_mean_sum", "tumbling_blocks", "period_days",
        "sessionize_events", "ar1_fitted_by_user"]
