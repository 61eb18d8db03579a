"""The measurement skeleton shared by scale_smoke.py, time_many.py and
profile_steps.py: start a warmed session, force a DataFrame, and time a
callable with the engine's session reset before every timed run."""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orange3_timeseries_spark.session import reset_session_state  # noqa: E402


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def start_session(app: str, partitions_per_core: int = 1):
    """``local[$SPARK_GRAFT_CPUS]`` with ``partitions_per_core`` shuffle
    partitions per core, after one tiny pandas-UDF job so the first timer
    pays no JVM, codegen or Python-worker start-up."""
    from pyspark.sql import functions as F

    from orange3_timeseries_spark import get_spark

    n = cpus()
    spark = get_spark(app, master=f"local[{n}]", extra_conf={
        "spark.sql.shuffle.partitions": str(partitions_per_core * n)})
    force(spark.range(1000).withColumn("g", F.col("id") % 8).groupBy("g")
          .applyInPandas(lambda p: p, schema="id long, g long"))
    return spark


def force(df) -> None:
    """Evaluate every output column (``count()`` would let Catalyst prune
    the projections of map-only plans)."""
    df.write.format("noop").mode("overwrite").save()


def time_reps(spark, fn, reps: int) -> list:
    """Seconds of ``reps`` runs of ``fn``, each after a session reset."""
    out = []
    for _ in range(reps):
        reset_session_state(spark)
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def timed(spark, fn, reps: int = 1) -> float:
    """Median of ``reps`` timed runs; ``reps > 1`` adds one unmeasured
    warm run first (``reps=1`` runs once: build and ingest steps change
    state and cannot repeat)."""
    if reps > 1:
        fn()
    return statistics.median(time_reps(spark, fn, reps))
