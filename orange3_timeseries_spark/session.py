"""SparkSession factory with the engine's required configuration.

The reference decodes all timestamps in UTC (``aggregate.py:230``,
``Orange.util.utc_from_timestamp``), so the session timezone is pinned to UTC
for calendar-key parity. Arrow is enabled for the pandas-UDF analytics tier.
"""

from __future__ import annotations

import gc
import os

from pyspark.errors import utils as _pyspark_error_utils
from pyspark.sql import SparkSession

# Knobs that make sense both on local[N] and on a real cluster.  On a cluster
# shuffle partitions should be ~2-3x total cores; locally we match core count.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # STATIC conf (read once at JVM start): the generated-class cache
    # defaults to 100 entries, and a session that plans hundreds of
    # distinct queries (the 240+-query bench, a long notebook) evicts
    # the big HOF/dedup classes and re-pays their 5-9 s janino compile
    # on every revisit — measured as broad late-session inflation in
    # the r7d bench.  5000 entries of generated classes is a few
    # hundred MB of metaspace at worst, nothing at driver scale.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # NumPy-style arithmetic: x/0 -> null, no overflow errors — the kernels
    # encode their own zero/NaN rules explicitly (cf. operators/aggregate.py).
    "spark.sql.ansi.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns (pyarrow default) surface as long;
    # sources.read_parquet restores them to TimestampType from the footer
    # schema (metadata-only driver read — no data pass).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing floors partition count at totalBytes/minPartitionSize;
    # the 1m default serializes byte-light but CPU-heavy Python stages
    # (a 4 MB shuffle feeding per-series splines coalesced to 2 tasks —
    # measured 3x slower than at 24).  64k keeps small-SF shuffles wide;
    # at 100 TB partitions dwarf either floor, so the conf is inert there.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pandas-UDF batches: large enough to amortize Arrow transfer, small
    # enough to keep per-batch memory bounded at wide schemas.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.shuffle.partitions": str(os.cpu_count() or 8),
    # FileOutputCommitter v2: task commits move output directly into
    # the destination instead of a second serial job-commit rename
    # pass — halves the filesystem-metadata cost of every parquet
    # write.  Safe for this engine's writes by construction: index
    # state lands in fresh generation/delta directories whose
    # VISIBILITY is gated by the _COMMITTED marker + pointer swap
    # (operators/index_store.py), so a torn v2 write is unreferenced
    # garbage, never served.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # file:// writes go through Hadoop's ChecksumFileSystem by default,
    # which creates a sidecar .crc per written file — for the bucketed
    # index layouts (64 bucket dirs x entries+docs per generation or
    # delta) that DOUBLES the filesystem-metadata ops of every state
    # write (measured: one LSH generation write 4.9 s -> 2.9 s raw).
    # Production object stores (S3/GCS/ABFS) never write client-side
    # .crc sidecars, so the raw local FS also makes local I/O behavior
    # match the deployment target; data integrity on local disk is
    # covered by parquet's own page/column checksums.  Export
    # SPARK_GRAFT_LOCAL_CRC=1 to restore checksummed local writes.
    **({} if os.environ.get("SPARK_GRAFT_LOCAL_CRC") else
       {"spark.hadoop.fs.file.impl":
        "org.apache.hadoop.fs.RawLocalFileSystem"}),
    # PySpark 4 wraps EVERY DataFrame/Column API call with call-site
    # capture for error enrichment (errors/utils._with_origin): a Python
    # stack walk plus a JVM round-trip per call.  Query construction in
    # this engine is expression-heavy (a 48-bit simhash plan makes ~7.5k
    # py4j commands); disabling the purely-diagnostic capture measured
    # 3.5 s -> 0.7 s for that single construction (guide §4: the Python
    # boundary is also the DRIVER's plan-building boundary).  Runtime
    # semantics and results are unchanged — only error messages lose the
    # user-code line annotation.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Above this many top-level dirs, partition discovery launches a
    # DISTRIBUTED listing job.  The versioned index stores read
    # delta=<k>/bucket=<b> partitioned tables whose dir count (e.g.
    # 4 deltas x 64 buckets) trips the default of 32 on every
    # read_index_table call — a full Spark job to list a few hundred
    # local directories (measured 0.28 s -> 0.10 s per index read with
    # driver-side listing; lifecycle queries read their index 4-6
    # times).  Driver-side listing of <=1024 dirs is sub-ms per dir on
    # local/HDFS metadata; on a high-latency object store (S3) export
    # SPARK_GRAFT_LIST_THRESHOLD=32 to restore distributed listing.
    "spark.sql.sources.parallelPartitionDiscovery.threshold":
        os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "1024"),
    "spark.ui.enabled": "false",
    # Stage-progress bars interleave with stdout and can push the bench's
    # final JSON line past the driver's bounded output capture.
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}

# The runtime-settable _DEFAULTS that ensure_session_conf re-applies on
# every query call, so a session the driver built without get_spark still
# gets the engine's semantics.  spark.hadoop.* keys go to the Hadoop conf.
_RUNTIME_PINS = (
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
    "spark.sql.shuffle.partitions",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
)


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on EXECUTOR python workers regardless
    of the driver's cwd: workers do not inherit the driver's sys.path, so
    a driver launched outside the repo dir would crash every pandas-UDF
    stage with ModuleNotFoundError.  Shipping a zip via ``addPyFile``
    works at runtime on any session (local or cluster)."""
    flag = "spark.orange3_timeseries.pkg_shipped"
    try:
        if spark.conf.get(flag, "no") == "yes":
            return
    except Exception:
        pass
    import os
    import tempfile
    import zipfile

    import orange3_timeseries_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    zip_path = os.path.join(tempfile.gettempdir(),
                            "orange3_timeseries_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "orange3_timeseries_spark",
                    os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already registered on this context
    spark.conf.set(flag, "yes")


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Re-apply the ``_RUNTIME_PINS`` confs the engine's semantics rely
    on; all are runtime-settable, so a driver-created session works too.

    Shuffle partitions are the one pin not taken from ``_DEFAULTS``: the
    value the session was built with wins (``get_spark`` always sets one),
    and ``sc.defaultParallelism`` stands in when the SparkConf has none —
    never the host's CPU count, which would override the parallelism the
    caller chose."""
    ship_package(spark)
    # PySpark caches the dataFrameDebugging decision module-globally on
    # first use; the conf itself is static (builder-time only), so for a
    # session built without it flip the cache directly.  Pinned against
    # the installed PySpark by tests/test_session_state.py.
    _pyspark_error_utils._enable_debugging_cache = False
    sc = spark.sparkContext
    for key in _RUNTIME_PINS:
        if key == "spark.sql.shuffle.partitions":
            spark.conf.set(key, sc._conf.get(key, "")
                           or str(sc.defaultParallelism))
        elif key.startswith("spark.hadoop."):
            sc._jsc.hadoopConfiguration().set(key[len("spark.hadoop."):],
                                              _DEFAULTS[key])
        else:
            spark.conf.set(key, _DEFAULTS[key])
    return spark


def reset_session_state(spark: SparkSession) -> None:
    """Release what earlier queries left in a long-lived session, in this
    order: cached tables, the ``stream_*`` memory-sink views (temp and
    global temp), every persistent RDD, then Python and JVM garbage.

    Every harness runs this before each timer starts.  py4j frees JVM
    plan handles only when Python gc runs, and a long sequential run
    otherwise inflates later queries 2-10x (the dedup tier measured 7-19 s
    in sequence vs 1-4 s after a reset).  ``localCheckpoint()`` blocks are
    persistent RDDs that ``clearCache`` does not release (r7d measured
    2-5x late-session inflation from them), and streaming queries keep
    their sink rows referenced through the views.  Unpersisting every RDD
    is only safe between queries that reuse no earlier query's plan."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("stream_"):
            spark.catalog.dropTempView(t.name)
    for t in spark.catalog.listTables("global_temp"):
        if t.name.startswith("stream_"):
            spark.catalog.dropGlobalTempView(t.name)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def get_spark(app_name: str = "orange3_timeseries_spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` with a pre-configured environment and the builder
    leaves master resolution to spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = "local[*]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
