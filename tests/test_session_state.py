"""The engine's session ownership: the one inter-query reset every
harness runs, and ensure_session_conf's runtime pins."""
import os

from pyspark import StorageLevel

from orange3_timeseries_spark.queries import ensure_session_conf
from orange3_timeseries_spark.session import reset_session_state


def test_reset_session_state_releases_caches_checkpoints_and_sinks(spark):
    cached = spark.range(100).cache()
    cached.count()
    spark.range(100).localCheckpoint()
    spark.range(3).createOrReplaceTempView("stream_reset_local")
    spark.range(3).createOrReplaceGlobalTempView("stream_reset_global")
    spark.range(3).createOrReplaceTempView("kept_reset_view")
    jsc = spark.sparkContext._jsc
    assert cached.storageLevel != StorageLevel.NONE
    assert len(jsc.getPersistentRDDs()) >= 2      # the cache + checkpoint
    try:
        reset_session_state(spark)
        assert cached.storageLevel == StorageLevel.NONE
        assert len(jsc.getPersistentRDDs()) == 0
        local = {t.name for t in spark.catalog.listTables()}
        assert "stream_reset_local" not in local
        assert "kept_reset_view" in local             # only stream_* sinks
        assert "stream_reset_global" not in {
            t.name for t in spark.catalog.listTables("global_temp")}
    finally:
        spark.catalog.dropTempView("kept_reset_view")


def test_ensure_session_conf_keeps_the_session_parallelism(spark,
                                                           monkeypatch):
    """The local[4] test session was built with 4 shuffle partitions; a
    64-CPU host must not turn that into 64."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    try:
        spark.conf.set(key, "7")
        ensure_session_conf(spark)
        assert spark.conf.get(key) == "4"
    finally:
        spark.conf.set(key, before)


def test_debugging_cache_poke_matches_installed_pyspark(spark):
    """ensure_session_conf turns PySpark's call-site capture off through
    the private module global ``is_debugging_enabled`` caches its answer
    in; a PySpark that renames it must fail here, not silently keep the
    per-call capture on."""
    from pyspark.errors import utils

    assert hasattr(utils, "_enable_debugging_cache")
    assert "_enable_debugging_cache" in \
        utils.is_debugging_enabled.__code__.co_names
    ensure_session_conf(spark)
    assert utils._enable_debugging_cache is False
    assert utils.is_debugging_enabled() is False
