"""SparkSession construction and session-level configuration.

The engine targets a large multi-executor cluster; locally it runs on
``local[N]``. All settings below are plain public Spark SQL confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and required) to apply to an externally-supplied
# session at runtime — e.g. the test-data `events` table stores
# TIMESTAMP(NANOS) which Spark's parquet reader only accepts as int64
# nanoseconds behind this legacy flag.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start every exchange wide and let AQE coalesce back down: with a
    # fixed spark.sql.shuffle.partitions, per-task aggregate state
    # grows linearly with data and the wide aggregates (pooled clim's
    # array buffers) fall off a cliff once a partition's hash map
    # outgrows memory — measured 456 s -> 138 s on the 16x (49 M
    # sample) pipeline, with no change at bench scale (AQE coalesces
    # the small shuffles back to a handful of tasks). Persisted or
    # cached plans skip that coalescing: a persist() downstream of a
    # wide exchange materializes all 1024 partitions, and every scan of
    # the cached table runs 1024 tasks. Keep tiny intermediates
    # unpersisted (operators/detection.py fused_detect_metrics), or
    # allow spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    # around the caching loop (operators/spatial.py).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "1024",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — non-fatal; the
            # loaders have pure-python fallbacks.
            pass
    return spark


def get_spark(app_name: str = "mhw3d_detection_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized for this machine.

    On a real cluster the user supplies their own session; everything in
    the engine only assumes the confs in :data:`RUNTIME_CONFS`.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # 48g leaves headroom for the OS page cache and keeps G1 pause
        # times sane; 90g+ heaps measurably degrade repeated heavy jobs
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
