"""SparkSession construction and session-level configuration.

The engine targets a large multi-executor cluster; locally it runs on
``local[N]``. All settings below are plain public Spark SQL confs.

Two static confs (fixed when the session starts) make a repeated op
pay only for its own work:

- ``spark.sql.codegen.cache.maxEntries`` (:data:`STATIC_CONFS`). One
  ``detect_mhw`` op (grid pooling) compiles 98 Janino classes, one
  ``curate_corpus`` op 149 (176 compilations at the default cache,
  which evicts some within the op). At Spark's default of 100 entries
  every repeated ``detect_mhw`` op recompiled 55 of its classes
  (``curate_corpus``: about 130), and its first tasks ran that fresh
  bytecode interpreted until the JIT warmed it again. With 1000
  entries a second identical ``detect_mhw`` op compiles none.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` (set by
  :func:`get_spark` only). PySpark otherwise captures the Python call
  site on every ``F.*`` and DataFrame call, several py4j round trips
  each: 1.11 s against 0.65 s per ``detect_mhw`` plan build (medians
  of 10 alternating builds, 4-core host). The cost: an analysis error
  no longer names the Python line that built the failing column; the
  JVM error message is unchanged.
"""

from __future__ import annotations

import os
import warnings

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

# Static confs with a floor: get_spark sets them when it builds the
# session; on a supplied session configure() can only check them.
STATIC_CONFS = {
    # Spark's codegen cache is a Guava cache with 4 segments, each
    # holding maxEntries / 4 classes and evicting on its own, so one
    # op's classes stay resident only if a segment can take them all:
    # at least 4x the largest per-op count (curate_corpus, up to 176
    # compilations; detect_mhw 98), i.e. 704, rounded up to leave room
    # for a second plan family in the same session.
    "spark.sql.codegen.cache.maxEntries": 1000,
}

_warned: set[str] = set()


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Static confs cannot change on a live session: each one whose value
    is below :data:`STATIC_CONFS` is named in a warning, once per
    process.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — non-fatal; the
            # loaders have pure-python fallbacks.
            pass
    for k, floor in STATIC_CONFS.items():
        live = int(spark.conf.get(k))
        if live < floor and k not in _warned:
            _warned.add(k)
            warnings.warn(
                f"{k}={live} on this session, below the engine's {floor}: "
                "repeated ops recompile their generated code (a static "
                "conf: set it when the session is built)",
                stacklevel=2,
            )
    return spark


def get_spark(app_name: str = "mhw3d_detection_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized for this machine.

    On a real cluster the user supplies their own session; everything in
    the engine only assumes the confs in :data:`RUNTIME_CONFS`, and runs
    faster with :data:`STATIC_CONFS`. Python call-site capture is off in
    the built session (see the module docstring for the trade-off).
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **STATIC_CONFS}.items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
