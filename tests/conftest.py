import os

import pytest
from pyspark.sql import SparkSession

from mhw3d_detection_spark.session import STATIC_CONFS

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("mhw3d-detection-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        # the engine's codegen cache size: at Spark's default the suite
        # recompiles the classes of every plan it runs again
        .config(map={k: str(v) for k, v in STATIC_CONFS.items()})
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
