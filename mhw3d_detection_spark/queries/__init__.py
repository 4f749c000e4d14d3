"""Declared-query registry: every operator from SURVEY.md §2 exposed as
a (spark_fn, oracle_sql) pair for the driver's DuckDB differential gate.

Import side effect: importing this package populates REGISTRY.
"""

from mhw3d_detection_spark.queries.base import REGISTRY, QueryDef, register  # noqa: F401

# Populate the registry. The driver's per-round CORRECTNESS artifact
# records the first 50 registry rows (the rest are verified locally by
# tools/verify_queries.py), so the paper's rows register first: every
# detection row, then the climatology/MHW rows.
from mhw3d_detection_spark.queries import detection as _detection  # noqa: E402,F401
from mhw3d_detection_spark.queries import mhw as _mhw  # noqa: E402,F401
from mhw3d_detection_spark.queries import relational as _relational  # noqa: E402,F401
from mhw3d_detection_spark.queries import extensions as _extensions  # noqa: E402,F401
from mhw3d_detection_spark.queries import spatial as _spatial  # noqa: E402,F401


def queries():
    return {name: qd.spark_fn for name, qd in REGISTRY.items()}


def oracle_sql():
    return {name: qd.sql for name, qd in REGISTRY.items() if qd.sql is not None}
