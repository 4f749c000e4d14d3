"""Session-level confs: the codegen cache holds a whole pipeline plan, and
a supplied session that cannot is named in a warning."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import warnings

from mhw3d_detection_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Static confs are fixed for the life of a JVM, and the test session is
# already live, so the engine's own session is built in a child process.
_CHILD = textwrap.dedent(
    """
    import json, sys, warnings
    import pandas as pd
    from fixtures_mhw import oliver_synthetic
    from mhw3d_detection_spark import get_spark
    from mhw3d_detection_spark.plans import detect_mhw
    from mhw3d_detection_spark.session import configure

    spark = get_spark("test-session", cpus=2)
    base = oliver_synthetic()
    grid = pd.concat(
        [base.assign(cell_id=c, temp=base.temp + 0.1 * c) for c in range(2)]
    )
    ts = spark.createDataFrame(grid)
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled():
        return int(metrics.METRIC_COMPILATION_TIME().getCount())

    counts = []
    for _ in range(2):
        c0 = compiled()
        rows = detect_mhw(ts, baseline=(1983, 2012), pool_mode="grid").collect()
        counts.append((compiled() - c0, len(rows)))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        configure(spark)
    print(json.dumps({
        "counts": counts,
        "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
        "warnings": [str(w.message) for w in caught],
    }))
    spark.stop()
    """
)


def test_second_identical_op_compiles_no_classes():
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.path.join(ROOT, "tests")]),
        SPARK_DRIVER_MEMORY="1g",
    )
    res = subprocess.run(
        [sys.executable, "-c", _CHILD],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    (first, rows1), (second, rows2) = out["counts"]
    assert rows1 == rows2 > 0
    assert first > 0
    # at Spark's default 100-entry cache the second op recompiled ~55
    # of the plan's ~98 classes
    assert second == 0, out
    assert out["debugging"] == "false"
    assert out["warnings"] == []


class _Conf:
    def __init__(self, values):
        self.values = values

    def get(self, k, default=None):
        return self.values.get(k, default)

    def set(self, k, v):
        pass


class _Session:
    def __init__(self, values):
        self.conf = _Conf(values)


def test_configure_warns_once_on_small_static_conf(monkeypatch):
    monkeypatch.setattr(session, "_warned", set())
    k = "spark.sql.codegen.cache.maxEntries"
    small = _Session({k: "100"})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.configure(small)
        session.configure(small)
        session.configure(_Session({k: str(session.STATIC_CONFS[k])}))
    assert len(caught) == 1
    assert k in str(caught[0].message)
