"""Print the Catalyst optimized logical plan of registered queries, with
expression ids (``#123``, ``#123L``), plan ids and JVM object hashes
(``UnsafeArrayData@2c713878``) normalized so two builds of the same plan
diff clean; the data directory prints as ``SF_DIR``. Usage:

    python tools/optimized_plan.py SF_DIR QUERY [QUERY ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhw3d_detection_spark import queries as Q  # noqa: E402
from mhw3d_detection_spark.session import get_spark  # noqa: E402


def normalized(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"@[0-9a-f]+\b", "@", plan)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, names = sys.argv[1], sys.argv[2:]
    spark = get_spark("optimized-plan", cpus=2)
    for name in names:
        df = Q.REGISTRY[name].spark_fn(spark, sf_dir)
        print(f"== {name} ==")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        print(normalized(plan).replace(os.path.abspath(sf_dir), "SF_DIR"))
    spark.stop()


if __name__ == "__main__":
    main()
