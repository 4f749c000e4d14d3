"""Print the Catalyst optimized logical plan of registered queries, with
expression ids (``#123``, ``#123L``), plan ids, JVM object hashes
(``UnsafeArrayData@2c713878``) and higher-order-function lambda names
(``lambda x_19#``, numbered per JVM) normalized so two builds of the
same plan diff clean, whichever queries ran before them in the process;
the data directory prints as ``SF_DIR``. Usage:

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
    plan = re.sub(r"@[0-9a-f]+\b", "@", plan)
    # lambda variables renumbered in order of first appearance: distinct
    # variables stay distinct, the JVM-wide counter drops out
    names: dict[str, str] = {}

    def lam(m: re.Match) -> str:
        key = m.group(1) + m.group(2)
        names.setdefault(key, f"{m.group(1)}{len(names) + 1}")
        return f"lambda {names[key]}#"

    return re.sub(r"lambda ([A-Za-z]+_)(\d+)#", lam, plan)


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
