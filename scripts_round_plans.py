"""Capture .explain('formatted') for named queries into plans/<round>/.

Usage: python scripts_round_plans.py ROUND before|after query [query ...]

Writes plans/<round>/<query>_<tag>.txt (e.g. ROUND = r14). Parity/audit-style
queries do their heavy work in builder-internal actions; for those the
declared frame's plan is still captured (it is what a registry caller runs), and
operator-level plans are captured separately where the round's
OPTIMIZATION_<round>.md says so.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_project_spark.plans import workload
from data_engineering_project_spark.session import get_spark


def main() -> int:
    round_, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    assert tag in ("before", "after"), tag
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", round_)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"{round_}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = workload.QUERIES.get(name)
        if fn is None:
            print(f"{name}: UNKNOWN", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
