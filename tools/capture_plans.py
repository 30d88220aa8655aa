"""Capture `.explain("formatted")` output for named registry queries.

Writes plans/$PLANS_ROUND/<query>_<tag>.txt for each query — the before/after
plan evidence the optimization rounds commit alongside code changes.
PLANS_ROUND (e.g. r18) is required: without it the script exits 2
instead of filing plans under an old round.

Usage: PLANS_ROUND=<round> python tools/capture_plans.py <tag> [sf_dir] <query ...>
  tag     "before" or "after" (file suffix)
  sf_dir  optional, defaults to /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cust_sagemaker_feature_store_spark import get_spark
from cust_sagemaker_feature_store_spark.queries import REGISTRY


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    tag = args[0]
    rest = args[1:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and rest[0].startswith("/"):
        sf_dir, rest = rest[0], rest[1:]
    names = rest
    plans_round = os.environ.get("PLANS_ROUND")
    if not plans_round:
        print("PLANS_ROUND is not set (e.g. PLANS_ROUND=r18)", file=sys.stderr)
        return 2
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        plans_round,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"SKIP {name}: not in REGISTRY")
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # pragma: no cover
            plan = f"ERROR building plan: {e}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} — explain('formatted'), tag={tag}\n")
            fh.write(plan)
            if not plan.endswith("\n"):
                fh.write("\n")
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
