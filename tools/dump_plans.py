#!/usr/bin/env python
"""Dump formatted physical plans for EVERY registered query into PLANS.md —
reviewable evidence that filters push down, dimensions broadcast, and the
hot path stays in whole-stage codegen. Re-run after plan-affecting changes:

    python tools/dump_plans.py

Note: for iterative operators (k-means/PQ/IVF seeding, admission), plan
CONSTRUCTION itself runs the bounded driver-side training jobs, so the
dump takes a few minutes at sf0.1 — that cost is the documented design
(k-bounded collects), not a dump artifact.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from habits_etl_spark.plans import QUERIES
    from habits_etl_spark.session import get_spark

    spark = get_spark("dump_plans")
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    names = sorted(QUERIES)
    out = [
        f"# PLANS — physical plans of all {len(names)} registered queries",
        "",
        f"Generated by tools/dump_plans.py at {sf_dir}. What to look for:",
        "`PushedFilters` reaching the scans, minimal `ReadSchema` (column",
        "pruning), `BroadcastHashJoin` on dimension sides, `HashAggregate`",
        "partial/final pairs around a single `Exchange`, and",
        "`TakeOrderedAndProject` for top-k.",
        "",
    ]
    failed = []
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(jvm_mode)
            out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
        except Exception as exc:  # surfaced in the artifact, not swallowed
            failed.append(name)
            out.append(f"## {name}\n\nPLAN BUILD FAILED: {exc}\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(names)} plans, {len(failed)} failed: {failed})")


if __name__ == "__main__":
    main()
