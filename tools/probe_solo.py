#!/usr/bin/env python
"""Solo per-query probe for the optimization rounds: time named queries
with the noop sink (guide §1.4) in a fresh session, optionally dumping
each plan (`explain formatted`) to plans/r{N}/<query>_<tag>.txt.

Usage:
    python tools/probe_solo.py --tag before --reps 3 [--sf DIR] q1 q2 ...
    python tools/probe_solo.py --tag before --plans-only q1 q2 ...

Timings print as one JSON line per query:
    {"query": ..., "reps": [...], "median": ..., "cold": ...}
The first rep is cold (no sf0.001 warmup unless --warm), so `cold` and
warm reps are both visible. Jobs are labelled (guide §1.5).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]

    def flag(name, default=None, has_val=True):
        if name in args:
            i = args.index(name)
            if has_val:
                v = args[i + 1]
                del args[i : i + 2]
                return v
            del args[i]
            return True
        return default

    sf_dir = flag("--sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    tag = flag("--tag", "probe")
    reps = int(flag("--reps", "3"))
    round_no = flag("--round", "14")
    plans_only = bool(flag("--plans-only", False, has_val=False))
    warm = bool(flag("--warm", False, has_val=False))
    names = args
    if not names:
        sys.exit("usage: probe_solo.py [--sf DIR] [--tag TAG] [--reps N] "
                 "[--plans-only] [--warm] query ...")

    from habits_etl_spark.plans import QUERIES
    from habits_etl_spark.session import get_spark

    spark = get_spark("probe_solo")
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plan_dir = os.path.join(repo, "plans", f"r{round_no}")
    os.makedirs(plan_dir, exist_ok=True)

    for name in names:
        if name not in QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(jvm_mode)
        with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        if plans_only:
            print(json.dumps({"query": name, "plan": f"plans/r{round_no}/{name}_{tag}.txt"}))
            continue
        if warm:
            try:
                QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
                    "noop"
                ).mode("overwrite").save()
            except Exception:
                pass
        times = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"probe:{name}:rep{i}")
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(
            json.dumps(
                {
                    "query": name,
                    "reps": times,
                    "median": round(statistics.median(times), 3),
                    "cold": times[0],
                }
            )
        )


if __name__ == "__main__":
    main()
