#!/usr/bin/env python
"""sf1 bench tier (r15, VERDICT r14 #3): a committed record for the
DATA-BOUND queries at 10x the driver's bench scale.

Why it exists: every one of the 18 sf0.1 headline scaling ratios in
BENCH_r14/BENCH_r14_c8 is <= 1 (8 cores meets or beats 32), i.e. the
driver-scale bench is job-floor/overhead-bound and can no longer
distinguish a data-path win from scheduling noise. The sf1 probes that
informed r13/r14 decisions lived in ad-hoc .scratch runs
(PROBE_r14_undersplit.json); this tool promotes them to a tracked,
repeatable record (committed per round as BENCH_SF1_r{N}.json) so
round-over-round deltas on data-bound plans are measurable.

Protocol is bench.py's, from the same core (habits_etl_spark/metrics.py):
each rep is ``time_noop`` (plan build + noop sink, jobs labelled
``sf1:<id>:rep<i>``) after one untimed ``warm:<id>`` run, >=2 reps with median+min+all reps and the median
build seconds persisted, the same ``calibrate`` probe bracketing the
timed section, the same one-time layout prep (reported separately).
Naming ids times just those, at any ``--sf``. The fixture is the
DETERMINISTIC sf0.1 replication produced by tools/make_scaled_fixture.py
(factor 10) — regenerate with:

    python tools/make_scaled_fixture.py --src /root/testdata/sf0.1 \
        --factor 10 --out /root/repo/.scratch/sf1

This tool never runs under the driver (the driver invokes bench.py); it
exists for the optimization rounds' own measurement discipline.

Usage:
    python tools/bench_sf1.py [--sf /root/repo/.scratch/sf1] [--reps 2] \
        [--out BENCH_SF1_LOCAL.json] [query ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Data-bound set: the sf0.1-invisible heavies (text/dedup/vector) plus the
# headline queries whose 8-core ratio inverted hardest in BENCH_r14_c8
# (upsert 0.36, exact_dedup 0.40, streaks 0.49 — the floor-bound trio the
# sf1 tier exists to make measurable again).
SF1_QUERIES = [
    "sink_upsert_events",
    "join_asof",
    "win_streaks",
    "ext_exact_dedup",
    "ext_near_dedup_minhash",
    "ext_topk_sim_search",
    "ext_ngram_jaccard_blocked",
    "ext_containment_blocked",
    "ext_weighted_minhash_pairs",
    "ext_bigram_lm_score",
    "ext_pca_top_component",
    "ext_ivf_partition_sim",
]


def main() -> None:
    args = sys.argv[1:]

    def flag(name, default):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    sf_dir = flag("--sf", "/root/repo/.scratch/sf1")
    reps = int(flag("--reps", "2"))
    out_name = flag("--out", "BENCH_SF1_LOCAL.json")
    names = args or SF1_QUERIES
    if not os.path.isdir(sf_dir):
        sys.exit(
            f"fixture dir {sf_dir} missing — generate it with\n"
            "  python tools/make_scaled_fixture.py --src /root/testdata/sf0.1 "
            f"--factor 10 --out {sf_dir}"
        )

    from bench import optimize_layout
    from habits_etl_spark.metrics import PROBE_BASELINE_SEC, calibrate, time_noop
    from habits_etl_spark.plans import QUERIES
    from habits_etl_spark.session import get_spark

    spark = get_spark("bench_sf1")
    bench_dir, prep_sec = optimize_layout(spark, sf_dir)

    calibrate(spark)  # JIT warm
    cal_pre = calibrate(spark)

    timings: dict[str, float] = {}
    build_sec: dict[str, float] = {}
    reps_all: dict[str, list[float]] = {}
    for name in names:
        if name not in QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}), file=sys.stderr)
            continue
        try:
            # one untimed warm run per id, as bench.py's _warm: rep 0 would
            # otherwise pay the cold JVM and the first build of its caches
            time_noop(spark, lambda: QUERIES[name](spark, bench_dir), f"warm:{name}")
            times = [
                time_noop(spark, lambda: QUERIES[name](spark, bench_dir), f"sf1:{name}:rep{i}")
                for i in range(reps)
            ]
        except Exception as exc:
            print(f"ERROR {name}: {exc}", file=sys.stderr)
            continue
        reps_all[name] = [round(b + e, 3) for b, e in times]
        build_sec[name] = round(statistics.median(b for b, _ in times), 3)
        timings[name] = round(statistics.median(reps_all[name]), 3)
        print(json.dumps({"query": name, "reps": reps_all[name]}), file=sys.stderr)

    cal_post = calibrate(spark)
    probe_observed = max(round(statistics.median(cal_pre + cal_post), 3), 1e-9)
    total = round(sum(timings.values()), 3)
    record = {
        "metric": "sf1_data_bound_total_runtime",
        "value": total,
        "calibrated_value": round(total * (PROBE_BASELINE_SEC / probe_observed), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 1.0,
        "sf_dir": sf_dir,
        "fixture": "make_scaled_fixture factor=10 from /root/testdata/sf0.1",
        "repeat": reps,
        "repetitions": reps_all,
        "queries_min": {n: round(min(r), 3) for n, r in reps_all.items()},
        "build_sec": build_sec,
        "layout_prep_sec": prep_sec,
        "probe_baseline_sec": PROBE_BASELINE_SEC,
        "probe_observed_sec": probe_observed,
        "probe_samples_pre": cal_pre,
        "probe_samples_post": cal_post,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), out_name
    )
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in ("metric", "value", "calibrated_value", "unit", "queries", "sf")}))


if __name__ == "__main__":
    main()
