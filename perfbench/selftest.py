#!/usr/bin/env python3
"""Smoke self-test of the benchmark: every workload at the smallest size
(1k events; one cron cycle of 20 users x 2 days), untraced and traced.

    python3 perfbench/selftest.py

Checks that each run exits 0 and passes its correctness gate, that it
prints every metric of BENCHMARK.json exactly once with its unit and no
other, and that the traced runs together cover every layer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import LAYERS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7


def _no_duplicates(pairs):
    keys = [k for k, _ in pairs]
    dup = {k for k in keys if keys.count(k) > 1}
    if dup:
        raise ValueError(f"printed more than once: {sorted(dup)}")
    return dict(pairs)


def run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}: {p.stderr[-2000:]}"]
    out = json.loads(p.stdout.strip().splitlines()[-1], object_pairs_hook=_no_duplicates)
    errors = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(out)}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        errors.append(f"{where}: gate {out['correct']}, {out['failed']}/{out['attempted']} "
                      f"failed: {p.stderr[-2000:]}")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != declared:
        errors.append(f"{where}: metrics/units differ from BENCHMARK.json: "
                      f"{sorted(set(got.items()) ^ set(declared.items()))}")
    bad = [k for k, v in out["metrics"].items()
           if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]]
    if bad:
        errors.append(f"{where}: not a number: {bad}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        print("workloads of BENCHMARK.json and workloads.py differ")
        return 1
    errors, covered = [], set()
    for workload in WORKLOADS:
        for trace in (0, 1):
            errors += run(workload, trace, spec)
        path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{SEED}.json")
        with open(path) as f:
            covered |= {s["layer"] for s in json.load(f)["spans"]}
    missing = set(LAYERS) - covered
    if missing:
        errors.append(f"trace covers no span of layers {sorted(missing)}")
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
