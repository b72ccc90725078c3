#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``
under ``.perfbench/work/<workload>`` (wiped first), starts a Spark session
on ``local[<cores>]``, runs one unmeasured cold round, then the number of
measured rounds that fills about ``--seconds`` on 4 cores, checks the
outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``, in CPU seconds of the program (see ``spans.cpu_s``);
with ``--trace 1`` they are its per-layer metrics, taken from spans
around calls into each layer and from Spark's status APIs, and the spans
are written to ``.perfbench/traces/``. ``--smoke`` shrinks the inputs and
stops after the cold round (see selftest.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def configure(work: str) -> None:
    """Size Spark for the host and keep every file it writes in ``work``.
    Must run before pyspark is imported."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # keep every job, stage and execution of a run in the status stores
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            # C1 only and one GC thread: see "Host noise" in README.md
            f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-Xms2g -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UseDynamicNumberOfCompilerThreads'",
            "pyspark-shell",
        ]),
    })


def cpu_times() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), or [] where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of the host's CPU time that the hypervisor gave to other
    guests between two readings. Kept with each run's record: when it is
    high, every time of the run is slower."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100 * d[7] / sum(d) if sum(d) else 0.0


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import habits_etl_spark  # noqa: F401
        import check_correctness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not here: {exc}", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure(work)

    host0 = cpu_times()
    tracer = spans.Tracer()
    tracer.on = bool(args.trace)
    if args.trace:
        tracer.wrap_public_functions()

    # the driver JVM starts inside set-up, so its CPU counts from zero
    t0, py0 = time.perf_counter(), time.process_time()
    with tracer.span("setup", "bench"):
        with tracer.span("get_spark", "session"):
            from habits_etl_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}")
            spark.range(1).collect()  # the scheduler is up
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.smoke, tracer)
            wl.build_inputs()
        except BaseException:
            stop(spark)
            raise
    setup_wall = time.perf_counter() - t0
    setup_s = spans.cpu_s(spark.sparkContext) - py0

    try:
        result = Runner(spark, wl, tracer, args).run()
    finally:
        rss = spans.jvm_peak_rss_mb(spark.sparkContext)
        stop(spark)

    checks = result["checks"]
    for name, ok, detail in checks:
        if not ok:
            print(f"perfbench: check FAILED {name}: {detail}", file=sys.stderr)
    attempted = result["attempted"] + len(checks)
    failed = result["failed"] + sum(1 for _, ok, _ in checks if not ok)

    if args.trace:
        values = result["layers"]
        values["session.jvm_peak_rss_mb"] = rss
        values["session.start_s"] = session_s
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "metrics": values,
                     "checks": checks, "self_s": tracer.self_times()})
        declared = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, **result["e2e"]}
        declared = spec["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"host_steal_pct": steal_pct(host0, cpu_times()),
                   "setup": {"session_s": session_s, "wall_s": setup_wall, "cpu_s": setup_s},
                   "gate_s": result["gate_s"], "rounds": result["rounds"], "checks": checks}, f)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def op_rep(span: dict) -> int:
    """The round a span belongs to (its op is ``<op>:<round>``)."""
    return int(span["op"].rsplit(":", 1)[1])


class Runner:
    """The closed loop: the workload's unmeasured rounds, then the number
    of measured rounds that the workload sets for ``seconds``. The correctness gate runs once, outside the measured
    rounds: first when the inputs never change (it then doubles as the
    cold round), else last. In the traced run the measured rounds go
    traced, untraced, untraced, traced, ..., so that a trend over the
    rounds cancels out of the tracing overhead, the difference of the
    traced and untraced medians."""

    def __init__(self, spark, wl, tracer, args):
        self.spark, self.wl, self.tracer, self.args = spark, wl, tracer, args
        self.attempted = self.failed = 0
        self.rounds: list[dict] = []  # measured rounds: wall, latencies, rows, traced
        self.all: list[dict] = []  # every round, for the run's record
        self.layer_rounds: list[dict] = []  # Spark numbers of each traced round
        self.store = spans.sql_store(spark) if args.trace else None

    def one(self, rep: int) -> dict | None:
        sc = self.spark.sparkContext
        h0, c0, t0 = cpu_times(), spans.cpu_s(sc), time.perf_counter()
        try:
            out = self.wl.round(rep)
        except Exception:  # a failed op is counted, and the loop goes on
            print(f"perfbench: round {rep} failed:", file=sys.stderr)
            traceback.print_exc()
            self.attempted += self.wl.ops_per_round
            self.failed += self.wl.ops_per_round
            return None
        self.attempted += len(out["latencies"])
        out["wall"] = time.perf_counter() - t0
        out["round_cpu"] = spans.cpu_s(sc) - c0
        out["steal_pct"] = steal_pct(h0, cpu_times())
        self.all.append({"rep": rep, **out})
        print(f"perfbench: round {rep} {out['wall']:.3f} s", file=sys.stderr)
        return out

    def run(self) -> dict:
        args, tracer, wl = self.args, self.tracer, self.wl
        tracer.on = False
        g0 = time.perf_counter()
        checks = wl.gate() if wl.gate_first else []
        self.gate_s = time.perf_counter() - g0
        rep = 0
        while not args.smoke and rep < wl.warm_rounds:
            self.one(rep)
            rep += 1
        for i in range(1 if args.smoke else wl.measured_rounds(args.seconds)):
            traced = bool(args.trace) and i % 4 in (0, 3)
            tracer.on = traced
            out = self.traced_round(rep) if traced else self.one(rep)
            tracer.on = False
            rep += 1
            if out is not None:
                out["traced"] = traced
                self.rounds.append(out)
        if not self.rounds:
            raise RuntimeError("every measured round failed")
        if not wl.gate_first:
            g0 = time.perf_counter()
            checks = wl.gate()
            self.gate_s = time.perf_counter() - g0
        steady = self.rounds
        result = {"attempted": self.attempted, "failed": self.failed, "rounds": self.all,
                  "checks": checks, "gate_s": self.gate_s}
        if args.trace:
            result["layers"] = self.layers(steady)
            return result
        # means over every measured round: each round is a fixed point of
        # the warm-up (and of the warehouse's growth), the same on every run
        result["e2e"] = {
            "op_cpu_ms": 1000 * statistics.mean(c for r in steady for c in r["cpu"]),
            "round_cpu_s": statistics.mean(r["round_cpu"] for r in steady),
        }
        return result

    def traced_round(self, rep: int) -> dict | None:
        """One round with spans on, then (outside its wall time) the Spark
        numbers of its executions and job groups."""
        sc = self.spark.sparkContext
        spans.drain_listeners(sc)
        lo = spans.last_execution_id(self.store)
        self.wl.groups, self.wl.counts = [], {}
        conf = self.spark.conf.getAll
        out = self.one(rep)
        if out is None:
            return None
        spans.drain_listeners(sc)
        execs = spans.read_executions(self.store, lo, spans.last_execution_id(self.store))
        busy = spans.union(execs)  # a foreachBatch runs executions inside another
        for start, end in busy:
            self.tracer.add_child("sql", "spark", start, end)
        # counters a workload only records when its layer ran
        rec = {k: 0 for k in ("plans.build_jobs", "pipeline.jobs", "sinks.bytes_written",
                              "sinks.files_written", "sinks.partitions_rewritten",
                              "streaming.days_refreshed")}
        rec.update(self.wl.counts)
        rec.setdefault("session.conf_keys_changed", self.wl.conf_changes(conf))
        rec["spark.exec_ms"] = 1000 * sum(end - start for start, end in busy)
        for key in spans.SQL_METRICS.values():
            layer = "sources" if key == "files_scanned" else "spark"
            rec[f"{layer}.{key}"] = sum(e[key] for e in execs)
        for g in self.wl.groups:
            c = spans.group_counts(sc, g)
            for k, v in c.items():
                rec[f"spark.{k}"] = rec.get(f"spark.{k}", 0) + v
            if g.endswith(":build"):
                rec["plans.build_jobs"] += c["jobs"]
            if ":run_ingest:" in g:
                rec["pipeline.jobs"] += c["jobs"]
        rec["spark.cached_bytes"] = spans.cached_bytes(sc)
        rec["wall"] = out["wall"]
        rec["rep"] = rep
        self.layer_rounds.append(rec)
        return out

    def layers(self, steady) -> dict:
        """Per-layer metrics: means over the traced rounds, self-time
        shares over the traced timeline, and the tracing overhead."""
        recs = self.layer_rounds
        n = len(recs)

        def mean(key):
            return sum(r.get(key, 0.0) for r in recs) / n

        def total(key):
            return sum(r.get(key, 0.0) for r in recs)

        out = {k: mean(k) for k in {k for r in recs for k in r} - {"wall", "rep"}}
        wall = total("wall")
        reps = {r["rep"] for r in recs}
        tr = self.tracer

        def inclusive_pct(pred):
            s = sum(x["end"] - x["start"] for x in tr.spans
                    if pred(x) and x["op"] and op_rep(x) in reps)
            return 100 * s / wall

        out["spark.plan_ms"] = 1000 * sum(
            x["end"] - x["start"] for x in tr.spans if x["name"] == "executedPlan"
            and op_rep(x) in reps) / n
        out["spark.plan_pct"] = inclusive_pct(lambda x: x["name"] == "executedPlan")
        out["plans.build_pct"] = inclusive_pct(
            lambda x: x["layer"] == "plans" and x["parent"] is not None
            and tr.spans[x["parent"]]["layer"] == "bench")
        for key, name in (("pipeline.run_ingest_pct", "run_ingest"),
                          ("sinks.land_raw_pct", "land_raw"),
                          ("streaming.refresh_pct", "start_continuous_rollup")):
            out[key] = inclusive_pct(lambda x, name=name: x["name"] == name)
        trig = total("streaming.trigger_ms")
        out["streaming.add_batch_pct"] = 100 * total("streaming.add_batch_ms") / trig if trig else 0.0
        out["streaming.wal_commit_pct"] = 100 * total("streaming.wal_commit_ms") / trig if trig else 0.0
        dropped = total("streaming.rows_dropped")
        out["streaming.rows_read_per_row"] = total("streaming.rows_read") / dropped if dropped else 0.0
        csv_bytes = self.wl.csv_bytes
        out["sinks.stored_bytes_per_input_byte"] = (
            self.wl.stored_bytes() / csv_bytes if csv_bytes else 0.0)
        self_s = tr.self_times(lambda x: x["op"] is not None and op_rep(x) in reps)
        for layer in spans.LAYERS:
            if layer != "session":
                out[f"{layer}.self_pct"] = 100 * self_s.get(layer, 0.0) / wall
        traced = [r["wall"] for r in steady if r.get("traced")]
        untraced = [r["wall"] for r in steady if not r.get("traced")]
        out["trace.overhead_pct"] = (
            100 * (statistics.median(traced) / statistics.median(untraced) - 1)
            if traced and untraced else 0.0)
        return out


if __name__ == "__main__":
    sys.exit(main())
