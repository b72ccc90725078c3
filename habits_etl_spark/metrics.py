"""The bench tools' measurement core: one noop-forced timing of a plan
(``time_noop``), the host-speed calibration probe (``calibrate``), and
execution-level shuffle metrics read back from Spark's SQL status store
after forcing a plan (``run_with_shuffle_metrics``).

Why the shuffle metrics exist: the Bloom-pruning A/B (plans/sketchjoin.py,
BENCH_DETAIL bloom_ab) argues that pruning the fact side before a
shuffle join is a NETWORK win even when single-host wall time says
otherwise — on local[32] a shuffle is an in-memory copy, so the probe
overhead isn't bought back. That claim needs a measured byte story, not
prose: this module reads the "shuffle bytes written" / "shuffle records
written" SQLMetrics that Spark's listener aggregates per SQL execution,
so the A/B can record {plain,pruned}_shuffle_bytes alongside the row
counts.

Implementation notes:

- The metrics hang off the SQLAppStatusStore (the same store the SQL UI
  tab renders), keyed by execution id; the listener bus is async, so we
  poll (bounded) until the execution we just forced reports a
  completion time.
- A single SQLMetric accumulator is displayed on every plan node that
  reuses it (AQE reused exchanges, wrapped query stages), so totals are
  deduped by accumulatorId before summing.
- Aggregated byte metrics come back human-formatted ("total (min, med,
  max ...)\\n20.4 KiB (...)"); _metric_total parses the leading total.
  3-significant-digit precision is ample for a bytes-moved comparison.

No new dependencies and no custom listener registration (a Python
SparkListener needs a py4j callback server, which the driver's bench
environment doesn't enable): everything is read from the JVM-side store
Spark already maintains.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Fixed quiet-host reference time for the calibration probe below,
# recorded from a clean round-5 bench run (steal_suspected=false,
# pooled pre+post samples 0.399-0.438, median 0.414). Two subtleties
# found while recording it: (1) the estimator must be the MEDIAN of
# pooled samples — a min-of-3 latches onto transient turbo bursts
# (0.37 s vs a 0.41 s steady state) and skewed the ratio by ~35% on an
# otherwise clean run; (2) the baseline must come from an IN-BENCH
# probe, not a standalone JVM — after the full query workload the JIT
# runs the identical probe ~17% faster (0.41 s vs 0.50 s fresh), so a
# fresh-JVM reference systematically inflates calibrated_value.
# calibrated_value = value * (this / observed probe median) normalizes
# totals across host-speed luck: a sustained-steal run slows the probe
# by the same factor as the queries, so the ratio cancels it. See
# README "Benchmark protocol".
PROBE_BASELINE_SEC = 0.414


def time_noop(
    spark: SparkSession, build: Callable[[], DataFrame], label: str
) -> tuple[float, float]:
    """One timed rep: ``(build_s, exec_s)``.

    Every job runs under job group ``label``. ``build_s`` is the Python
    plan build, including any jobs ``build()`` runs; ``exec_s`` is the
    noop-format write of the frame it returns (full plan execution, no
    driver collect, no result materialization). The job group and
    description are cleared even when a rep raises, so later jobs never
    carry a failed rep's label."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def calibrate(spark: SparkSession) -> list[float]:
    """Five samples of the host-speed probe: a FIXED CPU-bound job (no
    I/O, no data dependence) that the bench tools time before and after
    their measured section. Bursty steal shows up as per-query rep
    spread; SUSTAINED steal slows every rep uniformly and is invisible
    to a spread check — but it slows this probe identically, so totals
    normalize by the probe ratio (``PROBE_BASELINE_SEC``) instead of
    mistaking a slow host for a regression.

    Each probe is large enough (~0.5 s on the reference host) that JVM
    scheduling jitter is <10% of it. Callers take the MEDIAN across
    pooled pre+post samples — r5 measurement showed min-of-3 latches
    onto transient turbo bursts (0.37 s vs a 0.5-0.6 s steady state),
    which inflated calibrated_value by 36% on a clean run. The modulo
    keeps the running sum inside bigint under ANSI."""

    def probe() -> DataFrame:
        return spark.range(0, 4_000_000_000, 1, 32).selectExpr("sum(id % 1000003) as s")

    return [round(sum(time_noop(spark, probe, "calibrate")), 3) for _ in range(5)]


_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}


def _metric_total(display: str) -> float:
    """Parse the TOTAL out of a SQLMetric display string.

    Forms observed (Spark 4.x):
      "776"                                  -- plain sum
      "1,234"                                -- grouped sum
      "total (min, med, max (stageId: taskId))\\n20.4 KiB (2.5 KiB, ...)"
      "size total (min, med, max ...)\\n18.2 KiB (...)"
    """
    line = display.split("\n")[-1].strip()
    head = line.split(" (")[0].strip()
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
    return float(head.replace(",", ""))


def run_with_shuffle_metrics(
    spark: SparkSession, df: DataFrame, timeout_sec: float = 30.0
) -> dict:
    """Force ``df`` with a noop write and return its execution's shuffle
    totals: ``{"elapsed_sec", "shuffle_bytes_written",
    "shuffle_records_written"}``.

    Caller contract: no other SQL execution may run concurrently in
    this session (the bench and tests are single-threaded) — the
    metrics are read from the LAST completed execution in the store.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    # Record the max execution id BEFORE the write and accept only a
    # strictly newer execution. (Checking executionsCount() against a
    # separately-snapshotted executionsList() is a TOCTOU race on the
    # async listener bus: if our execution registers between the two JVM
    # calls, the list's last element is the PREVIOUS execution — already
    # completed — and its metrics would be silently attributed to us.)
    before = store.executionsList()
    max_id_before = (
        before.apply(before.size() - 1).executionId() if before.size() > 0 else -1
    )

    _, elapsed = time_noop(spark, lambda: df, "shuffle_metrics")

    last = None
    deadline = time.monotonic() + timeout_sec
    while time.monotonic() < deadline:
        execs = store.executionsList()
        n = execs.size()
        if n > 0:
            cand = execs.apply(n - 1)
            if (
                cand.executionId() > max_id_before
                and cand.completionTime().isDefined()
            ):
                last = cand
                break
        time.sleep(0.1)

    out = {
        "elapsed_sec": round(elapsed, 3),
        "shuffle_bytes_written": None,
        "shuffle_records_written": None,
    }
    if last is None:  # listener bus never drained; report timing only
        return out

    values = store.executionMetrics(last.executionId())
    bytes_total = 0.0
    records_total = 0.0
    seen: set[int] = set()
    descs = last.metrics().iterator()
    while descs.hasNext():
        m = descs.next()
        name = m.name()
        if name not in ("shuffle bytes written", "shuffle records written"):
            continue
        accid = m.accumulatorId()
        if accid in seen:  # one accumulator, many plan-node displays
            continue
        seen.add(accid)
        opt = values.get(accid)
        if not opt.isDefined():
            continue
        total = _metric_total(opt.get())
        if name == "shuffle bytes written":
            bytes_total += total
        else:
            records_total += total
    out["shuffle_bytes_written"] = int(bytes_total)
    out["shuffle_records_written"] = int(records_total)
    return out
