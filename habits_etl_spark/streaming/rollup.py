"""Continuously maintained daily rollup — the Structured Streaming analog of
the reference's Timescale continuous aggregate + refresh policy:

    CREATE MATERIALIZED VIEW habit_daily WITH (timescaledb.continuous) AS
    SELECT time_bucket('1 day', ts), user_email, habit,
           count(*) FILTER (WHERE value >= 1), avg(value),
           sum(value) FILTER (WHERE habit='meditation_minutes') ...
    (reference sql/001_schema.sql:31-46)

Semantics mapping (SURVEY §2.10 / §7.3.5):

- ``schedule_interval '15 minutes'``  -> processing-time trigger (or
  ``availableNow`` for cron-style runs, matching the reference's K8s
  CronJob cadence, README.md:169-207).
- ``end_offset '15 minutes'``         -> the watermark on ``ts``: buckets
  newer than the watermark stay pending.
- late data (Timescale *re-folds* late rows into already-materialized
  buckets on a later refresh) -> a strict append-mode watermark would DROP
  them, so the rollup is maintained with **foreachBatch**: each micro-batch
  appends to the fact table, then re-aggregates exactly the affected day
  buckets from the fact table and overwrites those buckets in the rollup —
  precisely Timescale's refresh algorithm (recompute the invalidated
  window range), made idempotent by partition overwrite.
- ``start_offset '60 days'``          -> ``backfill_horizon_days`` caps how
  far back a refresh will rewrite.

Scale: the fact table is appended **partitioned by event_date** (same
layout as the batch landing sink, sinks/landing.py) and each refresh
filters on that partition column, so the refresh READ prunes to exactly
the affected day directories (PartitionFilters in the scan, asserted in
tests/test_streaming.py) and the refresh WRITE rewrites only those day
buckets of the rollup (dynamic partition overwrite, set per-write). Both
sides of the refresh are therefore O(late-data spread), not O(history) —
the property the reference buys from Timescale's invalidation log. At the
reference's 15-minute cadence (sql/001_schema.sql:46) this is the
difference between 96 full-table scans/day and 96 few-partition reads.

Layout break (r8): the fact table moved from root-level parquet files to
``event_date=`` partition directories. ``start_continuous_rollup`` refuses
a legacy unpartitioned ``events_path`` up front
(assert_partitioned_fact_layout) rather than mixing the two layouts —
migrate old tables by rewriting them day-partitioned to a fresh path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.plans.common import davg, dsum


def batch_daily_rollup(events: DataFrame, meditation_habit: str = "meditation_minutes") -> DataFrame:
    """The rollup SELECT (reference sql/001_schema.sql:31-40), batch form."""
    return events.groupBy(
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
        "user_email",
        "habit",
    ).agg(
        F.count(F.when(F.col("value") >= 1, 1)).alias("count_done"),
        davg("value").alias("avg_value"),
        dsum(F.when(F.col("habit") == meditation_habit, F.col("value"))).alias("sum_meditation"),
    )


def pruned_fact_scan(spark: SparkSession, events_path: str, days: list) -> DataFrame:
    """Read the day-partitioned fact table restricted to ``days``.

    The filter is on the PARTITION column (``event_date``), not a derived
    ``date_trunc(ts)`` expression, so Catalyst turns it into
    ``PartitionFilters`` on the scan and only the affected day directories
    are listed and read — O(late-data spread) refresh reads at any history
    size."""
    return spark.read.parquet(events_path).filter(F.col("event_date").isin(days))


def refresh_rollup_days(
    spark: SparkSession,
    events_path: str,
    rollup_path: str,
    days: list,
    meditation_habit: str = "meditation_minutes",
) -> None:
    """Recompute the given day buckets from the fact table and overwrite
    exactly those partitions of the rollup (Timescale refresh step).

    Dynamic partition overwrite is requested per-write (DataFrameWriter
    option) rather than via session conf, so callers' later partitioned
    overwrites keep their own semantics."""
    if not days:
        return
    events = pruned_fact_scan(spark, events_path, days).drop("event_date")
    fresh = batch_daily_rollup(events, meditation_habit)
    (
        fresh.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(rollup_path)
    )


def assert_partitioned_fact_layout(spark: SparkSession, events_path: str) -> None:
    """Refuse to append day-partitioned files into a legacy UNPARTITIONED
    fact table.

    The fact layout changed in r8 from root-level parquet files to
    ``event_date=YYYY-MM-DD/`` directories. Appending the new layout on
    top of the old one (e.g. resuming a pre-r8 checkpoint against its old
    ``events_path``) would mix root-level data files with partition
    directories — partition discovery then either fails outright or
    surfaces rows with a NULL ``event_date``, which the pruned refresh
    read would silently never see. Detect the legacy layout up front
    (any root-level non-hidden FILE is a data file: a partitioned table
    keeps all data under ``event_date=*/`` directories) and raise with a
    migration hint instead. Uses the Hadoop FileSystem of the path's own
    scheme, so the check works wherever the write will."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(events_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            raise ValueError(
                f"events_path {events_path!r} holds root-level data file "
                f"{name!r}: a legacy UNPARTITIONED fact table. Migrate it "
                "first (read it, add event_date = date_trunc('DAY', ts), "
                "rewrite with partitionBy('event_date') to a fresh path) — "
                "appending the day-partitioned layout on top would mix "
                "layouts and break partition discovery / refresh pruning."
            )


def start_continuous_rollup(
    spark: SparkSession,
    source_dir: str,
    source_schema,
    events_path: str,
    rollup_path: str,
    checkpoint_path: str,
    watermark: str = "15 minutes",
    backfill_horizon_days: int = 60,
    trigger: dict | None = None,
    meditation_habit: str = "meditation_minutes",
):
    """Start the maintenance stream: watch ``source_dir`` for new event
    files, append them to the fact table, refresh affected rollup buckets.

    Returns the StreamingQuery; callers stop it or use
    ``trigger={"availableNow": True}`` for a cron-style one-shot run.

    Raises ValueError if ``events_path`` holds a legacy unpartitioned
    fact table (see assert_partitioned_fact_layout)."""
    assert_partitioned_fact_layout(spark, events_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            # Append day-partitioned, mirroring the batch landing layout
            # (sinks/landing.py) — this is what lets the refresh read prune.
            (
                batch_df.withColumn(
                    "event_date", F.date_trunc("DAY", F.col("ts")).cast("date")
                )
                .write.mode("append")
                .partitionBy("event_date")
                .parquet(events_path)
            )
            horizon = F.date_sub(F.current_date(), backfill_horizon_days)
            days = [
                r.day
                for r in (
                    batch_df.select(
                        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
                    )
                    .filter(F.col("day") >= horizon)
                    .distinct()
                    .collect()  # bounded: distinct days in one micro-batch
                )
            ]
            refresh_rollup_days(spark, events_path, rollup_path, days, meditation_habit)
        finally:
            batch_df.unpersist()

    stream = (
        spark.readStream.schema(source_schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()
