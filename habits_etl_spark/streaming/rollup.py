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

Scale: each micro-batch is appended with ``sinks.landing.write_events``,
so the stream's fact table has the batch ingest's layout (partitioned by
event_date, sorted within partitions), and each refresh reads it through
``sinks.landing.pruned_fact_scan`` (PartitionFilters in the scan, asserted
in tests/test_streaming.py) and rewrites only the affected day buckets of
the rollup (per-write dynamic partition overwrite). Both sides of the
refresh are O(late-data spread), not O(history) — the property the
reference buys from Timescale's invalidation log. ``start_continuous_rollup``
refuses a legacy flat (pre-r8) ``events_path`` up front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.plans.common import davg, dsum
from habits_etl_spark.sinks.landing import (
    assert_partitioned_fact_layout,
    event_dates,
    pruned_fact_scan,
    write_events,
)


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
    fact table (see sinks.landing.assert_partitioned_fact_layout)."""
    assert_partitioned_fact_layout(spark, events_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            write_events(batch_df, events_path, mode="append")
            horizon = F.date_sub(F.current_date(), backfill_horizon_days)
            # bounded: the distinct days of one micro-batch
            days = event_dates(batch_df.filter(F.col("ts") >= horizon))
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
