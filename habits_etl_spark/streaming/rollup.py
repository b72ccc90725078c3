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
  is upserted into the fact table, then the affected day buckets are
  re-aggregated from it and overwritten in the rollup — Timescale's
  refresh algorithm (recompute the invalidated window range). Both steps
  are idempotent, so a batch that the at-least-once foreachBatch replays
  after a crash changes nothing.
- ``start_offset '60 days'``          -> ``backfill_horizon_days`` caps how
  far back a refresh will rewrite.

Scale: each micro-batch is upserted with ``sinks.landing.merge_events``,
the merge ``pipeline.run_ingest`` runs, so the stream's fact table has
the batch ingest's layout and semantics (a re-sent row updates its fact).
Each refresh reads it through ``pruned_fact_scan`` with the batch's own
schema (no footer job, only the batch's date directories listed,
PartitionFilters in the scan, asserted in tests/test_streaming.py) and
rewrites only the affected day buckets of the rollup. Both sides of the
refresh are O(late-data spread), not O(history) — the property the
reference buys from Timescale's invalidation log.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from habits_etl_spark.catalog import EVENTS_SCHEMA
from habits_etl_spark.plans.common import davg, dsum
from habits_etl_spark.sinks.landing import (
    assert_partitioned_fact_layout,
    merge_events,
    pruned_fact_scan,
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
    columns: T.StructType = EVENTS_SCHEMA,
) -> None:
    """Recompute the given day buckets from the fact table (``columns`` is
    its row schema, as in ``pruned_fact_scan``) and overwrite exactly those
    partitions of the rollup (Timescale refresh step). Dynamic partition
    overwrite is a per-write option, not a session conf, so callers' later
    partitioned overwrites keep their own semantics."""
    if not days:
        return
    events = pruned_fact_scan(spark, events_path, days, columns).drop("event_date")
    (
        batch_daily_rollup(events, meditation_habit)
        .write.mode("overwrite")
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
    files, upsert them into the fact table, refresh affected rollup buckets
    no older than ``backfill_horizon_days`` (in the session time zone).

    Precondition: a key (user_email, habit, ts) that repeats within one
    file resolves as in ``run_ingest``, the last row winning; when one
    micro-batch holds several files that repeat a key, which row wins is
    unspecified.

    Returns the StreamingQuery; callers stop it or use
    ``trigger={"availableNow": True}`` for a cron-style one-shot run.

    Raises ValueError if ``events_path`` holds a legacy unpartitioned
    fact table (see sinks.landing.assert_partitioned_fact_layout)."""
    assert_partitioned_fact_layout(spark, events_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        days = merge_events(spark, batch_df, events_path)
        zone = spark._jvm.java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
        today = dt.date.fromisoformat(spark._jvm.java.time.LocalDate.now(zone).toString())
        fresh = [d for d in days if d >= today - dt.timedelta(backfill_horizon_days)]
        refresh_rollup_days(
            spark, events_path, rollup_path, fresh, meditation_habit, batch_df.schema
        )

    return (
        spark.readStream.schema(source_schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
