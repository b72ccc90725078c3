"""End-to-end ingest pipeline — the engine's ``main()`` (reference
etl/etl_habits.py:41-50):

    read wide source -> land raw (content-hash append-once)
                     -> normalize (unpivot + parse + coerce)
                     -> dedup batch (deterministic winner), persisted once
                     -> keyed upsert into the date-partitioned fact table

vs. the reference's per-row Python loop with one SQL round-trip per
statement (etl/etl_habits.py:47-50). ``run_ingest`` is eager: the deduped
drop is evaluated once, and the affected-dates collect and the merge read
that cached copy. The merge is **partition-scoped** (layout owned by
sinks/landing.py): only the dates the drop names are read, merged and
dynamically overwritten, so it costs O(drop date spread), not O(table).
The ``habits_raw`` anti-join in ``land_raw`` still reads every landed
hash — O(history) until that table is bucketed by date too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.config import PipelineConfig
from habits_etl_spark.operators.unpivot import normalize_wide_rows
from habits_etl_spark.sinks.landing import (
    assert_partitioned_fact_layout,
    event_dates,
    land_raw,
    pruned_fact_scan,
    with_event_date,
    write_events,
)
from habits_etl_spark.sinks.manifest import read_snapshot, upsert_snapshot
from habits_etl_spark.sinks.upsert import dedup_batch, upsert_keyed
from habits_etl_spark.sources import read_wide_csv

EVENT_KEYS = ["user_email", "habit", "ts"]  # reference sql/001_schema.sql:22


def _events_path(warehouse: str) -> str:
    return os.path.join(warehouse, "habit_events")


def read_events_table(
    spark: SparkSession, warehouse: str, table_format: str = "parquet"
) -> DataFrame:
    if table_format == "manifest":
        return read_snapshot(spark, _events_path(warehouse))
    return spark.read.parquet(_events_path(warehouse))


def run_ingest(
    spark: SparkSession,
    wide: DataFrame | str,
    cfg: PipelineConfig,
    warehouse: str,
    table_format: str = "parquet",
) -> None:
    """One ingest run (the reference's 15-minute CronJob body).

    ``table_format``: ``"parquet"`` (default) keeps the date-partitioned
    layout with dynamic partition overwrite — correct under the
    reference's single-writer CronJob topology; a ``habit_events`` still in
    the flat pre-r8 layout is refused before anything lands. ``"manifest"``
    routes the merge through ``sinks/manifest.upsert_snapshot``: one atomic
    pointer swap per ingest, so readers CONCURRENT with the CronJob get
    snapshot isolation (and time travel / manifest-entry pruning), at the
    cost of merging against the whole snapshot rather than only the
    affected date partitions — pick it when concurrent readers matter more
    than merge locality (partition-scoped manifest merges = Iceberg
    partition overwrite, out of scope here)."""
    events_path = _events_path(warehouse)
    if table_format != "manifest":
        assert_partitioned_fact_layout(spark, events_path)
    if isinstance(wide, str):
        wide = read_wide_csv(spark, wide)

    landing_path = os.path.join(warehouse, "habits_raw")
    existing_hashes = spark.read.parquet(landing_path) if os.path.exists(landing_path) else None
    land_raw(wide, landing_path, existing_hashes)

    events = normalize_wide_rows(wide, cfg)
    # Deterministic intra-batch winner (SURVEY §7.3.4): the reference applies
    # sheet rows in order, so last-in-file wins; __ingest_seq reproduces that.
    incoming = dedup_batch(
        events.withColumn("__ingest_seq", F.monotonically_increasing_id()),
        EVENT_KEYS,
        "__ingest_seq",
    ).drop("__ingest_seq")
    # bounded (one sheet drop), so one cached copy serves every read below
    incoming.persist()
    merge = dict(keys=EVENT_KEYS, set_cols=["value"], coalesce_cols=["notes"])
    try:
        if table_format == "manifest":
            upsert_snapshot(
                spark, with_event_date(incoming), events_path, **merge,
                keep_old_cols=["source", "event_date"],
            )
        elif os.path.exists(events_path):
            existing = pruned_fact_scan(spark, events_path, event_dates(incoming))
            merged = upsert_keyed(existing, incoming, **merge, keep_old_cols=["source"])
            write_events(merged, events_path)
        else:
            write_events(incoming, events_path)
    finally:
        incoming.unpersist()
