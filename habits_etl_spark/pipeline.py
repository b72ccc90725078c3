"""End-to-end ingest pipeline — the engine's ``main()`` (reference
etl/etl_habits.py:41-50):

    read wide source -> land raw (content-hash append-once)
                     -> normalize (unpivot + parse + coerce)
                     -> dedup batch (deterministic winner)
                     -> keyed upsert into the date-partitioned fact table

vs. the reference's per-row Python loop with one SQL round-trip per
statement (etl/etl_habits.py:47-50). ``run_ingest`` is eager. The upsert
is ``sinks.landing.merge_events``, the one the rollup stream runs too: it
touches only the dates the drop names, O(drop date spread), not O(table).
The ``habits_raw`` anti-join in ``land_raw`` still reads every landed
hash — O(history) until that table is bucketed by date too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from habits_etl_spark.config import PipelineConfig
from habits_etl_spark.operators.unpivot import normalize_wide_rows
from habits_etl_spark.sinks.landing import (
    assert_partitioned_fact_layout,
    dedup_events,
    event_merge_spec,
    land_raw,
    landed_hashes,
    merge_events,
    with_event_date,
)
from habits_etl_spark.sinks.manifest import read_snapshot, upsert_snapshot
# unused here: perfbench/spans.py wraps them (see ROADMAP direction 1)
from habits_etl_spark.sinks.upsert import dedup_batch, upsert_keyed  # noqa: F401
from habits_etl_spark.sources import read_wide_csv


def read_events_table(
    spark: SparkSession, warehouse: str, table_format: str = "parquet"
) -> DataFrame:
    path = os.path.join(warehouse, "habit_events")
    if table_format == "manifest":
        return read_snapshot(spark, path)
    return spark.read.parquet(path)


def run_ingest(
    spark: SparkSession,
    wide: DataFrame | str,
    cfg: PipelineConfig,
    warehouse: str,
    table_format: str = "parquet",
) -> None:
    """One ingest run (the reference's 15-minute CronJob body).

    ``table_format="parquet"`` (default) merges into the date-partitioned
    layout with dynamic partition overwrite, correct under the reference's
    single-writer CronJob topology; a flat pre-r8 ``habit_events`` is
    refused before anything lands. ``"manifest"`` merges through
    ``sinks/manifest.upsert_snapshot``: one atomic pointer swap per ingest
    gives readers CONCURRENT with the CronJob snapshot isolation (and time
    travel / manifest-entry pruning), at the cost of merging against the
    whole snapshot rather than the affected date partitions
    (partition-scoped manifest merges = Iceberg partition overwrite, out
    of scope here)."""
    events_path = os.path.join(warehouse, "habit_events")
    if table_format != "manifest":
        assert_partitioned_fact_layout(spark, events_path)
    if isinstance(wide, str):
        wide = read_wide_csv(spark, wide)

    landing_path = os.path.join(warehouse, "habits_raw")
    land_raw(wide, landing_path, landed_hashes(spark, landing_path))

    events = normalize_wide_rows(wide, cfg)
    if table_format == "manifest":
        incoming = with_event_date(dedup_events(events))
        upsert_snapshot(spark, incoming, events_path, **event_merge_spec(incoming.columns))
    else:
        merge_events(spark, events, events_path)
