"""Table registry / readers.

The engine reads Parquet natively (columnar scan + predicate pushdown +
column pruning via Catalyst). ``load_table`` is the single entry point the
query layer uses, so swapping a source (CSV landing zone, JDBC, a stream)
means changing one function — the analog of the reference's pluggable
``get_ws`` sheet scan (reference etl/etl_habits.py:11-17).

Readers change no session conf. They rely on the session built by
``session.get_spark`` (or given ``session.SESSION_CONF``), under which
``events.ts`` reads as a UTC-instant TIMESTAMP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table of the scale-factor directory as a DataFrame."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    ts_start: str | None = None,
    ts_end: str | None = None,
) -> DataFrame:
    """Events scan with a half-open [ts_start, ts_end) predicate on the
    stored ``ts`` column.

    The filter compares the scan column with timestamp literals, so it
    stays a ``PushedFilters: [GreaterThanOrEqual(ts, ...)]`` entry and
    Parquet prunes row groups by min/max stats. At 100 TB this is the
    difference between a range read and a full scan (and mirrors the
    hypertable chunk exclusion the reference gets from Timescale,
    sql/001_schema.sql:26)."""
    df = load_table(spark, sf_dir, "events")
    if ts_start is not None:
        df = df.filter(F.col("ts") >= F.to_timestamp(F.lit(ts_start)))
    if ts_end is not None:
        df = df.filter(F.col("ts") < F.to_timestamp(F.lit(ts_end)))
    return df


def read_wide_csv(spark: SparkSession, path: str) -> DataFrame:
    """Wide-form source reader (the sheet-tab analog): header row names the
    columns, everything lands as strings — coercion is the config-driven
    normalize layer's job, as in the reference."""
    return spark.read.option("header", True).csv(path)
