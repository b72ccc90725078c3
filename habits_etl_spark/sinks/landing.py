"""Storage-layer sinks, and the one owner of the warehouse layouts.

- ``habits_raw``, the landing table: ``land_raw`` appends content-hash
  keyed rows once (reference habits_raw, sql/001_schema.sql:7-11 + ON
  CONFLICT DO NOTHING at etl/etl_habits.py:27-30), and ``landed_hashes``
  reads back the hashes it holds. The full source row is preserved as
  JSON for forensics/replay.
- ``habit_events``, the fact table (reference hypertable,
  sql/001_schema.sql:14-28): Parquet **partitioned by event_date** (``ts``
  cast to a date, i.e. ``date_trunc('DAY', ts)`` in the UTC session) — the
  hypertable-chunking analog that lets time-range predicates prune — and
  sorted within partitions by (user_email, habit, ts) to approximate the
  reference's composite B-tree index via Parquet row-group min/max stats.
  ``pipeline.run_ingest`` and the rollup stream both write it with
  ``write_events``, read it with ``pruned_fact_scan`` and guard it with
  ``assert_partitioned_fact_layout``; no other module derives, writes
  or filters on ``event_date``.

Both tables are read with their declared schemas (``catalog``), so a
read runs no footer job to infer one, and a fact read lists only the
date directories it needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from habits_etl_spark.catalog import EVENTS_SCHEMA, LANDING_SCHEMA
from habits_etl_spark.functions.hashing import row_hash_expr


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` on its own scheme's file system,
    so the layout checks work wherever the reads and writes do."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def land_raw(wide: DataFrame, path: str, existing_hashes: DataFrame | None = None) -> None:
    """Append-once landing: hash every raw row, drop rows whose hash is
    already present, append the rest as (row_hash, ingested_at, payload).

    ``existing_hashes`` is ``landed_hashes`` of the same table.

    Scale: the anti-join against existing hashes is a shuffle on sha256 —
    uniformly distributed; with a date-bucketed landing layout the anti
    join can be restricted to the affected buckets.
    """
    hashed = wide.select(
        row_hash_expr(wide).alias("row_hash"),
        F.current_timestamp().alias("ingested_at"),
        F.to_json(F.struct(*sorted(wide.columns))).alias("payload"),
    )
    fresh = hashed.dropDuplicates(["row_hash"])
    if existing_hashes is not None:
        fresh = fresh.join(existing_hashes.select("row_hash"), "row_hash", "left_anti")
    fresh.write.mode("append").parquet(path)


def landed_hashes(spark: SparkSession, path: str) -> DataFrame | None:
    """The ``row_hash`` column of the landing table at ``path``, or None
    before its first landing. Read with ``catalog.LANDING_SCHEMA``."""
    fs, hpath = _hadoop_path(spark, path)
    if not fs.exists(hpath):
        return None
    return spark.read.schema(LANDING_SCHEMA).parquet(path).select("row_hash")


def with_event_date(events: DataFrame) -> DataFrame:
    """``events`` with its ``event_date`` partition value (replaced if present)."""
    return events.withColumn("event_date", F.col("ts").cast("date"))


def event_dates(events: DataFrame) -> list:
    """The distinct event dates of a BOUNDED batch, as a Python list.
    ``coalesce(1)`` lets the distinct run in one task with no shuffle job."""
    dates = with_event_date(events).select("event_date").coalesce(1).distinct()
    return [r.event_date for r in dates.collect()]


def write_events(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ``events`` date-partitioned + stat-sorted.

    ``"overwrite"`` is a per-write dynamic partition overwrite: only the
    dates present in ``events`` are replaced, the others are kept (the
    option rides on this write, not on the session conf). ``"append"``
    adds files to the dates present.

    An overwrite stages its files under ``.spark-staging-*`` and moves them
    into place at job commit, so a task or job that fails before the commit
    leaves the table unchanged. The commit itself deletes and renames the
    written partitions one at a time, so a crash DURING the commit is not
    atomic across partitions: some dates can be new, some old, and one
    missing. ``pipeline.run_ingest(table_format="manifest")`` is the
    atomic route.
    """
    (
        with_event_date(events)
        .repartition("event_date")
        .sortWithinPartitions("user_email", "habit", "ts")
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )


def pruned_fact_scan(
    spark: SparkSession, events_path: str, days: list, columns: T.StructType = EVENTS_SCHEMA
) -> DataFrame:
    """Read the day-partitioned fact table restricted to ``days``.

    ``columns`` is the schema of the rows ``write_events`` was given
    (its ``event_date``, if any, is replaced by the partition column):
    ``catalog.EVENTS_SCHEMA`` for ``habit_events``, the source schema for
    the rollup stream's fact table. A declared schema means the read runs
    no footer job to infer one.

    Only the ``event_date=<d>`` directories that exist for ``days`` are
    handed to the reader (``basePath`` at the table root keeps the
    partition column), so the read lists O(date spread) directories
    however many dates the table holds; a listing of the whole table
    would launch a listing job once it passes
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    dates. The filter stays on the PARTITION column, not a derived
    ``date_trunc(ts)`` expression, so Catalyst still shows it as
    ``PartitionFilters`` on the scan. No existing date: an empty frame."""
    schema = T.StructType(
        [f for f in columns.fields if f.name != "event_date"]
        + [T.StructField("event_date", T.DateType())]
    )
    fs, root = _hadoop_path(spark, events_path)
    child = spark._jvm.org.apache.hadoop.fs.Path
    wanted = (child(root, f"event_date={d}") for d in sorted({str(d) for d in days if d is not None}))
    dirs = [p.toString() for p in wanted if fs.exists(p)]
    if not dirs:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", events_path)
        .parquet(*dirs)
        .filter(F.col("event_date").isin(days))
    )


def assert_partitioned_fact_layout(spark: SparkSession, events_path: str) -> None:
    """Refuse a legacy UNPARTITIONED fact table before writing to it.

    The layout moved in r8 from root-level parquet files to
    ``event_date=YYYY-MM-DD/`` directories. Writing on top of the old one
    would mix the two: partition discovery then fails or surfaces rows
    with a NULL ``event_date`` that the pruned read never sees. Any
    root-level non-hidden FILE is such a data file."""
    fs, hpath = _hadoop_path(spark, events_path)
    if not fs.exists(hpath):
        return
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            raise ValueError(
                f"events_path {events_path!r} holds root-level data file "
                f"{name!r}: a legacy UNPARTITIONED fact table. Migrate it "
                "first (read it and rewrite it with sinks.landing.write_events "
                "to a fresh path) — writing the day-partitioned layout on top "
                "would mix layouts and break partition discovery and pruning."
            )
