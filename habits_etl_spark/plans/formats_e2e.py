"""Source/sink format breadth: JSONL and ORC round-trips, driver-visible.

The reference ingests exactly one tabular format (the wide sheet,
etl/etl_habits.py:44) and serves from Postgres; a Spark-first engine is
expected to speak the lake formats interchangeably. These two queries
prove the non-parquet paths end-to-end — distributed write, schema'd
read-back, then an aggregate whose oracle runs on the ORIGINAL parquet:
the round-trip passes the hash gate only if the format conversion was
lossless (strings incl. unicode, bigints, micros-precision timestamps,
doubles).

Scale: both writers/readers are ordinary distributed jobs (one file per
partition, no driver funnel); only the |groups|-row final aggregate is
collected so the temp directory can be cleaned up deterministically
(plans/common.scratch_result, shared with plans/manifest_e2e.py).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from habits_etl_spark.plans.common import query, scratch_result, sql_dsum, t


@query(
    "src_jsonl_roundtrip",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def src_jsonl_roundtrip(spark, sf_dir):
    """documents -> JSON Lines on disk -> schema'd read-back -> per-lang
    aggregate. JSONL is the lingua franca of text-corpus interchange
    (every public pretraining dump ships as *.jsonl.gz); the read uses
    an EXPLICIT schema — never inference, which at 100 TB would add a
    full pre-scan and can mistype sparse columns."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )

    def build(tmp):
        path = os.path.join(tmp, "documents_jsonl")
        t(spark, sf_dir, "documents").write.mode("overwrite").json(path)
        back = spark.read.schema(schema).json(path)
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.countDistinct("source").cast("bigint").alias("n_sources"),
                F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
            )
            .orderBy("lang")
        )

    return scratch_result(spark, "jsonl_e2e_", build)


@query(
    "src_orc_roundtrip",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           {sql_dsum("value")} AS sum_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts_s,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts_s
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def src_orc_roundtrip(spark, sf_dir):
    """events -> ORC on disk -> read-back -> per-type aggregate with
    exact decimal value sums and micros-precision timestamp extrema.
    ORC is Spark's second built-in columnar format (Hive lineage); the
    timestamp extrema make the hash gate sensitive to any precision
    loss in the conversion."""

    def build(tmp):
        path = os.path.join(tmp, "events_orc")
        t(spark, sf_dir, "events").write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
                ).alias("sum_value"),
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("min_ts_s"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("max_ts_s"),
            )
            .orderBy("event_type")
        )

    return scratch_result(spark, "orc_e2e_", build)


@query(
    "src_csv_malformed_audit",
    """
    WITH lines AS (
      SELECT event_type, event_id, user_id,
             CASE WHEN event_id % 17 = 0 THEN 'too_few'
                  WHEN event_id % 13 = 0 THEN 'bad_field'
                  WHEN event_id % 19 = 0 THEN 'too_many'
                  ELSE 'valid' END AS cls,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN cls = 'valid' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(sum(CASE WHEN cls = 'too_few' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_few,
           CAST(sum(CASE WHEN cls = 'bad_field' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_field,
           CAST(sum(CASE WHEN cls = 'too_many' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_many,
           CAST(sum(CASE WHEN cls = 'valid' THEN cents END) AS BIGINT)
             AS sum_cents_valid,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CASE WHEN cls <> 'valid' THEN user_id END) AS BIGINT)
             AS sum_user_corrupt
    FROM lines GROUP BY event_type ORDER BY event_type
    """,
)
def src_csv_malformed_audit(spark, sf_dir):
    """PERMISSIVE-mode malformed-CSV ingestion audit, end-to-end: a CSV
    is fabricated from events with deterministic corruption (every 17th
    id drops a column, every 13th carries an unparseable number, every
    19th an extra column), written to disk, read back with an EXPLICIT
    schema + ``columnNameOfCorruptRecord``, and audited — corrupt rows
    are CLASSIFIED from the captured raw payload (comma count) and
    valid rows aggregated. The oracle predicts every count and the
    valid-row sum relationally from the original table, so the hash
    gate proves Spark's PERMISSIVE contract (any token-count or parse
    anomaly -> _corrupt populated, parsed prefix retained; empty
    fields -> plain NULLs) actually held on disk.

    Scale: the write and read are ordinary distributed text/csv jobs
    (one file per partition, no driver funnel); the audit is one
    map-side classification feeding a |types|-group aggregate. This is
    the quarantine-accounting step every 100 TB ingest runs before
    trusting a feed."""
    e = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    base3 = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        "event_type",
        F.col("user_id").cast("string"),
    )
    full = F.concat(base3, F.lit(","), F.coalesce(cents.cast("string"), F.lit("")))
    line = (
        F.when(F.col("event_id") % 17 == 0, base3)
        .when(F.col("event_id") % 13 == 0, F.concat(base3, F.lit(",N/A")))
        .when(F.col("event_id") % 19 == 0, F.concat(full, F.lit(",extra")))
        .otherwise(full)
    )
    n_commas = F.length("_corrupt") - F.length(
        F.regexp_replace("_corrupt", ",", "")
    )
    cls = (
        F.when(F.col("_corrupt").isNull(), "valid")
        .when(n_commas == 2, "too_few")
        .when(n_commas == 4, "too_many")
        .otherwise("bad_field")
    )

    def build(tmp):
        path = os.path.join(tmp, "events_csv")
        e.select(line.alias("value")).write.mode("overwrite").text(path)
        back = (
            spark.read.schema(
                "event_id long, event_type string, user_id long, cents long, "
                "_corrupt string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path)
        )
        return (
            back.select(
                "event_type", "event_id", "user_id", "cents", cls.alias("cls")
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum((F.col("cls") == "valid").cast("int")).cast("bigint").alias("n_valid"),
                F.sum((F.col("cls") == "too_few").cast("int")).cast("bigint").alias("n_too_few"),
                F.sum((F.col("cls") == "bad_field").cast("int")).cast("bigint").alias("n_bad_field"),
                F.sum((F.col("cls") == "too_many").cast("int")).cast("bigint").alias("n_too_many"),
                F.sum(F.when(F.col("cls") == "valid", F.col("cents")))
                .cast("bigint")
                .alias("sum_cents_valid"),
                # checksum aggregates over event_id/user_id double as the
                # full-parse forcer: with CSV column pruning, token-count
                # anomalies are only detected when every data column is
                # required by the plan
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
                F.sum(F.when(F.col("cls") != "valid", F.col("user_id")))
                .cast("bigint")
                .alias("sum_user_corrupt"),
            )
            .orderBy("event_type")
        )

    return scratch_result(spark, "csv_audit_", build)


@query(
    "src_schema_evolution_scan",
    f"""
    WITH unioned AS (
      SELECT event_id, ts, user_id, value,
             CASE WHEN user_id % 2 = 1 THEN event_type END AS event_type
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(event_type) AS BIGINT) AS n_typed,
           {sql_dsum("value")} AS sum_value
    FROM unioned GROUP BY 1 ORDER BY 1 NULLS FIRST
    """,
)
def src_schema_evolution_scan(spark, sf_dir):
    """Schema-evolution read: two parquet batches written at different
    schema versions into ONE table directory — v1 (even user_ids)
    without ``event_type``, v2 (odd user_ids) with it, the additive
    column change every long-lived lake table accumulates — read back
    in a single ``mergeSchema`` scan whose unified schema backfills the
    missing column as NULL, then aggregated per (possibly NULL) type.
    The hash gate passes only if the merged scan neither drops v1 rows
    nor invents values for the backfilled column.

    Scale: mergeSchema's cost is footer-sampling at PLANNING time, not
    a data pre-scan — and a production table pins the unified schema in
    its catalog/manifest so per-query merging is off the hot path
    entirely (the manifest sink stores exactly that); the scan itself
    stays an ordinary parallel parquet read with pushdown intact
    (tests/test_pruning.py pins the mergeSchema + pruning interaction).
    Oracle restates the evolution relationally: v1 rows contribute NULL
    event_type by construction. Reference parity: [E] extension
    (source family); no reference twin."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", "event_type"
    )

    def build(tmp):
        path = os.path.join(tmp, "events_evolved")
        ev.filter(F.col("user_id") % 2 == 0).drop("event_type").write.mode(
            "overwrite"
        ).parquet(path)
        ev.filter(F.col("user_id") % 2 == 1).write.mode("append").parquet(path)
        back = spark.read.option("mergeSchema", "true").parquet(path)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count("event_type").cast("bigint").alias("n_typed"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
                ).alias("sum_value"),
            )
            .orderBy(F.col("event_type").asc_nulls_first())
        )

    return scratch_result(spark, "schema_evo_", build)
