"""Streaming data-quality circuit breaker: per-micro-batch rule
evaluation gating snapshot publishes.

The production pattern this implements: a streaming ingest should never
publish a poisoned batch to the serving table — each micro-batch is run
through the constraint battery (plans/dq.py) INSIDE ``foreachBatch``,
its verdicts are appended to an audit log unconditionally, and the data
is committed to the manifest table (sinks/manifest.py) only when every
rule passes. A red batch is parked in a quarantine directory for triage
instead of being dropped — nothing is silently lost, nothing bad is
served.

Exactly-once: foreachBatch is at-least-once on retry, so the gate is
idempotent by batch id — a batch whose id already appears in the audit
log with ``published = true`` is skipped on replay (the manifest commit
is itself atomic, so the log row is written only AFTER the publish
succeeds; a crash between publish and log can at worst re-publish one
batch, the standard foreachBatch contract, documented here rather than
hidden).

Scale: the rule battery is one conditional-aggregate pass over the
micro-batch (map-side partials); only the ≤|rules| verdict rows are
collected to the driver. The audit log is tiny (rules × batches rows);
quarantine and publish both write through the normal distributed
writers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.plans.dq import dq_events_verdicts
from habits_etl_spark.sinks.manifest import append_snapshot

_LOG_DIR = "_dq_log"
QUARANTINE_DIR = "_dq_quarantine"

LOG_SCHEMA = (
    "batch_id LONG, rule_id STRING, metric LONG, threshold LONG, "
    "rule_passed BOOLEAN, published BOOLEAN"
)


def _published_batches(spark: SparkSession, log_path: str) -> set[int]:
    if not os.path.isdir(log_path):
        return set()
    try:
        rows = (
            spark.read.schema(LOG_SCHEMA)
            .parquet(log_path)
            .filter(F.col("published"))
            .select("batch_id")
            .distinct()
            .collect()
        )
    except Exception:  # noqa: BLE001 - empty dir with no parquet yet
        return set()
    return {r.batch_id for r in rows}


def dq_gated_publish(
    spark: SparkSession,
    events_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    rules_fn=dq_events_verdicts,
):
    """Start an availableNow-triggered gated publish of ``events_stream``
    into the manifest table at ``table_path``.

    Per micro-batch: evaluate ``rules_fn(batch_df)`` →
    (rule_id, metric, threshold, passed); green → ``append_snapshot``,
    red → write the batch to ``<table>/_dq_quarantine/batch=<id>``;
    either way append one log row per rule to ``<table>/_dq_log``.
    Returns the StreamingQuery (caller awaits termination)."""
    log_path = os.path.join(table_path, _LOG_DIR)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id in _published_batches(spark, log_path):
            return  # replayed batch already committed — idempotent skip
        verdicts = rules_fn(batch_df).collect()  # ≤ |rules| rows
        ok = all(r.passed for r in verdicts)
        if ok:
            append_snapshot(spark, batch_df, table_path)
        else:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(table_path, QUARANTINE_DIR, f"batch={batch_id}")
            )
        spark.createDataFrame(
            [
                (batch_id, r.rule_id, r.metric, r.threshold, r.passed, ok)
                for r in verdicts
            ],
            LOG_SCHEMA,
        ).write.mode("append").parquet(log_path)

    return (
        events_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dq_log(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the audit log (one row per rule per gated batch)."""
    return spark.read.schema(LOG_SCHEMA).parquet(
        os.path.join(table_path, _LOG_DIR)
    )
