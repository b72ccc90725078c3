"""Idempotent sinks: content-hash landing, keyed upsert, and the
date-partitioned fact-table layout (written, pruned and guarded only by
``landing.py``, whose ``merge_events`` upserts it for the batch ingest and
the rollup stream alike)."""

from habits_etl_spark.sinks.upsert import upsert_keyed  # noqa: F401
from habits_etl_spark.sinks.landing import land_raw, merge_events  # noqa: F401
