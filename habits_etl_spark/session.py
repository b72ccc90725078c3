"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB design point and degrades gracefully on a laptop:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy) so plans self-correct at any scale factor.
- ``spark.sql.shuffle.partitions`` defaults to a small local value; on a
  real cluster AQE's coalescing makes the initial number mostly a ceiling.
- ``SESSION_CONF`` (UTC timezone, LTZ parquet timestamp reads) is what
  every query assumes; the driver builds its own session, so
  ``__spark_entry__`` applies the same dict to it.
- Arrow enabled for any pandas-UDF extension path.

This module is the only one in the package that writes session conf.
A temporary override goes through ``conf_scope``, which leaves the
session exactly as it found it.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

SESSION_CONF = {
    # timestamp semantics match the reference's UTC-normalized fact table
    # (reference sql/001_schema.sql:16) and the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # Parquet timestamps without the UTC flag (the testdata generator
    # omits isAdjustedToUTC) read as session-tz TIMESTAMP, not NTZ: under
    # the UTC session tz the stored micros are the same instants as
    # DuckDB's naive timestamps, instant functions (unix_micros) accept
    # them, and filters against to_timestamp literals stay on the scan
    # column, so parquet pushdown still applies.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


# The former fixed default, kept as the ceiling on large hosts.
_DRIVER_MEMORY_CAP = 24 << 30


def default_driver_memory(physical_bytes: int) -> str:
    """``spark.driver.memory`` when SPARK_DRIVER_MEMORY is unset: half of
    the host's physical memory, capped at 24g. A heap ceiling above what
    the host has gives the JVM no reason to collect before the host runs
    out, so a second Spark process on the same host gets killed."""
    return f"{min(physical_bytes // 2, _DRIVER_MEMORY_CAP) >> 20}m"


def get_spark(app_name: str = "habits_etl_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Session-wide AQE SMJ->SHJ rewriting
        # (spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold) was
        # MEASURED AND REJECTED in the r14 optimization round: it cut
        # ext_weighted_minhash_pairs 3.6->2.4 s but slowed
        # ext_admission_decision 2.6->3.3 s and ext_dedup_keep_policy
        # 0.92->1.15 s (chained same-key sort-merge joins lose the sort
        # reuse a blanket rewrite destroys). Individual joins that
        # measurably win carry an explicit shuffle_hash hint instead.
        .config(map=SESSION_CONF)
        # Allow Python Data Sources to receive pushed filters (the
        # wide_sheet source implements pushFilters; off by default)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set ``overrides`` for the body of the ``with`` block, then put each
    key back: its earlier explicit value, or unset when ``getAll`` did not
    hold it. Restoring an unset key by setting its old ``get`` value would
    leave the default pinned as an explicit setting.

    The overrides are session-wide while the block runs, and a lazy
    DataFrame built inside reads the conf again when it executes, so
    force whatever depends on them inside the block."""
    before = spark.conf.getAll
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in overrides:
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)


ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state_store_conf(spark: SparkSession) -> dict[str, str]:
    """Conf that routes Structured Streaming state through RocksDB instead
    of the default in-JVM-heap HDFSBackedStateStoreProvider; apply it
    with ``conf_scope`` or at session build.

    At 100 TB the stateful ops (dropDuplicatesWithinWatermark, windowed
    aggs, stream-stream joins) hold state proportional to the watermark
    horizon; the heap provider keeps every version in executor memory and
    GC-thrashes long before the horizon does — RocksDB spills to local
    disk with bounded memory, and changelog checkpointing uploads per-batch
    deltas instead of full snapshots (streaming/dedup.py's "RocksDB-backed
    in production configs" note, made real).

    Empty when the provider class is not on the classpath — callers/tests
    skip rather than fail. Takes effect for queries STARTED under it; a
    restarted query keeps the provider recorded in its checkpoint."""
    try:
        spark._jvm.java.lang.Class.forName(ROCKSDB_STATE_STORE_PROVIDER)  # type: ignore[union-attr]
    except Exception:
        return {}
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_STATE_STORE_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
