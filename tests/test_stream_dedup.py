"""Streaming dedup semantics: exactly-once admission across micro-batches
and across restarts sharing a checkpoint (reference parity: Postgres
ON CONFLICT (row_hash) DO NOTHING, etl/etl_habits.py:38)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from habits_etl_spark.streaming.dedup import start_dedup_stream

SCHEMA = T.StructType(
    [
        T.StructField("row_hash", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "source": str(tmp_path / "incoming"),
        "out": str(tmp_path / "deduped"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["source"])
    return d


def write_batch(dirs, name, rows):
    with open(os.path.join(dirs["source"], name), "w") as f:
        for h, ts, v in rows:
            f.write(json.dumps({"row_hash": h, "ts": ts, "value": v}) + "\n")


def run_once(spark, dirs):
    q = start_dedup_stream(
        spark,
        source_dir=dirs["source"],
        source_schema=SCHEMA,
        out_path=dirs["out"],
        checkpoint_path=dirs["ckpt"],
        keys=["row_hash"],
        watermark="2 days",
    )
    q.awaitTermination(120)


def read_out(spark, dirs):
    return sorted(
        (r.row_hash, r.value) for r in spark.read.parquet(dirs["out"]).collect()
    )


def test_exactly_once_within_and_across_runs(spark, dirs):
    # Batch 1: key A duplicated inside one batch, B unique.
    write_batch(
        dirs,
        "b1.json",
        [
            ("A", "2024-01-10T08:00:00", 1.0),
            ("A", "2024-01-10T09:00:00", 1.0),
            ("B", "2024-01-10T10:00:00", 2.0),
        ],
    )
    run_once(spark, dirs)
    out1 = read_out(spark, dirs)
    assert [h for h, _ in out1] == ["A", "B"]

    # Batch 2 (new run, same checkpoint): A replayed inside the watermark
    # horizon -> dropped; C is new -> admitted.
    write_batch(
        dirs,
        "b2.json",
        [
            ("A", "2024-01-11T07:00:00", 1.0),
            ("C", "2024-01-11T08:00:00", 3.0),
        ],
    )
    run_once(spark, dirs)
    out2 = read_out(spark, dirs)
    assert [h for h, _ in out2] == ["A", "B", "C"]


def test_dedup_under_rocksdb_state_store(spark, dirs):
    """Same exactly-once contract with the RocksDB state store provider
    (the bounded-memory provider a 100 TB watermark horizon requires)."""
    from habits_etl_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        conf_scope,
        rocksdb_state_store_conf,
    )

    rocks = rocksdb_state_store_conf(spark)
    if not rocks:
        pytest.skip("RocksDB state store provider not on the classpath")
    with conf_scope(spark, rocks):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_STATE_STORE_PROVIDER
        )
        write_batch(
            dirs,
            "b1.json",
            [
                ("A", "2024-01-10T08:00:00", 1.0),
                ("A", "2024-01-10T09:00:00", 1.0),
                ("B", "2024-01-10T10:00:00", 2.0),
            ],
        )
        run_once(spark, dirs)
        write_batch(
            dirs,
            "b2.json",
            [
                ("A", "2024-01-11T07:00:00", 1.0),
                ("C", "2024-01-11T08:00:00", 3.0),
            ],
        )
        run_once(spark, dirs)
        assert [h for h, _ in read_out(spark, dirs)] == ["A", "B", "C"]


def test_stream_dedup_e2e_query_converges_to_distinct_set(spark):
    """The registered oracle-gated e2e query: three replica-interleaved
    drops over one shared checkpoint must admit exactly the distinct
    event set (exactly-once over an at-least-once feed)."""
    from habits_etl_spark.plans.common import t as load
    from habits_etl_spark.plans.streaming_e2e import stream_dedup_e2e

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    got = stream_dedup_e2e(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()
