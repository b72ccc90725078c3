"""Streaming z-score anomaly detector: batch-equivalence against a pure
Python Welford reference, score-before-update semantics, and state carried
across micro-batches."""

from __future__ import annotations

import datetime
import math
import os

import pytest
from pyspark.sql import types as T

from habits_etl_spark.streaming.anomaly import (
    _DEFAULT_MIN_N,
    _DEFAULT_THRESHOLD,
    quantize_z,
    zscore_anomaly_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "source": str(tmp_path / "in"),
        "ckpt": str(tmp_path / "ckpt"),
        "out": str(tmp_path / "out"),
    }
    os.makedirs(d["source"])
    return d


def _ts(i: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i)


def _drain(spark, dirs):
    def fb(df, epoch_id):
        df.write.mode("append").parquet(dirs["out"])

    q = (
        zscore_anomaly_stream(spark.readStream.schema(SCHEMA).parquet(dirs["source"]))
        .writeStream.foreachBatch(fb)
        .outputMode("append")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _py_reference(rows, threshold=_DEFAULT_THRESHOLD, min_n=_DEFAULT_MIN_N):
    """Welford over ts-ordered rows per user; returns {event_id: z}."""
    out = {}
    state: dict[int, tuple] = {}
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[2], r[1])):
        by_user.setdefault(r[0], []).append(r)
    for uid, evs in by_user.items():
        n, mean, m2 = 0, 0.0, 0.0
        for _, ev, _, x in evs:
            if n >= min_n:
                var = m2 / (n - 1)
                if var > 0:
                    z = (x - mean) / math.sqrt(var)
                    if abs(z) > threshold:
                        out[ev] = z
            n += 1
            d = x - mean
            mean += d / n
            m2 += d * (x - mean)
    return out


def _mk_rows():
    rows = []
    ev = 0
    # user 1: stable around 10, one big spike, then stable again
    for i, v in enumerate([10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 99.0, 10.0, 9.9]):
        rows.append((1, ev, _ts(i), v))
        ev += 1
    # user 2: too little history for any score
    for i, v in enumerate([5.0, 500.0]):
        rows.append((2, ev, _ts(i), v))
        ev += 1
    # user 3: high-variance noise, nothing should flag at 3 sigma
    for i, v in enumerate([0.0, 100.0, -100.0, 50.0, -50.0, 80.0, -20.0, 30.0]):
        rows.append((3, ev, _ts(i), v))
        ev += 1
    return rows


def test_matches_python_welford_reference(spark, dirs):
    rows = _mk_rows()
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    _drain(spark, dirs)
    got = {r.event_id: r for r in spark.read.parquet(dirs["out"]).collect()}
    want = _py_reference(rows)
    assert set(got) == set(want)
    for ev, z in want.items():
        assert abs(got[ev].z - z) < 1e-9
        assert got[ev].n_history >= _DEFAULT_MIN_N
    # the engineered spike is among the flags; the no-history user is not
    assert any(r.user_id == 1 and r.value == 99.0 for r in got.values())
    assert not any(r.user_id == 2 for r in got.values())


def test_state_carries_across_micro_batches(spark, dirs):
    # batch 1: calm history only -> no anomalies emitted
    calm = [(7, i, _ts(i), 20.0 + 0.1 * (i % 3)) for i in range(8)]
    spark.createDataFrame(calm, SCHEMA).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    _drain(spark, dirs)
    assert not os.path.exists(dirs["out"]) or not [
        r for r in spark.read.parquet(dirs["out"]).collect()
    ]

    # batch 2: one wild value -> flagged against batch-1 history (n >= 8)
    spark.createDataFrame([(7, 100, _ts(100), 500.0)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["source"])
    _drain(spark, dirs)
    flagged = spark.read.parquet(dirs["out"]).collect()
    assert len(flagged) == 1
    assert flagged[0].event_id == 100 and flagged[0].n_history == 8
    assert flagged[0].z > _DEFAULT_THRESHOLD


def test_score_before_update_flags_level_shift_immediately(spark, dirs):
    # 6 calm values then a level shift: the FIRST shifted row must flag
    # (if state updated before scoring, the shift would inflate the std
    # and could absorb itself)
    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 9.0, 9.1, 9.0]
    rows = [(9, i, _ts(i), v) for i, v in enumerate(vals)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    _drain(spark, dirs)
    got = sorted(
        (r.event_id for r in spark.read.parquet(dirs["out"]).collect())
    )
    assert 6 in got  # the first post-shift row is flagged


def test_stream_agrees_with_batch_twin(spark, sf_dir, dirs):
    """The stateful Welford op and the exact-decimal batch window query
    (plans/windows.py win_zscore_anomaly) flag the same events with the
    same z-scores when the whole table arrives as one ordered batch."""
    from habits_etl_spark.plans.windows import win_zscore_anomaly

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts", "value"
    )
    src.coalesce(1).write.mode("append").parquet(dirs["source"])
    _drain(spark, dirs)
    stream = {r.event_id: r.z for r in spark.read.parquet(dirs["out"]).collect()}
    batch = {r.event_id: r.z for r in win_zscore_anomaly(spark, sf_dir).collect()}
    assert set(stream) == set(batch)
    for ev, z in batch.items():
        assert abs(stream[ev] - z) < 1e-6


def test_stream_anomaly_e2e_matches_sequential_fold(spark):
    """The registered oracle-gated e2e query: time-contiguous drops over
    one shared checkpoint must emit exactly the anomalies of the one-shot
    Welford fold over each user's (ts, event_id)-ordered history."""
    import math
    import os
    from collections import defaultdict

    from habits_etl_spark.plans.common import t as load
    from habits_etl_spark.plans.streaming_e2e import (
        _ANOM_MIN_N,
        _ANOM_THRESHOLD,
        stream_anomaly_e2e,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    got = {
        (r.user_id, r.event_id): (r.z, r.n_history)
        for r in stream_anomaly_e2e(spark, sf_dir).collect()
    }
    rows = (
        load(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    rows.sort(key=lambda r: (r.user_id, r.ts, r.event_id))
    st = defaultdict(lambda: (0, 0.0, 0.0))
    want = {}
    for r in rows:
        n, mean, m2 = st[r.user_id]
        if n >= _ANOM_MIN_N:
            var = m2 / (n - 1)
            if var > 0:
                z = quantize_z((r.value - mean) / math.sqrt(var))
                if abs(z) > _ANOM_THRESHOLD:
                    want[(r.user_id, r.event_id)] = (z, n)
        n += 1
        d = r.value - mean
        mean += d / n
        m2 += d * (r.value - mean)
        st[r.user_id] = (n, mean, m2)
    assert got == want


def test_stream_anomaly_e2e_under_rocksdb_state_store(spark):
    """The oracle-gated e2e pipeline under the RocksDB provider — the
    bounded-memory store a 100 TB deployment runs — must emit the same
    anomaly set as the default provider."""
    import os

    import pytest

    from habits_etl_spark.plans.streaming_e2e import stream_anomaly_e2e
    from habits_etl_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        conf_scope,
        rocksdb_state_store_conf,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    base = {
        (r.user_id, r.event_id): (r.z, r.n_history)
        for r in stream_anomaly_e2e(spark, sf_dir).collect()
    }
    rocks_conf = rocksdb_state_store_conf(spark)
    if not rocks_conf:
        pytest.skip("RocksDB state store provider not on the classpath")
    with conf_scope(spark, rocks_conf):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_STATE_STORE_PROVIDER
        )
        rocks = {
            (r.user_id, r.event_id): (r.z, r.n_history)
            for r in stream_anomaly_e2e(spark, sf_dir).collect()
        }
    assert rocks == base
