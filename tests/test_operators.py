"""Unit tests for asof join edges, batch dedup, and content hashing."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import canonical_hash_expr, row_hash_expr
from habits_etl_spark.operators.asof import asof_join
from habits_etl_spark.sinks.upsert import dedup_batch


def ts(h, m=0):
    return dt.datetime(2024, 1, 5, h, m)


def test_asof_basic_and_ties(spark):
    left = spark.createDataFrame(
        [(1, "u1", ts(10)), (2, "u1", ts(12)), (3, "u2", ts(9))],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", ts(9), 100.0, 1),
            ("u1", ts(12), 200.0, 2),  # exactly at left ts(12): visible (>=)
            ("u1", ts(12), 300.0, 3),  # same instant, higher tie wins
            ("u2", ts(10), 400.0, 4),  # after u2's only left row: not visible
        ],
        "k string, ts timestamp, v double, tie long",
    )
    out = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="ts",
        payload_cols=["v"], tie_col="tie",
    )
    got = {r.event_id: (r.asof_ts, r.asof_v) for r in out.collect()}
    assert got[1] == (ts(9), 100.0)
    assert got[2] == (ts(12), 300.0)  # >= visibility, deterministic tie
    assert got[3] == (None, None)  # no right row at-or-before


def test_asof_null_tie_wins_its_instant(spark):
    """Pins the documented precondition: ``tie_col`` must be non-null,
    because a NULL tie sorts last within its instant and so wins it."""
    left = spark.createDataFrame(
        [(1, "u1", ts(12))], "event_id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", ts(12), 100.0, 5), ("u1", ts(12), 200.0, None)],
        "k string, ts timestamp, v double, tie long",
    )
    out = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="ts",
        payload_cols=["v"], tie_col="tie",
    )
    assert [(r.event_id, r.asof_v) for r in out.collect()] == [(1, 200.0)]


def test_dedup_batch_last_writer_wins(spark):
    df = spark.createDataFrame(
        [("k1", 1.0, 1), ("k1", 2.0, 2), ("k2", 9.0, 1)],
        "k string, v double, seq long",
    )
    out = {r.k: r.v for r in dedup_batch(df, ["k"], "seq").collect()}
    assert out == {"k1": 2.0, "k2": 9.0}


def test_row_hash_deterministic_and_sensitive(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2)], "x string, y int")
    h = df.select(row_hash_expr(df).alias("h")).collect()
    assert h[0].h != h[1].h  # value-sensitive
    assert len(h[0].h) == 64  # sha256 hex
    # column order must not matter (sorted keys, reference etl/transform.py:17)
    df2 = df.select("y", "x")
    h2 = df2.select(row_hash_expr(df2).alias("h")).collect()
    assert {r.h for r in h} == {r.h for r in h2}


def test_canonical_hash_null_vs_empty(spark):
    df = spark.createDataFrame([(None, "b"), ("", "b")], "x string, y string")
    h = df.select(canonical_hash_expr(F.col("x"), F.col("y")).alias("h")).collect()
    assert h[0].h != h[1].h  # NULL and '' must not collide


def test_pivot_refuses_implicit_and_overwide_value_lists(spark):
    import pytest as _pytest

    from habits_etl_spark.operators.pivot import pivot_long_rows
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a", 1.0)], "k int, name string, v double")
    with _pytest.raises(ValueError, match="explicit pivot value list"):
        pivot_long_rows(df, ["k"], "name", [], F.sum("v"))
    with _pytest.raises(ValueError, match="max_width"):
        pivot_long_rows(df, ["k"], "name", [str(i) for i in range(11)], F.sum("v"), max_width=10)


def test_pivot_round_trips_unpivoted_events(spark):
    """pivot(unpivot(wide)) == wide for the columns present."""
    from habits_etl_spark.operators.pivot import pivot_long_rows
    from pyspark.sql import functions as F

    long = spark.createDataFrame(
        [("d1", 1, "click", 2.0), ("d1", 1, "view", 3.0), ("d2", 2, "view", 5.0)],
        "day string, user_id int, event_type string, value double",
    )
    wide = pivot_long_rows(
        long, ["day", "user_id"], "event_type", ["click", "view"], F.sum("value")
    )
    rows = {(r.day, r.user_id): (r.click, r.view) for r in wide.collect()}
    assert rows == {("d1", 1): (2.0, 3.0), ("d2", 2): (None, 5.0)}
