"""operators/distrank.py: the distributed two-pass exact ranks must be
row-for-row identical to the single-partition global window they
replace, on real tables and on adversarial synthetic shapes (ties at
partition boundaries are impossible by the total-order contract, but
duplicate VALUES with a unique tie-break, empty frames, N < n tiles,
and all-null running inputs are all exercised)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.operators.distrank import (
    global_order_statistics,
    with_global_lag,
    with_global_ntile,
    with_global_ntile_by_selection,
    with_global_row_number,
    with_global_running_agg,
    with_group_position,
)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _collect_sorted(df, *keys):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


def test_row_number_matches_global_window(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_id", "value")
    got = with_global_row_number(ev, ["event_id"], "rn", nparts=7)
    w = Window.partitionBy(F.lit(0)).orderBy("event_id")
    want = ev.select("event_id", "value", F.row_number().over(w).cast("bigint").alias("rn"))
    assert _collect_sorted(got.select("event_id", "rn"), "event_id") == _collect_sorted(
        want.select("event_id", "rn"), "event_id"
    )


@pytest.mark.parametrize("n,rows", [(4, 23), (5, 5), (7, 3), (3, 30), (10, 100)])
def test_ntile_formula_matches_sql_ntile(spark, n, rows):
    # duplicate values, unique tie-break id, N % n != 0 and N < n cases
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(rows)], "id int, v int"
    )
    got = with_global_ntile(df, [F.col("v"), F.col("id")], n, "tile", nparts=4)
    w = Window.partitionBy(F.lit(0)).orderBy("v", "id")
    want = df.select("id", F.ntile(n).over(w).cast("bigint").alias("tile"))
    assert _collect_sorted(got.select("id", "tile"), "id") == _collect_sorted(
        want, "id"
    )


@pytest.mark.parametrize("n,rows", [(4, 23), (5, 5), (7, 3), (3, 30), (10, 100)])
def test_selection_ntile_matches_sql_ntile(spark, n, rows):
    # the map-side boundary-comparison tile must equal SQL NTILE on the
    # same shapes the two-pass ntile is pinned against (duplicate
    # values, N % n != 0, N < n)
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(rows)], "id int, v int"
    )
    got = with_global_ntile_by_selection(
        df, [F.col("v"), F.col("id")], n, "tile", nparts=4
    )
    w = Window.partitionBy(F.lit(0)).orderBy("v", "id")
    want = df.select("id", F.ntile(n).over(w).cast("bigint").alias("tile"))
    assert _collect_sorted(got.select("id", "tile"), "id") == _collect_sorted(
        want, "id"
    )


def test_selection_ntile_empty_input(spark):
    df = spark.createDataFrame([], "id int, v int")
    got = with_global_ntile_by_selection(df, [F.col("v"), F.col("id")], 10)
    assert got.count() == 0
    assert dict(got.dtypes)["tile"] == "bigint"


@pytest.mark.parametrize("rows,nparts", [(257, 7), (30, 4), (5, 4)])
def test_order_statistics_match_sorted_positions(spark, rows, nparts):
    # duplicate values + unique tie-break; ranks at both ends, the
    # middle, duplicates-heavy positions, and out-of-range requests
    data = [(i, (i * 7) % 13) for i in range(rows)]
    df = spark.createDataFrame(data, "id int, v int")
    want_order = sorted(data, key=lambda r: (r[1], r[0]))
    asked = [1, 2, rows // 3, rows // 2, rows, 0, -4, rows + 9]
    stats, total = global_order_statistics(
        df, [F.col("v"), F.col("id")], lambda t: asked, nparts=nparts
    )
    assert total == rows
    valid = {r for r in asked if 1 <= r <= rows}
    assert set(stats) == valid
    for r in valid:
        v, i = want_order[r - 1][1], want_order[r - 1][0]
        assert stats[r] == (v, i), (r, stats[r], (v, i))


def test_order_statistics_sees_total(spark):
    # ranks_of receives the boundary-pass total, so callers can ask for
    # e.g. the median position without a separate count job
    df = spark.createDataFrame([(i, i) for i in range(101)], "id int, v int")
    stats, total = global_order_statistics(
        df, [F.col("v"), F.col("id")], lambda t: [(t + 1) // 2], nparts=5
    )
    assert total == 101
    assert stats == {51: (50, 50)}


def test_order_statistics_empty_input(spark):
    df = spark.createDataFrame([], "id int, v int")
    stats, total = global_order_statistics(
        df, [F.col("v"), F.col("id")], lambda t: [1, 2, 3], nparts=4
    )
    assert (stats, total) == ({}, 0)


def test_ntile_desc_order(spark, sf_dir):
    # DESC on a numeric key = negated ASC key (distrank's asc-only
    # contract; see module docstring)
    ev = _events(spark, sf_dir).select("event_id", "value").filter(
        F.col("value").isNotNull()
    )
    got = with_global_ntile(
        ev, [-F.col("value"), F.col("event_id")], 10, "tile", nparts=6
    )
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("value").desc(), "event_id")
    want = ev.select("event_id", F.ntile(10).over(w).cast("bigint").alias("tile"))
    assert _collect_sorted(got.select("event_id", "tile"), "event_id") == _collect_sorted(
        want, "event_id"
    )


def test_lag_matches_global_window(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_id")
    got = with_global_lag(ev, ["event_id"], "event_id", "prev_id", nparts=7)
    w = Window.partitionBy(F.lit(0)).orderBy("event_id")
    want = ev.select("event_id", F.lag("event_id").over(w).alias("prev_id"))
    assert _collect_sorted(got, "event_id") == _collect_sorted(want, "event_id")


def test_running_max_excl_current_matches(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_id", "ts")
    got = with_global_running_agg(
        ev, ["event_id"], "ts", "mx", agg="max", include_current=False, nparts=7
    )
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = ev.select("event_id", "ts", F.max("ts").over(w).alias("mx"))
    assert _collect_sorted(got, "event_id") == _collect_sorted(want, "event_id")


def test_running_sum_with_nulls(spark):
    rows = [(1, None), (2, None), (3, 5), (4, None), (5, 2)]
    df = spark.createDataFrame(rows, "id int, v int")
    got = with_global_running_agg(df, ["id"], "v", "s", agg="sum", nparts=3)
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.select("id", "v", F.sum("v").over(w).alias("s"))
    assert _collect_sorted(got, "id") == _collect_sorted(want, "id")


def test_empty_input(spark):
    df = spark.createDataFrame([], "id int, v int")
    assert with_global_row_number(df, ["id"], "rn").count() == 0
    assert with_global_ntile(df, ["id"], 4, "t").count() == 0
    assert with_global_lag(df, ["id"], "v", "p").count() == 0
    assert with_global_running_agg(df, ["id"], "v", "s").count() == 0


def test_group_position_matches_partitioned_window(spark, sf_dir):
    # few-large-groups regime on real data: event_type groups, DESC value
    ev = _events(spark, sf_dir).select("event_type", "event_id", "value").filter(
        F.col("value").isNotNull()
    )
    got = with_group_position(
        ev,
        ["event_type"],
        [(-F.col("value")).alias("nv"), F.col("event_id")],
        nparts=7,
    )
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    want = ev.select(
        "event_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias(
            "group_count"
        ),
    )
    assert _collect_sorted(
        got.select("event_id", "rn", "group_count"), "event_id"
    ) == _collect_sorted(want, "event_id")


def test_group_position_straddling_tiny_groups(spark):
    # 3 groups over 5 range buckets: groups straddle bucket boundaries
    # and some buckets hold two groups
    rows = [(f"g{i % 3}", i) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, id int")
    got = with_group_position(df, ["g"], ["id"], nparts=5)
    w = Window.partitionBy("g").orderBy("id")
    want = df.select(
        "g",
        "id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("group_count"),
    )
    assert _collect_sorted(got, "g", "id") == _collect_sorted(want, "g", "id")


def test_group_position_empty_and_cell_guard(spark):
    empty = spark.createDataFrame([], "g string, id int")
    assert with_group_position(empty, ["g"], ["id"]).count() == 0
    # data-sized group cardinality trips the k-bounded-collect guard
    many = spark.createDataFrame([(f"g{i}", i) for i in range(50)], "g string, id int")
    with pytest.raises(ValueError, match="cells"):
        with_group_position(many, ["g"], ["id"], nparts=4, max_cells=10)


def test_running_agg_multi_column_matches_chained(spark):
    rows = [(i, i % 7, (i * 3) % 5) for i in range(60)]
    df = spark.createDataFrame(rows, "id int, a int, b int")
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the second input carries a user column named like the operator's
    # old inline scratch names: it must pass through untouched
    for inp in (df, df.withColumn("__rloc0", F.col("id") * 10)):
        got = with_global_running_agg(
            inp, ["id"], {"ca": "a", "cb": "b"}, nparts=5
        )
        want = inp.select(
            "*",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        )
        assert got.columns == want.columns
        assert _collect_sorted(got, "id") == _collect_sorted(want, "id")


def test_no_unpartitioned_window_in_plan(spark, sf_dir):
    """The whole point: the distributed rank's physical plan must not
    contain a window with an EMPTY partition spec (single-task sort).
    The bounded prefix window over the per-partition counts is
    explicitly partitioned by a constant."""
    from tests.test_plan_invariants import unpartitioned_windows

    ev = _events(spark, sf_dir).select("event_id", "value")
    for df in (
        with_global_ntile(ev, [F.col("value"), F.col("event_id")], 10, "t"),
        with_global_lag(ev, ["event_id"], "event_id", "p"),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert unpartitioned_windows(plan) == []


@pytest.mark.parametrize("n,rows,groups", [(3, 40, 3), (4, 23, 2), (7, 9, 4), (10, 100, 1)])
def test_grouped_selection_ntile_matches_partitioned_window(spark, n, rows, groups):
    # straddling groups, duplicate values, unique tie-break; per-group
    # N % n != 0 and N < n (groups=4, rows=9 gives 2-3 rows per group)
    from habits_etl_spark.operators.distrank import grouped_ntile_by_selection

    df = spark.createDataFrame(
        [(f"g{i % groups}", i, (i * 3) % 5) for i in range(rows)],
        "g string, id int, v int",
    )
    got = grouped_ntile_by_selection(
        df, ["g"], [F.col("v"), F.col("id")], n, "tile", nparts=5
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    want = df.select("g", "id", F.ntile(n).over(w).cast("bigint").alias("tile"))
    assert _collect_sorted(got.select("g", "id", "tile"), "g", "id") == _collect_sorted(
        want, "g", "id"
    )


def test_grouped_selection_ntile_real_data_desc(spark, sf_dir):
    # few-large-groups regime on real data, DESC value via negation
    from habits_etl_spark.operators.distrank import grouped_ntile_by_selection

    ev = _events(spark, sf_dir).select("event_type", "event_id", "value").filter(
        F.col("value").isNotNull()
    )
    got = grouped_ntile_by_selection(
        ev,
        ["event_type"],
        [(-F.col("value")).alias("nv"), F.col("event_id")],
        4,
        "tile",
        nparts=7,
    )
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    want = ev.select(
        "event_id", F.ntile(4).over(w).cast("bigint").alias("tile")
    )
    assert _collect_sorted(
        got.select("event_id", "tile"), "event_id"
    ) == _collect_sorted(want, "event_id")


def test_grouped_selection_ntile_empty_guard_and_no_window_over_input(spark):
    from habits_etl_spark.operators.distrank import grouped_ntile_by_selection

    empty = spark.createDataFrame([], "g string, id int")
    got = grouped_ntile_by_selection(empty, ["g"], ["id"], 3)
    assert got.count() == 0
    assert dict(got.dtypes)["tile"] == "bigint"
    many = spark.createDataFrame(
        [(f"g{i}", i) for i in range(50)], "g string, id int"
    )
    with pytest.raises(ValueError, match="group cardinality is data-sized"):
        grouped_ntile_by_selection(many, ["g"], ["id"], 3, nparts=4, max_cells=10)
    # the RETURNED frame's plan has no window at all: the tile is a pure
    # map-side expression over pinned literals
    small = spark.createDataFrame([(f"g{i % 2}", i) for i in range(20)], "g string, id int")
    out = grouped_ntile_by_selection(small, ["g"], ["id"], 3, nparts=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, plan


def test_selection_edged_path_matches_window(spark, monkeypatch):
    """Force the large-input path (approx edges + exact bucket counts +
    bucket-pruned probe) on small data and pin it against SQL NTILE and
    direct sorted positions — the path sf-scale unit data would
    otherwise never exercise (below _SMALL_PROBE_ROWS the engine runs
    one bucket per group by design)."""
    import habits_etl_spark.operators.distrank as dr

    monkeypatch.setattr(dr, "_SMALL_PROBE_ROWS", 0)
    monkeypatch.setattr(dr, "_TARGET_BUCKET_ROWS", 8)
    # global: duplicate values, ranks at ends/middle
    data = [(i, (i * 7) % 13) for i in range(257)]
    df = spark.createDataFrame(data, "id int, v int")
    want_order = sorted(data, key=lambda r: (r[1], r[0]))
    stats, total = dr.global_order_statistics(
        df, [F.col("v"), F.col("id")], lambda t: [1, 80, 128, 200, t], nparts=6
    )
    assert total == 257
    for r in [1, 80, 128, 200, 257]:
        assert stats[r] == (want_order[r - 1][1], want_order[r - 1][0])
    # grouped ntile through the same forced path
    gdf = spark.createDataFrame(
        [(f"g{i % 3}", i, (i * 5) % 11) for i in range(100)],
        "g string, id int, v int",
    )
    got = dr.grouped_ntile_by_selection(
        gdf, ["g"], [F.col("v"), F.col("id")], 4, "tile", nparts=6
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    want = gdf.select("g", "id", F.ntile(4).over(w).cast("bigint").alias("tile"))
    assert _collect_sorted(got.select("g", "id", "tile"), "g", "id") == _collect_sorted(
        want, "g", "id"
    )


def test_degenerate_leading_key_ties_take_range_fallback(spark, monkeypatch):
    """A constant (or low-cardinality) numeric leading key defeats the
    edge split — edges compare the leading column only, so its ties can
    never straddle an edge and the whole relation coarsens into one
    bucket. The degeneracy guard must detect it from the exact counts
    and rebuild on the range pass, whose full (value, tiebreak) key
    bounds per-task rows at ~total/nparts; results stay identical to
    the single-partition window."""
    import habits_etl_spark.operators.distrank as dr

    # data scale, shrunk: trip the guard at 16-row buckets
    monkeypatch.setattr(dr, "_SMALL_PROBE_ROWS", 0)
    monkeypatch.setattr(dr, "_TARGET_BUCKET_ROWS", 8)
    monkeypatch.setattr(dr, "_DEGENERATE_BUCKET_ROWS", 16)
    rows = [(i, 7) for i in range(120)]  # constant leading key, unique id
    df = spark.createDataFrame(rows, "id int, v int")
    order = [F.col("v"), F.col("id")]

    # provider dispatch: _EdgeBuckets reports degenerate, _buckets_for
    # answers with the range pass, and its buckets actually split the tie
    b = dr._buckets_for(df, order, 6, [])
    assert isinstance(b, dr._Buckets), type(b)
    assert max(b.counts()) < 120, b.counts()

    got_rn = dr.with_global_row_number(df, order, "rn", nparts=6)
    w = Window.partitionBy(F.lit(0)).orderBy("v", "id")
    want_rn = df.select("id", F.row_number().over(w).cast("bigint").alias("rn"))
    assert _collect_sorted(got_rn.select("id", "rn"), "id") == _collect_sorted(
        want_rn, "id"
    )

    # selection engine under the same degenerate key: exact positions
    stats, total = dr.global_order_statistics(
        df, order, lambda t: [1, 60, t], nparts=6
    )
    assert total == 120
    assert stats == {1: (7, 0), 60: (7, 59), 120: (7, 119)}

    # grouped position under a degenerate leading key within each group
    gdf = spark.createDataFrame(
        [(f"g{i % 2}", i, 3) for i in range(100)], "g string, id int, v int"
    )
    gp = dr.with_group_position(gdf, ["g"], [F.col("v"), F.col("id")], nparts=6)
    wg = Window.partitionBy("g").orderBy("v", "id")
    want_gp = gdf.select(
        "g", "id",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("group_count"),
    )
    assert _collect_sorted(
        gp.select("g", "id", "rn", "group_count"), "g", "id"
    ) == _collect_sorted(want_gp, "g", "id")


def test_non_numeric_leading_key_takes_range_fallback(spark):
    """String leading order keys can't take percentile_approx edges, so
    the provider dispatch must route them through the legacy range-
    shuffle _Buckets pass — same exact results, pinned here against the
    single-partition window."""
    rows = [(f"k{i:03d}", i % 7) for i in range(41)]
    df = spark.createDataFrame(rows, "s string, v int")
    got_rn = with_global_row_number(df, ["s"], "rn", nparts=5)
    got_lag = with_global_lag(df, ["s"], "v", "pv", nparts=5)
    w = Window.partitionBy(F.lit(0)).orderBy("s")
    want_rn = df.select("s", "v", F.row_number().over(w).cast("bigint").alias("rn"))
    want_lag = df.select("s", "v", F.lag("v").over(w).alias("pv"))
    assert _collect_sorted(got_rn, "s") == _collect_sorted(want_rn, "s")
    assert _collect_sorted(got_lag, "s") == _collect_sorted(want_lag, "s")
    # group-position fallback: string order key under string groups
    gp = with_group_position(df.withColumn("g", F.col("v") % 2), ["g"], ["s"], nparts=5)
    wg = Window.partitionBy("g").orderBy("s")
    want_gp = df.withColumn("g", F.col("v") % 2).select(
        "g", "s",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("group_count"),
    )
    assert _collect_sorted(
        gp.select("g", "s", "rn", "group_count"), "g", "s"
    ) == _collect_sorted(want_gp, "g", "s")
