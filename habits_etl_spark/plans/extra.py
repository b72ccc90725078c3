"""Second-wave query surface: tz anchoring parity, set operations,
config-mapping join, typed JSON flattening, sessionization, percentiles,
session windows, and the shipping-priority star query."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from habits_etl_spark.functions.datetime_ops import parse_report_date_expr
from habits_etl_spark.operators.distrank import grouped_order_statistics
from habits_etl_spark.operators.pivot import pivot_long_rows
from habits_etl_spark.operators.range_join import point_in_interval_join
from habits_etl_spark.plans.common import (
    TS_FMT_DUCK,
    day_str,
    dec,
    dsum,
    fmt_ts,
    query,
    sql_dsum,
    t,
)

# ---------------------------------------------------------------------------


@query(
    "op_noon_anchor_tz",
    f"""
    SELECT event_id,
           strftime(ts, '%-m/%-d/%Y') AS raw,
           strftime(date_trunc('day', ts) + INTERVAL 18 HOURS, '{TS_FMT_DUCK}') AS parsed_s
    FROM events
    """,
)
def op_noon_anchor_tz(spark, sf_dir):
    """Noon-local anchoring with a REAL timezone (reference
    etl/transform.py:41-43 + README.md:215 DST note): date-only strings
    parsed in America/Chicago anchor to 12:00 CST. The test window
    (January 2024) is entirely CST (UTC-6), so the oracle's expected
    instant is day + 12h + 6h without needing ICU in DuckDB; the DST
    transition itself is covered by tests/test_datetime_golden.py."""
    e = t(spark, sf_dir, "events")
    raw = F.date_format("ts", "M/d/yyyy")
    return e.select(
        "event_id",
        raw.alias("raw"),
        fmt_ts(parse_report_date_expr(raw, "America/Chicago")).alias("parsed_s"),
    )


@query(
    "set_ops",
    """
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT 'union' AS op, count(*) AS n FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)
    UNION ALL
    SELECT 'intersect', count(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
    UNION ALL
    SELECT 'except', count(*) FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM e)
    """,
)
def set_ops(spark, sf_dir):
    """Set operations (SURVEY §2.9 [E]): distinct union / intersect /
    except over dimension domains. Spark plans these as aggregations and
    semi/anti hash joins respectively."""
    e = t(spark, sf_dir, "events")

    def users(et):
        return e.filter(F.col("event_type") == et).select("user_id").distinct()

    c, p, err = users("click"), users("purchase"), users("error")
    rows = [
        c.union(p).distinct().agg(F.count(F.lit(1)).alias("n")).select(F.lit("union").alias("op"), "n"),
        c.intersect(p).agg(F.count(F.lit(1)).alias("n")).select(F.lit("intersect").alias("op"), "n"),
        c.exceptAll(err).agg(F.count(F.lit(1)).alias("n")).select(F.lit("except").alias("op"), "n"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_CATEGORY_MAP = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "revenue"),
    ("signup", "growth"),
    ("error", "ops"),
]


@query(
    "join_config_mapping",
    f"""
    SELECT m.category, count(*) AS n, {sql_dsum('e.value')} AS sum_value
    FROM events e
    JOIN (VALUES {", ".join(f"('{k}', '{v}')" for k, v in _CATEGORY_MAP)}) AS m(event_type, category)
      ON e.event_type = m.event_type
    GROUP BY 1 ORDER BY 1
    """,
)
def join_config_mapping(spark, sf_dir):
    """Config-declared mapping join (reference etl/transform.py:90-91: the
    habits.yml lookup per unpivoted column): a tiny driver-built mapping
    relation broadcast against the fact table — zero shuffle of the big
    side, exactly how the engine compiles habits.yml."""
    e = t(spark, sf_dir, "events")
    mapping = spark.createDataFrame(_CATEGORY_MAP, "event_type string, category string")
    return (
        e.join(F.broadcast(mapping), "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .orderBy("category")
    )


@query(
    "ext_json_flatten",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           json_extract_string(props, '$.missing') IS NOT NULL AS has_missing
    FROM events
    """,
)
def ext_json_flatten(spark, sf_dir):
    """Typed JSON flattening via from_json + schema (SURVEY §2.12
    ext_json_flatten; complements the path-string fn_json_extract): the
    payload parses once into a struct, fields project as columns."""
    e = t(spark, sf_dir, "events")
    parsed = F.from_json(
        F.col("props"),
        T.StructType(
            [T.StructField("k", T.IntegerType()), T.StructField("missing", T.StringType())]
        ),
    )
    return e.select(
        "event_id",
        parsed["k"].alias("k"),
        parsed["missing"].isNotNull().alias("has_missing"),
    )


@query(
    "ext_sessionize",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
           strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
           strftime(max(ts), '{TS_FMT_DUCK}') AS session_end,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM sess GROUP BY 1, 2
    """,
)
def ext_sessionize(spark, sf_dir):
    """Sessionization via lag + running sum of gap flags (the batch
    gaps-and-islands form; 30-minute inactivity gap). One shuffle on
    user_id serves both windows and the final aggregate.

    r14: the gap predicate used to reference ``lag(ts)`` twice and
    Catalyst does NOT dedupe identical window expressions — the plan
    carried two _we slots for the same lag. One named lag column now
    feeds the predicate (plan: a single window expression)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        (F.unix_micros("ts") - F.unix_micros(F.col("prev_ts")) > 1800 * 1_000_000)
        | F.col("prev_ts").isNull(),
        1,
    ).otherwise(0)
    sess = (
        e.select("user_id", "ts", "event_id", prev.alias("prev_ts"))
        .select("user_id", "ts", "event_id", is_new.alias("is_new"))
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sess.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        fmt_ts(F.min("ts")).alias("session_start"),
        fmt_ts(F.max("ts")).alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


@query(
    "stream_session_window",
    f"""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           strftime(min(ts), '{TS_FMT_DUCK}') AS w_start,
           strftime(max(ts) + INTERVAL 30 MINUTES, '{TS_FMT_DUCK}') AS w_end,
           count(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark, sf_dir):
    """Native session windows (SURVEY §2.10 stream_session_window [E]):
    ``session_window(ts, gap)`` — usable identically in batch and
    Structured Streaming (window end = last event + gap). Oracle is the
    equivalent gaps-and-islands expansion."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            fmt_ts(F.col("w.start")).alias("w_start"),
            fmt_ts(F.col("w.end")).alias("w_end"),
            "n",
        )
    )


@query(
    "stream_sliding_window",
    f"""
    WITH ev AS (
      SELECT date_trunc('day', ts) AS d, event_type, value FROM events
    ),
    exploded AS (
      SELECT d - (k * INTERVAL 1 DAY) AS w_start, event_type, value
      FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
    )
    SELECT strftime(w_start, '%Y-%m-%d') AS w_start_s, event_type,
           count(*) AS n, {sql_dsum('value')} AS sum_value
    FROM exploded GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark, sf_dir):
    """Sliding 2-day window advancing 1 day (SURVEY §2.10 family,
    overlapping variant of stream_tumbling_window): ``F.window(ts, "2
    days", "1 day")`` — every event lands in exactly duration/slide = 2
    windows. Same expression works under readStream with a watermark; the
    batch shape here is what the oracle can check. Slide alignment is
    epoch midnight UTC on both engines (Spark aligns window starts to the
    epoch; the oracle derives starts from date_trunc explicitly).

    Scale: Spark expands the window set per row BEFORE the shuffle
    (logical Expand), so map-side partial aggregation still collapses
    each window's rows locally — cost is duration/slide x the tumbling
    query, not a self-join. At 100 TB keep that ratio small (2 here);
    a 30-day window sliding daily should roll up from the 1-day tumbling
    aggregate instead (agg_hll_partial_merge shows the partial-merge
    shape)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("w_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "agg_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (SURVEY §2.5 family): Spark
    ``percentile`` == DuckDB ``quantile_cont`` (linear interpolation).

    Scale: exact percentile buffers every group's values in the
    aggregation buffer — kept ONLY for oracle parity at test scale. The
    100 TB path is ``agg_approx_percentiles`` below (bounded-memory
    KLL-style sketch), which the bench headline uses."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@query("agg_approx_percentiles")  # no oracle: approximate result by design
def agg_approx_percentiles(spark, sf_dir):
    """Approximate percentiles via ``percentile_approx`` (Greenwald-Khanna
    sketch, accuracy=10000): O(accuracy) memory per group regardless of
    group size, mergeable across partitions — the only percentile shape
    that survives a 100 TB fact table. rows-only driver check; error
    bounds vs the exact twin are asserted in tests/test_extra_ops.py."""
    e = t(spark, sf_dir, "events")
    acc = F.lit(10000)
    # One GK sketch per group queried at three ranks — not three separate
    # percentile_approx aggregates, which would build (and shuffle) three
    # identical sketches over the same column.
    qs = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), acc
    )
    return (
        e.groupBy("event_type")
        .agg(qs.alias("qs"))
        .select(
            "event_type",
            F.round(F.element_at("qs", 1), 4).alias("p50"),
            F.round(F.element_at("qs", 2), 4).alias("p90"),
            F.round(F.element_at("qs", 3), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "join_q3_shipping",
    f"""
    SELECT l_orderkey,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6)))) AS DOUBLE), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def join_q3_shipping(spark, sf_dir):
    """Shipping-priority top-k (TPC-H Q3 shape): filter-heavy 3-way join +
    grouped revenue + global top-10. The ORDER BY ... LIMIT compiles to
    TakeOrderedAndProject. Customer scales with the data, so its join
    strategy is left to AQE (broadcast when the post-filter size allows,
    shuffled at 100 TB) — no forced hint."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(12,6)") - F.col("l_discount").cast("decimal(12,6)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate_s", "l_orderkey")
        .limit(10)
    )


@query(
    "join_range_binned",
    """
    WITH intervals AS (
      SELECT o_orderkey AS iv_id, o_orderdate AS iv_start,
             o_orderdate + (1 + o_orderkey % 28) * INTERVAL 1 DAY AS iv_end
      FROM orders WHERE o_orderkey % 977 = 0
    )
    SELECT iv_id, CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_qty
    FROM intervals JOIN lineitem
      ON l_shipdate >= iv_start AND l_shipdate < iv_end
    GROUP BY iv_id ORDER BY iv_id
    """,
)
def join_range_binned(spark, sf_dir):
    """Point-in-interval range join (binned): count lineitem shipments
    falling inside promo windows derived from a deterministic orders
    sample. A naive `l_shipdate BETWEEN iv_start AND iv_end` join has no
    equi key, so Spark plans BroadcastNestedLoopJoin — O(points x
    intervals) and unusable at scale. operators/range_join.py rewrites it
    as an equi join on a 7-day time bin (intervals exploded to covered
    bins, points mapped to one bin) with the exact predicate as residual.

    Scale: both sides shuffle on __bin — a normal hash join that AQE
    balances; the interval side grows as sum(len/bin) rows, never the
    cross product. The intervals here scale WITH the data (a fixed
    fraction of orders), so the broadcast shortcut wouldn't survive —
    this op is the large x large case."""

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 977 == 0)
    intervals = o.select(
        F.col("o_orderkey").alias("iv_id"),
        F.col("o_orderdate").alias("iv_start"),
        F.expr(
            "timestampadd(DAY, CAST(1 + o_orderkey % 28 AS INT), o_orderdate)"
        ).alias("iv_end"),
    )
    points = t(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    joined = point_in_interval_join(
        points, intervals, "l_shipdate", "iv_start", "iv_end", bin_days=7
    )
    return (
        joined.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum("l_quantity", 4).alias("total_qty"),
        )
        .orderBy("iv_id")
    )


@query("agg_hll_partial_merge")  # no oracle: sketch estimate by design
def agg_hll_partial_merge(spark, sf_dir):
    """Mergeable-sketch rollup: per-(day, event_type) HyperLogLog sketches
    of distinct users, UNIONED per event_type and estimated — the
    materialized-partials layout for distinct counting at 100 TB. Exact
    distinct needs the raw keys at merge time; HLL partials are ~KB each,
    so daily sketches can be stored with the rollup and ANY date range is
    answered by a union of sketches without rescanning the fact table
    (the Datasketches pattern; same role as Timescale's hyperloglog
    continuous-aggregate column).

    Accuracy is bounded (lgConfigK=14 -> ~0.8% typical error) and
    asserted against exact count_distinct in tests/test_extra_ops.py;
    the driver records a rows-only check."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        day_str(F.col("ts")).alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
        .orderBy("event_type")
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")
_PIVOT_COLS_SQL = ",\n           ".join(
    f"round(CAST(sum(CAST(value AS DECIMAL(18,6))) "
    f"FILTER (WHERE event_type = '{v}') AS DOUBLE), 4) AS {v}" for v in _PIVOT_TYPES
)


@query(
    "op_pivot",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           user_id,
           {_PIVOT_COLS_SQL}
    FROM events
    GROUP BY 1, 2
    """,
)
def op_pivot(spark, sf_dir):
    """Long -> wide pivot (SURVEY §2.3's melt, inverted): per (day, user)
    one value column per event type — the reference's input-sheet shape
    and every "one panel per habit" dashboard view (README.md:96-143).

    Explicit value list (operators/pivot.py): compiles to conditional
    aggregates in ONE hash-aggregate exchange — no distinct-discovery
    pre-job, schema width known at plan time. The oracle is the
    equivalent FILTER/CASE conditional aggregation."""
    e = t(spark, sf_dir, "events")
    return pivot_long_rows(
        e.select(day_str(F.col("ts")).alias("day"), "user_id", "event_type", "value"),
        keys=("day", "user_id"),
        name_col="event_type",
        values=_PIVOT_TYPES,
        agg=dsum("value", 4),
    )


@query(
    "agg_cube_grouping_id",
    f"""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(isodow(ts) AS VARCHAR), 'ALL') AS dow,
           CAST(grouping(event_type) * 2 + grouping(isodow(ts)) AS BIGINT)
             AS gid,
           count(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY CUBE (event_type, isodow(ts))
    """,
)
def agg_cube_grouping_id(spark, sf_dir):
    """Full CUBE with grouping_id (SURVEY §2.5 family, completing
    agg_grouping_sets): all four aggregation levels over (event_type,
    day-of-week) in ONE pass, with the grouping id distinguishing a real
    NULL-ish label from a rolled-up 'ALL'.

    Determinism: decimal sums; dow as ISO day-of-week (Monday=1 —
    Spark ``weekday()+1`` == DuckDB ``isodow``; their ``dayofweek``s
    disagree on Sunday's index); labels coalesced to 'ALL' so the output
    is string-typed in both engines.

    Scale: CUBE plans as a single Expand (4 replicas per input row) into
    one hash aggregate — map-side partials collapse each level before the
    shuffle, so cost is levels x tumbling-agg, never levels x scans. At
    wide cubes (many dims) prefer explicit GROUPING SETS of the levels a
    dashboard actually reads (agg_grouping_sets shows that shape)."""
    e = t(spark, sf_dir, "events")
    dow = F.weekday("ts") + 1
    return (
        e.cube(F.col("event_type"), dow.alias("dow_n"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow_n").cast("string"), F.lit("ALL")).alias("dow"),
            "gid",
            "n",
            "sum_value",
        )
    )


@query(
    "agg_value_moments",
    """
    WITH m AS (
      SELECT event_type,
             count(value) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s1,
             sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           round(CAST(s1 AS DOUBLE) / n, 6) AS mean,
           CASE WHEN n > 1 THEN
             round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                        / (n - 1)), 6)
           END AS stddev
    FROM m ORDER BY event_type
    """,
)
def agg_value_moments(spark, sf_dir):
    """Per-group mean and sample stddev computed the ONLY way that is
    deterministic under distribution: exact decimal power sums (n, Σx,
    Σx²) merged associatively across partitions, moments derived in one
    double step at the end. Spark's stddev_samp (and any streaming
    variance) folds doubles in partition order — bit-unstable across
    parallelism/engines — so the engine derives moments from exact sums
    instead (common.py rule 1 extended to second moments).

    Scale: one hash-agg with map-side partials, identical topology to a
    plain sum; the derivation is per-group O(1). The same power-sum trick
    extends to skewness/kurtosis with Σx³/Σx⁴ at DECIMAL(38) precision."""
    e = t(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,6)")
    m = e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
    )
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    n = F.col("n")
    return m.select(
        "event_type",
        "n",
        F.round(s1 / n, 6).alias("mean"),
        # Singleton groups (n == 1) are an explicit NULL in both engines:
        # 0/0 NaN-vs-null semantics differ between Spark and DuckDB (and
        # flip under ANSI), so the sample-stddev undefined case is pinned.
        F.when(n > 1, F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6)).alias(
            "stddev"
        ),
    ).orderBy("event_type")


@query(
    "op_table_diff",
    """
    WITH a AS (SELECT event_id, event_type, value FROM events),
    b AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN value * 2 ELSE value END AS value
      FROM events WHERE user_id % 97 <> 0
      UNION ALL
      SELECT event_id + 10000000, event_type, value
      FROM events WHERE user_id % 89 = 0
    ),
    j AS (
      SELECT coalesce(a.event_id, b.event_id) AS event_id,
             CASE WHEN b.event_id IS NULL THEN 'removed'
                  WHEN a.event_id IS NULL THEN 'added'
                  WHEN a.value IS DISTINCT FROM b.value
                       OR a.event_type IS DISTINCT FROM b.event_type THEN 'changed'
                  ELSE 'same' END AS status
      FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_rows
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def op_table_diff(spark, sf_dir):
    """Snapshot reconciliation — the data-diff audit run between two
    versions of a table (e.g. yesterday's manifest snapshot vs today's,
    sinks/manifest.py time travel): per-key classification into
    added / removed / changed / same via one FULL OUTER join on the key,
    null-safe comparison (IS DISTINCT FROM) on the payload. The 'B' side
    here is a deterministic perturbation of events (drops, doubled
    values, injected keys) so the query is self-contained and
    oracle-checkable.

    Scale: one shuffle on the key for the full-outer hash join; the
    classification is a map over the joined row; output is 4 rows. A
    manifest-backed diff additionally prunes unchanged FILES first
    (identical file lists diff to zero cost)."""
    e = t(spark, sf_dir, "events")
    a = e.select("event_id", "event_type", "value")
    b = e.filter(F.col("user_id") % 97 != 0).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("value"),
    ).unionByName(
        e.filter(F.col("user_id") % 89 == 0).select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "event_type",
            "value",
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.event_id") == F.col("b.event_id"), "full_outer"
    )
    status = (
        F.when(F.col("b.event_id").isNull(), "removed")
        .when(F.col("a.event_id").isNull(), "added")
        .when(
            ~F.col("a.value").eqNullSafe(F.col("b.value"))
            | ~F.col("a.event_type").eqNullSafe(F.col("b.event_type")),
            "changed",
        )
        .otherwise("same")
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy("status")
    )


@query(
    "agg_corr_value_hour",
    """
    WITH v AS (
      SELECT event_type, value AS x, CAST(hour(ts) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
      FROM v GROUP BY 1
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy)
                 / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0.0),
                 6) AS corr_value_hour
    FROM s ORDER BY event_type
    """,
)
def agg_corr_value_hour(spark, sf_dir):
    """Per-group Pearson correlation (value vs hour-of-day) from exact
    decimal power sums — the deterministic twin of F.corr, which folds
    doubles in partition order and is bit-unstable across engines and
    parallelism (same reasoning as agg_value_moments' stddev). A
    diurnal-pattern audit: does the metric depend on time of day?

    Scale: one hash-agg with map-side partials; five sums per group,
    O(|event_types|) output. Degenerate variance (constant x or y) is an
    explicit NULL via nullif in both engines."""

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = e.select(
        "event_type",
        F.col("value").alias("x"),
        F.hour("ts").cast("double").alias("y"),
    )
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("x"), 28, 12)).cast("double").alias("sx"),
        F.sum(dec(F.col("y"), 28, 12)).cast("double").alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"), 28, 12)).cast("double").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"), 28, 12)).cast("double").alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"), 28, 12)).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "event_type",
        "n",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("corr_value_hour"),
    ).orderBy("event_type")


_HIST_BUCKETS = 4


@query(
    "agg_equidepth_hist",
    f"""
    WITH v AS (
      SELECT event_type, value, event_id FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type, value,
             ntile({_HIST_BUCKETS}) OVER (PARTITION BY event_type
                                          ORDER BY value, event_id) AS bucket
      FROM v
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def agg_equidepth_hist(spark, sf_dir):
    """Exact equi-depth histogram ({_HIST_BUCKETS} buckets) per group —
    the precise complement of agg_approx_percentiles' sketch: bucket
    boundaries from an ntile over a TOTAL order (value with event_id
    tie-break, so both engines tile identically even with duplicate
    values). Equi-depth bounds are what a CBO stores and what a
    skew-aware partitioner samples.

    Scale: the whole result is an order-statistics problem — bucket row
    counts are NTILE arithmetic over each group's total, and lo/hi are
    the values at each bucket's edge RANKS — so there is no per-row
    tile, no window, and no per-group single-task sort anywhere
    (pre-r9 this plan shuffled every event into a per-group ntile
    window). operators/distrank.py grouped_order_statistics selects the
    ≤ 2·{_HIST_BUCKETS} edge values per event_type on the shuffle-free
    selection engine (approx candidate edges, exact bucket counts, then
    sorting only the buckets holding a target rank); the
    |groups|·{_HIST_BUCKETS}-row histogram itself is a local relation —
    domain-bounded, the registry's k-bounded rule. At 100 TB that is
    three scans, three tiny collects, and zero shuffles, total."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def _edges(total: int) -> list[int]:
        # per-bucket [lo, hi] ranks under NTILE sizing: first total%n
        # tiles hold ceil(total/n) rows, the rest floor(total/n)
        q, rem = divmod(total, _HIST_BUCKETS)
        ranks, acc = [], 0
        for i in range(1, _HIST_BUCKETS + 1):
            size = q + 1 if i <= rem else q
            if size > 0:
                ranks += [acc + 1, acc + size]
                acc += size
        return ranks

    stats, totals = grouped_order_statistics(
        e, ["event_type"], [F.col("value"), F.col("event_id")], _edges
    )
    rows = []
    for (etype,), total in totals.items():
        q, rem = divmod(total, _HIST_BUCKETS)
        acc = 0
        for i in range(1, _HIST_BUCKETS + 1):
            size = q + 1 if i <= rem else q
            if size > 0:  # empty tiles (total < buckets) don't appear,
                rows.append(  # matching the oracle's ntile GROUP BY
                    (etype, i, size, stats[(etype,)][acc + 1][0],
                     stats[(etype,)][acc + size][0])
                )
                acc += size
    return (
        spark.createDataFrame(
            rows,
            schema="event_type string, bucket bigint, n_rows bigint, "
                   "lo_raw double, hi_raw double",
        )
        .select(
            "event_type",
            "bucket",
            "n_rows",
            F.round("lo_raw", 6).alias("lo"),
            F.round("hi_raw", 6).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


_SESSION_GAP_MIN = 30


@query(
    "win_first_touch_attribution",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, ts, value,
             CASE WHEN (epoch(ts) - epoch(lag(ts) OVER w)) > {_SESSION_GAP_MIN * 60}
                       OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ev
    ),
    first_click AS (
      SELECT user_id, session_no, min(ts) AS first_click_ts
      FROM sess WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '{{TS_FMT_DUCK}}') AS purchase_ts_s,
           strftime(f.first_click_ts, '{{TS_FMT_DUCK}}') AS first_touch_ts_s,
           p.value
    FROM sess p
    LEFT JOIN first_click f
      ON f.user_id = p.user_id AND f.session_no = p.session_no
         AND f.first_click_ts <= p.ts
    WHERE p.event_type = 'purchase'
    ORDER BY p.event_id
    """.replace("{{TS_FMT_DUCK}}", "{TS_FMT_DUCK}").format(TS_FMT_DUCK=TS_FMT_DUCK),
)
def win_first_touch_attribution(spark, sf_dir):
    """First-touch attribution: each purchase credited to the FIRST click
    of its own session ({_SESSION_GAP_MIN}-minute inactivity gap —
    ext_sessionize's convention), NULL when the session had no click at
    or before the purchase. The marketing-analytics composition of
    gaps-and-islands sessionization + a session-grain min + one
    enrichment join.

    Scale: both windows and the join key share the user_id partitioning
    — ONE shuffle serves sessionization, the session min, and the join
    (the session aggregate is |sessions| rows, far smaller than the
    fact). No as-of scan: session boundaries bound the lookback."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > _SESSION_GAP_MIN * 60),
        1,
    ).otherwise(0)
    sess = e.withColumn("new_sess", new_sess).withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    first_click = (
        sess.filter(F.col("event_type") == "click")
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("first_click_ts"))
    )
    p = sess.filter(F.col("event_type") == "purchase").alias("p")
    f = first_click.alias("f")
    return (
        p.join(
            f,
            (F.col("f.user_id") == F.col("p.user_id"))
            & (F.col("f.session_no") == F.col("p.session_no"))
            & (F.col("f.first_click_ts") <= F.col("p.ts")),
            "left",
        )
        .select(
            F.col("p.event_id").alias("event_id"),
            F.col("p.user_id").alias("user_id"),
            fmt_ts(F.col("p.ts")).alias("purchase_ts_s"),
            fmt_ts(F.col("f.first_click_ts")).alias("first_touch_ts_s"),
            F.col("p.value").alias("value"),
        )
        .orderBy("event_id")
    )


@query(
    "op_profile_events",
    f"""
    WITH s AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) - count(event_id) AS BIGINT)   AS nulls_event_id,
        CAST(count(*) - count(ts) AS BIGINT)         AS nulls_ts,
        CAST(count(*) - count(user_id) AS BIGINT)    AS nulls_user_id,
        CAST(count(*) - count(event_type) AS BIGINT) AS nulls_event_type,
        CAST(count(*) - count(value) AS BIGINT)      AS nulls_value,
        CAST(count(*) - count(props) AS BIGINT)      AS nulls_props,
        CAST(count(DISTINCT user_id) AS BIGINT)      AS distinct_users,
        CAST(count(DISTINCT event_type) AS BIGINT)   AS distinct_types,
        round(min(value), 6) AS min_value,
        round(max(value), 6) AS max_value,
        strftime(min(ts), '{{TS_FMT_DUCK}}') AS min_ts_s,
        strftime(max(ts), '{{TS_FMT_DUCK}}') AS max_ts_s
      FROM events
    )
    SELECT * FROM s
    """.replace("{TS_FMT_DUCK}", TS_FMT_DUCK),
)
def op_profile_events(spark, sf_dir):
    """One-pass data-profiling summary — the ingest-gate audit a pipeline
    runs before trusting a new drop: per-column null counts, key
    cardinalities, value and time extrema. Everything folds into a
    SINGLE aggregation over one scan (count(*) - count(col) is the
    null-count idiom both engines share); contrast df.summary(), which
    is driver-convenience, not a registered, oracle-checked artifact.

    Scale: one scan, one reduce to a single row; the two exact DISTINCTs
    expand to two extra shuffles (Spark's multi-distinct Expand) — at
    100 TB swap them for approx_count_distinct (agg_approx_distinct's
    documented trade)."""
    e = t(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("event_id")).cast("bigint").alias("nulls_event_id"),
        (F.count(F.lit(1)) - F.count("ts")).cast("bigint").alias("nulls_ts"),
        (F.count(F.lit(1)) - F.count("user_id")).cast("bigint").alias("nulls_user_id"),
        (F.count(F.lit(1)) - F.count("event_type")).cast("bigint").alias("nulls_event_type"),
        (F.count(F.lit(1)) - F.count("value")).cast("bigint").alias("nulls_value"),
        (F.count(F.lit(1)) - F.count("props")).cast("bigint").alias("nulls_props"),
        F.countDistinct("user_id").cast("bigint").alias("distinct_users"),
        F.countDistinct("event_type").cast("bigint").alias("distinct_types"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        fmt_ts(F.min("ts")).alias("min_ts_s"),
        fmt_ts(F.max("ts")).alias("max_ts_s"),
    )


_SCD2_LOW, _SCD2_HIGH = 100.0, 400.0


@query(
    "op_scd2_user_tier",
    f"""
    WITH weekly AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS wv
      FROM events GROUP BY 1, 2
    ),
    tiered AS (
      SELECT user_id, week,
             CASE WHEN wv < {_SCD2_LOW} THEN 'low'
                  WHEN wv < {_SCD2_HIGH} THEN 'mid' ELSE 'high' END AS tier
      FROM weekly
    ),
    flagged AS (
      SELECT user_id, week, tier,
             CASE WHEN lag(tier) OVER w IS NULL
                       OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      FROM tiered WINDOW w AS (PARTITION BY user_id ORDER BY week)
    ),
    versioned AS (
      SELECT user_id, week, tier,
             sum(chg) OVER (PARTITION BY user_id ORDER BY week
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, CAST(version AS BIGINT) AS version, tier,
             min(week) AS valid_from, max(week) AS valid_to,
             CAST(count(*) AS BIGINT) AS n_weeks
      FROM versioned GROUP BY 1, 2, 3
    ),
    latest AS (SELECT user_id, max(valid_to) AS last_week FROM intervals GROUP BY 1)
    SELECT i.user_id, i.version, i.tier,
           strftime(i.valid_from, '%Y-%m-%d') AS valid_from_s,
           strftime(i.valid_to, '%Y-%m-%d') AS valid_to_s,
           i.n_weeks, i.valid_to = l.last_week AS is_current
    FROM intervals i JOIN latest l ON l.user_id = i.user_id
    ORDER BY i.user_id, i.version
    """,
)
def op_scd2_user_tier(spark, sf_dir):
    """Slowly-changing-dimension type 2 build: each user's weekly
    activity tier (low/mid/high by weekly value sum) collapsed into
    versioned validity intervals — the warehouse dimension-history
    pattern (valid_from / valid_to / is_current) derived from the fact
    stream itself. Consecutive equal tiers merge via gaps-and-islands
    (change flag -> running version counter -> group).

    Scale: weekly rollup is a hash-agg; BOTH windows and the interval
    agg share the user_id partitioning — one shuffle total; intervals
    are |users| x |tier changes| rows, far smaller than the fact."""
    e = t(spark, sf_dir, "events")
    weekly = e.groupBy(
        "user_id", F.date_trunc("WEEK", F.col("ts")).cast("date").alias("week")
    ).agg(dsum("value").alias("wv"))
    tier = (
        F.when(F.col("wv") < _SCD2_LOW, "low")
        .when(F.col("wv") < _SCD2_HIGH, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = weekly.select("user_id", "week", tier.alias("tier")).withColumn(
        "chg",
        F.when(
            F.lag("tier").over(w).isNull() | (F.lag("tier").over(w) != F.col("tier")),
            1,
        ).otherwise(0),
    )
    versioned = flagged.withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    intervals = versioned.groupBy("user_id", "version", "tier").agg(
        F.min("week").alias("valid_from"),
        F.max("week").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
    )
    latest = intervals.groupBy("user_id").agg(F.max("valid_to").alias("last_week"))
    return (
        intervals.join(latest, "user_id")
        .select(
            "user_id",
            "version",
            "tier",
            F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from_s"),
            F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to_s"),
            "n_weeks",
            (F.col("valid_to") == F.col("last_week")).alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


@query(
    "agg_value_gini",
    """
    WITH ux AS (
      SELECT event_type, user_id,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
      FROM ux
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(i * x AS DECIMAL(28,12))) AS DOUBLE) AS six
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n,
           round((2.0 * six) / (n * sx) - (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini
    FROM s ORDER BY event_type
    """,
)
def agg_value_gini(spark, sf_dir):
    """Gini concentration of per-user value mass within each event type —
    the inequality audit (the same statistic a curation pipeline runs
    over per-SOURCE token mass to flag a corpus dominated by a few
    domains). Standard rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    over ascending-sorted values, with a user_id tie-break so both
    engines rank identically.

    Scale: user-grain reduce first (the heavy hash-agg), then a rank
    window per group and one tiny rollup; rank products go through
    decimal exact sums (rule 1) so partial order cannot move the
    coefficient. Honest caveat: with FEW groups (5 event types here)
    the rank sort concentrates on |groups| partitions — at billions of
    users per group the scale path is a two-phase rank
    (repartitionByRange on x within group, per-partition local ranks +
    broadcast partition-count offsets), same output, not implemented
    here because the grouping keys this op targets (sources, domains)
    keep per-group cardinality far below that."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ux = e.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = ux.select(
        "event_type", "x", F.row_number().over(w).alias("i")
    )

    s = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("x"), 28, 12)).cast("double").alias("sx"),
        F.sum(dec(F.col("i") * F.col("x"), 28, 12)).cast("double").alias("six"),
    )
    return s.select(
        "event_type",
        "n",
        F.round(
            (2.0 * F.col("six")) / (F.col("n") * F.col("sx"))
            - (F.col("n").cast("double") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    ).orderBy("event_type")


@query(
    "op_variant_shred",
    """
    WITH v AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             json_extract(props, '$.absent') AS absent
      FROM events
    )
    SELECT event_type,
           count(*)                                   AS n_events,
           count(k)                                   AS n_with_k,
           min(k)                                     AS k_min,
           max(k)                                     AS k_max,
           CAST(sum(k) AS BIGINT)                     AS k_sum,
           count(*) FILTER (k >= 50)                  AS n_k_hi,
           count(absent)                              AS n_absent_field
    FROM v GROUP BY event_type ORDER BY event_type
    """,
)
def op_variant_shred(spark, sf_dir):
    """Semi-structured shredding through Spark 4's VARIANT type: parse
    ``events.props`` ONCE into the binary variant encoding, then take
    every typed field with ``try_variant_get`` — the lakehouse-native
    successor to ``fn_json_extract``'s get_json_object path, which
    re-parses the JSON text once PER EXTRACTED FIELD. At one field the
    two are even; at the wide, ragged payloads real event streams carry
    (and at 100 TB of them), parse-once-shred-many is the difference
    between one scan-side decode and N of them, and VARIANT pushes
    typed access (`$.k` as bigint) into the encoded form without a
    user-supplied schema — the schema-on-read contract ``from_json``
    cannot offer when producers evolve payloads independently.

    try_variant_get returns NULL for missing paths and uncastable
    values (ANSI-safe by construction); the deliberately-absent
    ``$.absent`` probe pins that behavior against the oracle's
    json_extract NULL semantics. Output is plain integers, so
    cross-engine parity is exact. Reference parity: generalizes the
    habits ETL's JSON column handling (SURVEY §2.3 fn_json_extract);
    [E] extension — the reference has no variant surface."""
    e = t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("pv")
    ).select(
        "event_type",
        F.try_variant_get("pv", "$.k", "bigint").alias("k"),
        F.try_variant_get("pv", "$.absent", "string").alias("absent"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count("k").cast("bigint").alias("n_with_k"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.count_if(F.col("k") >= 50).cast("bigint").alias("n_k_hi"),
            F.count("absent").cast("bigint").alias("n_absent_field"),
        )
        .orderBy("event_type")
    )
