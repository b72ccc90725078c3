"""Habits-domain query surface over the ``events`` table.

``events(event_id, ts, user_id, event_type, value, props)`` plays the role
of the reference's ``habit_events(ts, user_email, habit, value, notes)``
fact table (reference sql/001_schema.sql:14-23): ``user_id`` ≙ user_email,
``event_type`` ≙ habit, ``props`` ≙ notes/payload.

Each query cites the reference construct it re-expresses. Scale notes are
inline: these are the plans that must survive 100 TB, so each one states
its shuffle structure.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.coerce import (
    bool_coerce_expr,
    email_normalize_expr,
    notes_concat_expr,
    number_coerce_expr,
)
from habits_etl_spark.functions.datetime_ops import (
    parse_report_date_expr,
    parse_serial_date_expr,
)
from habits_etl_spark.functions.hashing import canonical_hash_expr
from habits_etl_spark.plans.common import (
    TS_FMT_DUCK,
    day_of,
    day_str,
    davg,
    dsum,
    fmt_ts,
    query,
    sql_davg,
    sql_dsum,
    t,
)
from habits_etl_spark.sinks.upsert import upsert_keyed

# ---------------------------------------------------------------------------
# Aggregations (reference sql/001_schema.sql:31-40, README.md:96-143)
# ---------------------------------------------------------------------------


@query(
    "agg_daily_rollup",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           user_id, event_type,
           count(*) FILTER (WHERE value >= 1) AS count_done,
           {sql_davg('value')} AS avg_value,
           {sql_dsum("CASE WHEN event_type = 'purchase' THEN value END")} AS sum_purchase
    FROM events GROUP BY 1, 2, 3
    """,
)
def agg_daily_rollup(spark, sf_dir):
    """The flagship aggregate — reference continuous aggregate habit_daily
    (sql/001_schema.sql:31-40): day bucket × user × habit with a filtered
    count, an avg, and a habit-filtered sum.

    Scale: single hash aggregation; partial (map-side) aggregation then one
    shuffle on (day, user, type) — high combined cardinality keys, no skew.
    The group key is the 4-byte DATE, not the 10-byte formatted string
    (guide §2.3, narrower shuffle keys); the ISO string is derived from
    the aggregated rows only — same groups (date -> 'yyyy-MM-dd' is 1:1),
    identical output.
    """
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            day_of(F.col("ts")).alias("day_d"),
            "user_id",
            "event_type",
        )
        .agg(
            F.count(F.when(F.col("value") >= 1, 1)).alias("count_done"),
            davg("value").alias("avg_value"),
            dsum(F.when(F.col("event_type") == "purchase", F.col("value"))).alias(
                "sum_purchase"
            ),
        )
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            "user_id",
            "event_type",
            "count_done",
            "avg_value",
            "sum_purchase",
        )
    )


@query(
    "agg_sum_timeseries",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           {sql_dsum('value')} AS sum_value
    FROM events WHERE event_type = 'click' GROUP BY 1 ORDER BY 1
    """,
)
def agg_sum_timeseries(spark, sf_dir):
    """Daily sum of one metric (reference README.md:122-125, the
    meditation-minutes-per-day Grafana panel)."""
    e = t(spark, sf_dir, "events")
    # Group on the DATE, format after the aggregate (guide §2.3 — narrower
    # shuffle key, same groups/rows); ordering by the ISO string equals
    # ordering by the date.
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy(day_of(F.col("ts")).alias("day_d"))
        .agg(dsum("value").alias("sum_value"))
        .select(F.date_format("day_d", "yyyy-MM-dd").alias("day"), "sum_value")
        .orderBy("day")
    )


@query(
    "agg_conditional_pct",
    """
    SELECT event_type,
           count(*) AS n,
           round(100.0 * CAST(sum(CASE WHEN value >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(greatest(count(*), 1) AS DOUBLE), 4) AS pct_done
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY 1 ORDER BY 1
    """,
)
def agg_conditional_pct(spark, sf_dir):
    """Percent-done panel (reference README.md:130-139): conditional CASE
    aggregation + GREATEST divide-by-zero guard + ::float cast."""
    e = t(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-08")))
            & (F.col("ts") < F.to_timestamp(F.lit("2024-01-15")))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("value") >= 1, 1).otherwise(0)).cast("double")
                / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double"),
                4,
            ).alias("pct_done"),
        )
        .orderBy("event_type")
    )


@query(
    "join_cross_scalar_cte",
    f"""
    WITH week AS (SELECT TIMESTAMP '2024-01-08' AS start_ts, TIMESTAMP '2024-01-15' AS end_ts)
    SELECT e.event_type, count(*) AS n, {sql_davg('e.value')} AS avg_value
    FROM events e, week w
    WHERE e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY 1 ORDER BY 1
    """,
)
def join_cross_scalar_cte(spark, sf_dir):
    """Cross join against a single-row boundary CTE (reference
    README.md:130-139 'FROM habit_events, week').

    Scale: the one-row side is broadcast (BroadcastNestedLoopJoin) — no
    shuffle of the fact table; the range predicate then prunes partitions.
    """
    e = t(spark, sf_dir, "events")
    week = spark.range(1).select(
        F.to_timestamp(F.lit("2024-01-08")).alias("start_ts"),
        F.to_timestamp(F.lit("2024-01-15")).alias("end_ts"),
    )
    return (
        e.crossJoin(F.broadcast(week))
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), davg("value").alias("avg_value"))
        .orderBy("event_type")
    )


@query(
    "agg_distinct_dim",
    "SELECT DISTINCT user_id FROM events ORDER BY 1",
)
def agg_distinct_dim(spark, sf_dir):
    """Dashboard variable domain (reference README.md:118-119)."""
    return t(spark, sf_dir, "events").select("user_id").distinct().orderBy("user_id")


@query(
    "fn_date_trunc_week",
    f"""
    SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, event_type,
           count(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def fn_date_trunc_week(spark, sf_dir):
    """Weekly grain (reference README.md:131 date_trunc('week', t))."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("WEEK", F.col("ts")), "yyyy-MM-dd").alias("week"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .orderBy("week", "event_type")
    )


@query(
    "stream_tumbling_window",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1-day window via F.window — the batch shape of the
    reference's continuous aggregate bucket (sql/001_schema.sql:33).
    The true streaming maintenance job lives in streaming/rollup.py
    (tested in tests/test_streaming.py)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    ).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"), "event_type", "n", "sum_value"
    )


# ---------------------------------------------------------------------------
# Predicates / sorts (reference README.md:96-143 declared surface)
# ---------------------------------------------------------------------------


@query(
    "pred_time_range",
    f"""
    SELECT event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_s, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
    """,
)
def pred_time_range(spark, sf_dir):
    """Half-open time-range predicate (reference README.md:124,136
    $__timeFilter), pushed to the parquet scan on the stored ts column
    (sources.load_events_range) so row groups outside the range are skipped
    by min/max stats — the hypertable chunk-exclusion analog."""
    # Looked up at call time: the traced benchmark run wraps
    # habits_etl_spark.sources.load_events_range in place.
    from habits_etl_spark.sources import load_events_range

    e = load_events_range(spark, sf_dir, "2024-01-05", "2024-01-06")
    return e.select(
        "event_id", fmt_ts(F.col("ts")).alias("ts_s"), "user_id", "event_type", "value"
    )


@query(
    "pred_eq_in",
    f"""
    SELECT event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_s, user_id, event_type, value
    FROM events WHERE user_id = 7 AND event_type IN ('click', 'purchase')
    """,
)
def pred_eq_in(spark, sf_dir):
    """Equality + IN-list predicates (reference README.md:124,137-138)."""
    e = t(spark, sf_dir, "events")
    return e.filter(
        (F.col("user_id") == 7) & F.col("event_type").isin("click", "purchase")
    ).select("event_id", fmt_ts(F.col("ts")).alias("ts_s"), "user_id", "event_type", "value")


@query(
    "sort_limit_topk",
    f"""
    SELECT event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_s, user_id, event_type, value
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 50
    """,
)
def sort_limit_topk(spark, sf_dir):
    """Latest-k verification query (reference README.md:98 'ORDER BY ts
    DESC LIMIT 50'). Spark compiles this to TakeOrderedAndProject — a true
    distributed top-k (per-partition heap + driver merge), no global sort."""
    e = t(spark, sf_dir, "events")
    return (
        e.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(50)
        .select("event_id", fmt_ts(F.col("ts")).alias("ts_s"), "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Row transforms / scalar functions (reference etl/transform.py)
# ---------------------------------------------------------------------------


@query(
    "op_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def op_unpivot(spark, sf_dir):
    """Wide->long melt, the reference's core operator
    (etl/transform.py:71-113), on a generic table: Spark's native
    ``unpivot``. Pure map-side — no shuffle, stays in codegen."""
    li = t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@query(
    "op_row_hash",
    f"""
    SELECT event_id,
           sha256(concat_ws(chr(31),
                  coalesce(CAST(event_id AS VARCHAR), chr(0)),
                  coalesce(strftime(ts, '{TS_FMT_DUCK}'), chr(0)),
                  coalesce(CAST(user_id AS VARCHAR), chr(0)),
                  coalesce(event_type, chr(0)),
                  coalesce(printf('%.6f', value), chr(0)),
                  coalesce(props, chr(0)))) AS row_hash
    FROM events
    """,
)
def op_row_hash(spark, sf_dir):
    """Deterministic content hash (reference etl/transform.py:16-18:
    sha256 over a canonical serialization). Engine-portable canonical
    string: fields joined by 0x1F with 0x00 for NULL."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        canonical_hash_expr(
            F.col("event_id"),
            fmt_ts(F.col("ts")),
            F.col("user_id"),
            F.col("event_type"),
            F.format_string("%.6f", F.col("value")),
            F.col("props"),
        ).alias("row_hash"),
    )


@query(
    "op_parse_date_multi",
    f"""
    WITH src AS (
      SELECT event_id, ts,
             CASE CAST(event_id % 5 AS INTEGER)
               WHEN 0 THEN strftime(ts, '%-m/%-d/%Y')
               WHEN 1 THEN strftime(ts, '%Y-%m-%d')
               WHEN 2 THEN strftime(ts, '%b %-d, %Y')
               WHEN 3 THEN strftime(ts, '%B %-d, %Y')
               ELSE strftime(ts, '%Y-%m-%d %H:%M:%S')
             END AS raw
      FROM events
    )
    SELECT event_id, raw,
           strftime(CASE WHEN event_id % 5 <= 3
                         THEN date_trunc('day', ts) + INTERVAL 12 HOURS
                         ELSE date_trunc('second', ts) END,
                    '{TS_FMT_DUCK}') AS parsed_s
    FROM src
    """,
)
def op_parse_date_multi(spark, sf_dir):
    """Multi-format date cascade (reference etl/transform.py:38-68) proven
    cross-engine: derive strings in 5 formats from real timestamps, run the
    cascade, compare against the directly computed expected instant. Runs
    with tz=UTC so the oracle needs no ICU; the local-tz anchor semantics
    are covered by the golden unit tests."""
    e = t(spark, sf_dir, "events")
    raw = (
        F.when(F.col("event_id") % 5 == 0, F.date_format("ts", "M/d/yyyy"))
        .when(F.col("event_id") % 5 == 1, F.date_format("ts", "yyyy-MM-dd"))
        .when(F.col("event_id") % 5 == 2, F.date_format("ts", "MMM d, yyyy"))
        .when(F.col("event_id") % 5 == 3, F.date_format("ts", "MMMM d, yyyy"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    )
    return e.select(
        "event_id",
        raw.alias("raw"),
        fmt_ts(parse_report_date_expr(raw, "UTC")).alias("parsed_s"),
    )


@query(
    "op_parse_serial_date",
    f"""
    WITH src AS (
      SELECT event_id,
             CAST(date_diff('day', DATE '1899-12-30', CAST(ts AS DATE)) AS DOUBLE)
               + CASE WHEN event_id % 2 = 1 THEN 0.25 ELSE 0.0 END AS serial,
             CAST(ts AS DATE) AS d
      FROM events
    )
    SELECT event_id, serial,
           strftime(CAST(d AS TIMESTAMP)
                    + CASE WHEN event_id % 2 = 1 THEN INTERVAL 6 HOURS
                           ELSE INTERVAL 12 HOURS END,
                    '{TS_FMT_DUCK}') AS parsed_s
    FROM src
    """,
)
def op_parse_serial_date(spark, sf_dir):
    """Google serial dates (reference etl/transform.py:25-34): whole-day
    serials anchor to noon, fractional serials keep their time-of-day.
    Serial values are derived from real event dates (odd ids get +0.25 day
    = 06:00)."""
    e = t(spark, sf_dir, "events")
    serial = (
        F.datediff(F.col("ts").cast("date"), F.lit("1899-12-30").cast("date")).cast("double")
        + F.when(F.col("event_id") % 2 == 1, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return e.select(
        "event_id",
        serial.alias("serial"),
        fmt_ts(parse_serial_date_expr(serial, "UTC")).alias("parsed_s"),
    )


@query(
    "op_bool_coerce",
    """
    WITH src AS (
      SELECT event_id,
             CASE CAST(user_id % 7 AS INTEGER)
               WHEN 0 THEN 'yes' WHEN 1 THEN 'TRUE ' WHEN 2 THEN ' On'
               WHEN 3 THEN 'no' WHEN 4 THEN '0' WHEN 5 THEN ' maybe' ELSE '1'
             END AS raw
      FROM events
    )
    SELECT event_id, raw,
           CASE WHEN lower(trim(raw)) IN ('yes','true','1','y','t','on')
                THEN 1.0 ELSE 0.0 END AS value,
           1.0 - CASE WHEN lower(trim(raw)) IN ('yes','true','1','y','t','on')
                      THEN 1.0 ELSE 0.0 END AS inverted
    FROM src
    """,
)
def op_bool_coerce(spark, sf_dir):
    """Truthy-set bool coercion + invert flag (reference
    etl/transform.py:14,96-99) over derived raw strings."""
    e = t(spark, sf_dir, "events")
    raw = (
        F.when(F.col("user_id") % 7 == 0, F.lit("yes"))
        .when(F.col("user_id") % 7 == 1, F.lit("TRUE "))
        .when(F.col("user_id") % 7 == 2, F.lit(" On"))
        .when(F.col("user_id") % 7 == 3, F.lit("no"))
        .when(F.col("user_id") % 7 == 4, F.lit("0"))
        .when(F.col("user_id") % 7 == 5, F.lit(" maybe"))
        .otherwise(F.lit("1"))
    )
    return e.select(
        "event_id",
        raw.alias("raw"),
        bool_coerce_expr(raw).alias("value"),
        bool_coerce_expr(raw, invert=True).alias("inverted"),
    )


@query(
    "op_number_coerce",
    """
    WITH src AS (
      SELECT event_id,
             CASE CAST(event_id % 4 AS INTEGER)
               WHEN 0 THEN printf('%.2f', value)
               WHEN 1 THEN '  12.5  '
               WHEN 2 THEN 'abc'
               ELSE ''
             END AS raw
      FROM events
    )
    SELECT event_id, raw, TRY_CAST(trim(raw) AS DOUBLE) AS value
    FROM src
    WHERE trim(raw) <> '' AND TRY_CAST(trim(raw) AS DOUBLE) IS NOT NULL
    """,
)
def op_number_coerce(spark, sf_dir):
    """Numeric coercion with invalid-value drop (reference
    etl/transform.py:100-104 + blank-cell skip at :92-94): 'abc' and blank
    cells produce no event, valid strings parse."""
    e = t(spark, sf_dir, "events")
    raw = (
        F.when(F.col("event_id") % 4 == 0, F.format_string("%.2f", F.col("value")))
        .when(F.col("event_id") % 4 == 1, F.lit("  12.5  "))
        .when(F.col("event_id") % 4 == 2, F.lit("abc"))
        .otherwise(F.lit(""))
    )
    out = e.select("event_id", raw.alias("raw"), number_coerce_expr(raw).alias("value"))
    return out.filter((F.trim(F.col("raw")) != "") & F.col("value").isNotNull())


@query(
    "op_notes_concat",
    """
    WITH src AS (
      SELECT event_id,
             CASE WHEN user_id % 3 = 0 THEN NULL ELSE props END AS p,
             CASE WHEN user_id % 2 = 0 THEN NULL ELSE event_type END AS et
      FROM events
    )
    SELECT event_id,
           nullif(concat_ws(' | ',
                  CASE WHEN p IS NOT NULL AND trim(p) <> '' THEN 'Props: ' || p END,
                  CASE WHEN et IS NOT NULL AND trim(et) <> '' THEN 'Type: ' || et END), '') AS notes
    FROM src
    """,
)
def op_notes_concat(spark, sf_dir):
    """Labeled notes concat with all-empty => NULL (reference
    etl/transform.py:83-87)."""
    e = t(spark, sf_dir, "events")
    p = F.when(F.col("user_id") % 3 != 0, F.col("props"))
    et = F.when(F.col("user_id") % 2 != 0, F.col("event_type"))
    return e.select(
        "event_id",
        notes_concat_expr({"Props": p, "Type": et}).alias("notes"),
    )


@query(
    "op_email_normalize",
    "SELECT c_custkey, lower(trim('  ' || upper(c_name) || '  ')) AS user_email FROM customer",
)
def op_email_normalize(spark, sf_dir):
    """Identity normalization lower(trim(x)) (reference etl/transform.py:81)."""
    c = t(spark, sf_dir, "customer")
    noisy = F.concat(F.lit("  "), F.upper(F.col("c_name")), F.lit("  "))
    return c.select("c_custkey", email_normalize_expr(noisy).alias("user_email"))


@query(
    "fn_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def fn_json_extract(spark, sf_dir):
    """Typed extraction from the JSON payload column (reference keeps the
    raw row as jsonb, sql/001_schema.sql:10; events.props is the analog)."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
    )


# ---------------------------------------------------------------------------
# Sinks (reference etl/etl_habits.py:24-39, sql/001_schema.sql:7-23)
# ---------------------------------------------------------------------------


@query(
    "sink_raw_landing",
    f"""
    WITH dup AS (
      SELECT * FROM events
      UNION ALL
      SELECT * FROM events WHERE user_id % 5 = 0
    ),
    hashed AS (
      SELECT sha256(concat_ws(chr(31),
             coalesce(CAST(event_id AS VARCHAR), chr(0)),
             coalesce(strftime(ts, '{TS_FMT_DUCK}'), chr(0)),
             coalesce(CAST(user_id AS VARCHAR), chr(0)),
             coalesce(event_type, chr(0)),
             coalesce(printf('%.6f', value), chr(0)),
             coalesce(props, chr(0)))) AS row_hash
      FROM dup
    )
    SELECT count(*) AS n_input, count(DISTINCT row_hash) AS n_unique FROM hashed
    """,
)
def sink_raw_landing(spark, sf_dir):
    """Append-once content-hash landing (reference etl/etl_habits.py:25-30,
    'ON CONFLICT DO NOTHING'): re-ingesting rows is a no-op. A batch with
    20% duplicates collapses to the unique set.

    Scale: dropDuplicates on the hash is a shuffle on a uniformly
    distributed key — the best possible dedup key distribution."""
    e = t(spark, sf_dir, "events")
    dup = e.unionAll(e.filter(F.col("user_id") % 5 == 0))
    hashed = dup.select(
        canonical_hash_expr(
            F.col("event_id"),
            fmt_ts(F.col("ts")),
            F.col("user_id"),
            F.col("event_type"),
            F.format_string("%.6f", F.col("value")),
            F.col("props"),
        ).alias("row_hash")
    )
    return hashed.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.countDistinct("row_hash").alias("n_unique"),
    )


@query(
    "sink_upsert_events",
    f"""
    WITH incoming AS (
      SELECT user_id, event_type, ts, value * 2 AS value, CAST(NULL AS VARCHAR) AS notes
      FROM events WHERE user_id % 10 = 0
      UNION ALL
      SELECT user_id, event_type, ts + INTERVAL 40 DAYS, value, props
      FROM events WHERE user_id % 7 = 0
    ),
    existing AS (SELECT user_id, event_type, ts, value, props AS notes FROM events)
    SELECT coalesce(e.user_id, i.user_id) AS user_id,
           coalesce(e.event_type, i.event_type) AS event_type,
           strftime(coalesce(e.ts, i.ts), '{TS_FMT_DUCK}') AS ts_s,
           CASE WHEN i.user_id IS NOT NULL THEN i.value ELSE e.value END AS value,
           coalesce(i.notes, e.notes) AS notes
    FROM existing e
    FULL OUTER JOIN incoming i
      ON e.user_id = i.user_id AND e.event_type = i.event_type AND e.ts = i.ts
    """,
)
def sink_upsert_events(spark, sf_dir):
    """Keyed upsert with partial merge (reference etl/etl_habits.py:31-38):
    value = EXCLUDED.value (overwrite, even with NULL), notes =
    COALESCE(EXCLUDED.notes, old.notes). Incoming batch: value updates for
    user_id%10 keys (notes NULL => old notes survive) + brand-new keys
    shifted +40 days.

    Scale: implemented as a single shuffle-on-key grouped merge
    (sinks/upsert.py) — the Parquet-era equivalent of Delta MERGE."""
    e = t(spark, sf_dir, "events")
    existing = e.select("user_id", "event_type", "ts", "value", F.col("props").alias("notes"))
    updates = e.filter(F.col("user_id") % 10 == 0).select(
        "user_id",
        "event_type",
        "ts",
        (F.col("value") * 2).alias("value"),
        F.lit(None).cast("string").alias("notes"),
    )
    inserts = e.filter(F.col("user_id") % 7 == 0).select(
        "user_id",
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
        "value",
        F.col("props").alias("notes"),
    )
    merged = upsert_keyed(
        existing,
        updates.unionByName(inserts),
        keys=["user_id", "event_type", "ts"],
        set_cols=["value"],
        coalesce_cols=["notes"],
    )
    return merged.select(
        "user_id", "event_type", fmt_ts(F.col("ts")).alias("ts_s"), "value", "notes"
    )


@query(
    "fn_time_bucket_gapfill",
    f"""
    WITH c AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value
      FROM events WHERE event_type = 'click'
    ),
    agg AS (
      SELECT user_id, day, {sql_dsum('value')} AS sum_value
      FROM c GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM c GROUP BY 1),
    spine AS (
      SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                  CAST(d1 AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    )
    SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day_s,
           coalesce(a.sum_value, 0.0) AS sum_value,
           CAST(CASE WHEN a.sum_value IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
    FROM spine s LEFT JOIN agg a ON a.user_id = s.user_id AND a.day = s.day
    ORDER BY 1, 2
    """,
)
def fn_time_bucket_gapfill(spark, sf_dir):
    """Calendar densification — TimescaleDB's time_bucket_gapfill shape,
    the habit-tracker's 'which days did the user MISS' view that a plain
    GROUP BY cannot produce (absent days have no rows to group): per
    user, a continuous day spine from their first to last click day,
    left-joined to the daily sums, gaps filled with 0 and flagged.

    Scale: the spine comes from one sequence() explode over |users|
    rows — output is bounded by |users| x |calendar days|, which grows
    with time, not data volume; the join back is a shuffle on
    (user_id, day), the same key the rollup already aggregated on."""
    c = t(spark, sf_dir, "events").filter(F.col("event_type") == "click").select(
        "user_id", day_of(F.col("ts")).alias("day"), "value"
    )
    agg = c.groupBy("user_id", "day").agg(dsum("value").alias("sum_value"))
    span = c.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return (
        spine.join(agg, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
            F.when(F.col("sum_value").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        )
        .orderBy("user_id", "day_s")
    )
