"""Product-analytics query family: cohort retention and ordered funnels.

The reference's Grafana panels (README.md:96-143) are single-table rollups;
retention and funnel analysis are the next two shapes every event-analytics
engine is asked for (and classic benchmarks for them — e.g. ClickHouse's
retention()/windowFunnel() aggregate combinators). Expressed here as plain
DataFrame aggregations so Catalyst keeps the whole plan in codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.plans.common import day_str, query, t
from habits_etl_spark.streaming.funnel import FUNNEL, FUNNEL_STEP_US

# --- cohort retention --------------------------------------------------------


@query(
    "win_retention_cohort",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1
    ),
    j AS (
      SELECT a.user_id, c.cohort_day, datediff('day', c.cohort_day, a.day) AS off
      FROM act a JOIN cohort c USING (user_id)
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS BIGINT) AS d1_retained,
           CAST(count(DISTINCT CASE WHEN off = 7 THEN user_id END) AS BIGINT) AS d7_retained,
           round(CAST(count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS DOUBLE)
                 / count(DISTINCT user_id), 4) AS d1_rate,
           round(CAST(count(DISTINCT CASE WHEN off = 7 THEN user_id END) AS DOUBLE)
                 / count(DISTINCT user_id), 4) AS d7_rate
    FROM j GROUP BY cohort_day ORDER BY cohort_day
    """,
)
def win_retention_cohort(spark, sf_dir):
    """D1/D7 cohort retention: users are cohorted by their first active
    day; each cohort reports how many members were active again exactly
    1 and 7 days later.

    Scale: the event stream collapses to DISTINCT (user, day) FIRST —
    partial-aggregated map-side, so the shuffle carries at most
    users x active-days rows, not events. Cohorting is a user_id
    hash-agg; the activity-to-cohort join is user_id-keyed (both sides
    already clustered by user_id from the previous exchanges — AQE
    reuses the partitioning); the final cohort_day agg is tiny. No
    windows, no event-grain shuffle anywhere."""
    e = t(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    off = F.datediff(F.col("day"), F.col("cohort_day"))
    j = act.join(cohort, "user_id").select("user_id", "cohort_day", off.alias("off"))

    def _ret(k: int):
        return F.count_distinct(F.when(F.col("off") == k, F.col("user_id")))

    n_users = F.count_distinct("user_id")
    return (
        j.groupBy(day_str(F.col("cohort_day").cast("timestamp")).alias("cohort_day"))
        .agg(
            n_users.cast("bigint").alias("n_users"),
            _ret(1).cast("bigint").alias("d1_retained"),
            _ret(7).cast("bigint").alias("d7_retained"),
            F.round(_ret(1).cast("double") / n_users, 4).alias("d1_rate"),
            F.round(_ret(7).cast("double") / n_users, 4).alias("d7_rate"),
        )
        .orderBy("cohort_day")
    )


# --- ordered funnel ----------------------------------------------------------


@query(
    "ext_event_funnel",
    f"""
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t FROM events
      WHERE event_type = '{FUNNEL[0]}' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{FUNNEL[1]}' AND epoch_us(e.ts) > s1.t
        AND epoch_us(e.ts) <= s1.t + {FUNNEL_STEP_US} GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{FUNNEL[2]}' AND epoch_us(e.ts) > s2.t
        AND epoch_us(e.ts) <= s2.t + {FUNNEL_STEP_US} GROUP BY 1
    ),
    counts AS (
      SELECT 1 AS stage_ord, '{FUNNEL[0]}' AS stage, count(*) AS n_users FROM s1
      UNION ALL
      SELECT 2, '{FUNNEL[1]}', count(*) FROM s2
      UNION ALL
      SELECT 3, '{FUNNEL[2]}', count(*) FROM s3
    )
    SELECT stage_ord, stage, CAST(n_users AS BIGINT) AS n_users,
           round(CAST(n_users AS DOUBLE)
                 / max(CASE WHEN stage_ord = 1 THEN n_users END) OVER (), 4)
             AS pct_of_cohort
    FROM counts ORDER BY stage_ord
    """,
)
def ext_event_funnel(spark, sf_dir):
    """Strictly-ordered conversion funnel {FUNNEL}: a user converts at
    stage k+1 only with an event AFTER their stage-k conversion instant
    and within FUNNEL_STEP_US (12 h) of it — first-touch semantics at
    each stage, ClickHouse windowFunnel's 'strict_order' analog with a
    per-step window bound. Emits per stage the
    converted-user count and its share of the stage-1 cohort.

    Scale: each stage is a filtered user_id hash-agg over the events
    scan (event-type filters pushed to parquet), joined user_id-keyed to
    the previous stage's (user, instant) set — which only SHRINKS stage
    over stage, and AQE broadcasts it once it is small enough. Instants
    compare in integer microseconds (unix_micros/epoch_us) so both
    engines order identically. The 3-row result assembles driver-side
    cheaply via union + a 1-partition window."""
    return funnel_over(t(spark, sf_dir, "events"))


def funnel_stages(e, stages=FUNNEL, step_us: int = FUNNEL_STEP_US):
    """Per-stage (user_id, conversion-instant-μs) frames for an events-like
    DataFrame (user_id, ts, event_type). Factored out so property tests can
    drive it on generated inputs (tests/test_analytics_property.py)."""

    def stage_after(prev, ev_type):
        return (
            e.filter(F.col("event_type") == ev_type)
            .select("user_id", F.unix_micros("ts").alias("et"))
            .join(prev, "user_id")
            .filter(
                (F.col("et") > F.col("t"))
                & (F.col("et") <= F.col("t") + F.lit(step_us))
            )
            .groupBy("user_id")
            .agg(F.min("et").alias("t"))
        )

    out = [
        e.filter(F.col("event_type") == stages[0])
        .select("user_id", F.unix_micros("ts").alias("et"))
        .groupBy("user_id")
        .agg(F.min("et").alias("t"))
    ]
    for s in stages[1:]:
        out.append(stage_after(out[-1], s))
    return out


def funnel_over(e, stages=FUNNEL, step_us: int = FUNNEL_STEP_US):
    """The 3-row funnel result over an events-like DataFrame."""
    frames = funnel_stages(e, stages, step_us)
    counts = None
    for i, (name, df) in enumerate(zip(stages, frames), start=1):
        row = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage_ord"), F.lit(name).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    # Stage-1 cohort size rides in as a broadcast 1-row scalar (the
    # join_cross_scalar_cte pattern) rather than an empty-partition
    # window — same value, no "No Partition Defined" WindowExec (which
    # fired once per task and drowned the bench tail in warnings).
    first = frames[0].agg(F.count(F.lit(1)).cast("double").alias("__first_n"))
    return (
        counts.crossJoin(F.broadcast(first))
        .select(
            "stage_ord",
            "stage",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.round(
                F.col("n_users").cast("double") / F.col("__first_n"), 4
            ).alias("pct_of_cohort"),
        )
        .orderBy("stage_ord")
    )


@query(
    "agg_retention_matrix",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ),
    cohort AS (SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohort GROUP BY 1
    ),
    cells AS (
      SELECT c.cohort_week,
             CAST(datediff('week', c.cohort_week, a.week) AS BIGINT) AS week_offset,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM act a JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    )
    SELECT strftime(s.cohort_week, '%Y-%m-%d') AS cohort_week_s,
           s.cohort_size, x.week_offset, x.n_active,
           round(CAST(x.n_active AS DOUBLE) / s.cohort_size, 4) AS retention_pct
    FROM cells x JOIN sizes s USING (cohort_week)
    ORDER BY cohort_week_s, week_offset
    """,
)
def agg_retention_matrix(spark, sf_dir):
    """The full triangular cohort-retention matrix (weekly cohorts x
    weekly offsets, long form) — the generalization of
    win_retention_cohort's fixed D1/D7 columns, and the table behind
    every retention heat map. Offset 0 is the cohort itself, so
    retention_pct is 1.0 on the diagonal and the matrix is triangular
    by construction.

    Scale: activity dedups to (user, week) first — the heavy reduction;
    the cohort join carries one small column and the cell aggregate is
    |cohorts| x |offsets| rows. Both aggregates share the user_id
    partitioning until the final tiny rollup."""
    e = t(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("WEEK", F.col("ts")).cast("date").alias("week")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("week", "cohort_week") / 7).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week_s"),
            "cohort_size",
            "week_offset",
            "n_active",
            F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 4).alias(
                "retention_pct"
            ),
        )
        .orderBy("cohort_week_s", "week_offset")
    )
