"""Window-function surface (SURVEY §2.8): streaks (the reference's declared
motivation, README.md:5), ranking, and rolling analytics."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.operators.distrank import bounded_running_sum, with_group_position
from habits_etl_spark.plans.common import (
    day_of,
    dec,
    dsum,
    fmt_ts,
    managed_cache,
    query,
    sql_dsum,
    t,
)


@query(
    "win_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE event_type = 'click' AND value >= 1
    ),
    isl AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM days
    ),
    s AS (SELECT user_id, anchor, count(*) AS len FROM isl GROUP BY 1, 2)
    SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def win_streaks(spark, sf_dir):
    """Longest consecutive-day streak per user — gaps-and-islands
    (SURVEY §2.8 win_streaks, [D] from reference README.md:5 'streaks').

    The oracle keeps the classic form (day - row_number(day) is constant
    within a consecutive run; group on that anchor). The Spark plan (r14
    optimization, guide §2.4) computes the identical quantities from ONE
    aggregation: per user, collect the distinct click days (bounded by
    calendar days, not data volume — the same bound the old distinct
    relied on), sort the array, and fold it for run count + longest run.
    This removes two of the three exchanges (the old shape paid
    distinct-on-(user, day) -> window-on-user -> agg-on-(user, anchor));
    map-side partial collect_set dedups exactly where the old distinct's
    partial aggregate did, so shuffle bytes are unchanged."""
    e = t(spark, sf_dir, "events")
    per_user = (
        e.filter((F.col("event_type") == "click") & (F.col("value") >= 1))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set(day_of(F.col("ts")))).alias("ds"))
    )
    fold = F.expr(
        """
        aggregate(
          ds,
          named_struct('prev', CAST(NULL AS DATE), 'cur', 0L, 'best', 0L, 'n', 0L),
          (s, d) -> IF(s.prev IS NULL OR datediff(d, s.prev) > 1,
                       named_struct('prev', d, 'cur', 1L,
                                    'best', greatest(s.best, 1L), 'n', s.n + 1L),
                       named_struct('prev', d, 'cur', s.cur + 1L,
                                    'best', greatest(s.best, s.cur + 1L), 'n', s.n)),
          s -> named_struct('longest_streak', s.best, 'n_streaks', s.n))
        """
    )
    return (
        per_user.select("user_id", fold.alias("st"))
        .select(
            "user_id",
            F.col("st.longest_streak").alias("longest_streak"),
            F.col("st.n_streaks").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@query(
    "win_ranking",
    """
    SELECT user_id, event_id, value, rn FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ) WHERE rn <= 3
    """,
)
def win_ranking(spark, sf_dir):
    """Top-k per group via row_number (SURVEY §2.8 win_ranking [E] — also
    the internal building block of the upsert fallback). Scale: Spark
    pushes a per-partition rank filter below the final window when the
    predicate allows (WindowGroupLimit)."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_analytic",
    f"""
    WITH daily AS (
      SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_idx,
             {sql_dsum('value')} AS sum_value
      FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, day, sum_value,
           round(avg(sum_value) OVER (PARTITION BY user_id ORDER BY day_idx
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS avg_7d,
           round(sum_value - lag(sum_value) OVER (PARTITION BY user_id ORDER BY day_idx), 4) AS delta_prev
    FROM daily
    """,
)
def win_analytic(spark, sf_dir):
    """7-day rolling average + day-over-day delta per user (SURVEY §2.8
    win_analytic [E]): range frame over a day index so gaps count as
    missing days, plus lag. One shuffle on user_id serves both windows.
    The group key is (user_id, DATE) — the ISO string and the day index
    are both 1:1 functions of the date, derived after the aggregate
    (guide §2.3, narrower shuffle keys; identical groups and output)."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", day_of(F.col("ts")).alias("day_d"))
        .agg(dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            F.datediff("day_d", F.lit("2024-01-01").cast("date")).alias("day_idx"),
            "sum_value",
        )
    )
    w_range = (
        Window.partitionBy("user_id").orderBy("day_idx").rangeBetween(-6, 0)
    )
    w_lag = Window.partitionBy("user_id").orderBy("day_idx")
    return daily.select(
        "user_id",
        "day",
        "sum_value",
        F.round(F.avg("sum_value").over(w_range), 4).alias("avg_7d"),
        F.round(F.col("sum_value") - F.lag("sum_value").over(w_lag), 4).alias("delta_prev"),
    )


@query(
    "win_cumulative_uniques",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day_s, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM per_day ORDER BY day
    """,
)
def win_cumulative_uniques(spark, sf_dir):
    """Growth accounting: per day, how many users appear for the FIRST
    time and the running total of distinct users ever seen. A windowed
    COUNT(DISTINCT) is unsupported (and would be quadratic anyway); the
    standard rewrite — first-seen day per user, then a running sum of
    first-appearance counts — is exact and one-pass.

    Scale: shuffle #1 is the user-grain min (hash agg with map-side
    partials — the heavy reduction, corpus -> |users|); shuffle #2
    collapses to day grain (|days| rows). The final running sum runs on
    the tiny day-grain frame as a windowless triangular broadcast
    self-join (operators/distrank.py bounded_running_sum), legal here
    because |days| grows with time, not data volume."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(day_of(F.col("ts"))).alias("first_day"))
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    cum = bounded_running_sum(per_day, "day", {"new_users": "cum_users"})
    return (
        cum.select(
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            "new_users",
            "cum_users",
        )
        .orderBy("day_s")
    )


_ZS_MIN_N = 5  # history needed before a z-score is meaningful
_ZS_THRESHOLD = 3.0


@query(
    "win_zscore_anomaly",
    f"""
    WITH v AS (
      SELECT user_id, event_id, ts, value FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT user_id, event_id, ts, value,
             count(*) OVER w AS n_prev,
             CAST(sum(CAST(value AS DECIMAL(28,12))) OVER w AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(28,12))) OVER w AS DOUBLE) AS sxx
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT user_id, event_id, ts, value, n_prev,
             (value - sx / n_prev)
               / sqrt((sxx - sx * sx / n_prev) / (n_prev - 1)) AS z
      FROM s
      WHERE n_prev >= {_ZS_MIN_N} AND (sxx - sx * sx / n_prev) / (n_prev - 1) > 0
    )
    SELECT event_id, user_id, strftime(ts, '{{TS_FMT_DUCK}}') AS ts_s,
           value, round(z, 6) AS z, CAST(n_prev AS BIGINT) AS n_history
    FROM z WHERE abs(z) > {_ZS_THRESHOLD} ORDER BY event_id
    """.replace("{TS_FMT_DUCK}", "%Y-%m-%d %H:%M:%S.%f"),
)
def win_zscore_anomaly(spark, sf_dir):
    """Batch twin of the streaming z-score anomaly detector
    (streaming/anomaly.py): for every event, score its value against the
    user's PRIOR history — mean/std over the preceding frame — and keep
    rows beyond {_ZS_THRESHOLD} sigma with at least {_ZS_MIN_N} prior
    observations. The batch/stream pair mirrors funnel and retention:
    same semantics, window frame in batch, Welford state in streaming
    (tests/test_stream_anomaly.py asserts the two agree).

    Scale: one shuffle on user_id; the frame sums are incremental within
    each partition-local sort. Determinism: mean/variance come from
    DECIMAL exact frame sums (rule 1) so partial order can't move z; the
    remaining double arithmetic is the identical expression in both
    engines."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    s = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum(dec(F.col("value"), 28, 12)).over(w).cast("double").alias("sx"),
        F.sum(dec(F.col("value") * F.col("value"), 28, 12))
        .over(w)
        .cast("double")
        .alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_prev")) / (
        F.col("n_prev") - 1
    )
    z = (F.col("value") - F.col("sx") / F.col("n_prev")) / F.sqrt(var)
    return (
        s.filter((F.col("n_prev") >= _ZS_MIN_N) & (var > 0))
        .withColumn("__z_raw", z)
        # threshold on the UNROUNDED z exactly like the oracle's WHERE —
        # filtering on the rounded output would diverge for |z| within
        # half an ulp-of-6dp of the threshold
        .filter(F.abs(F.col("__z_raw")) > _ZS_THRESHOLD)
        .select(
            "event_id",
            "user_id",
            fmt_ts(F.col("ts")).alias("ts_s"),
            "value",
            F.round(F.col("__z_raw"), 6).alias("z"),
            F.col("n_prev").cast("bigint").alias("n_history"),
        )
        .orderBy("event_id")
    )


_EWMA_ALPHA = 0.3
_EWMA_K = 8  # truncated-FIR depth


def _ewma_chains(ref) -> tuple[str, str]:
    """Numerator/denominator SQL chains for the truncated EWMA: a fixed-
    coefficient FIR over the last K observations, weights renormalized
    over the lags that exist. Coefficients are compile-time constants and
    the chains are left-associative `+` in lag order — identical float
    arithmetic in both engines (the ext_char_entropy trick). ``ref(j)``
    supplies the SQL text for the j-th lag: the oracle inlines the
    window function, the Spark plan references a pre-projected lag
    column (r14 — Catalyst does not dedupe identical window
    expressions, so the inline form evaluated 24 _we slots for 8
    distinct lags; the arithmetic on the values is unchanged)."""
    num = " + ".join(
        f"(CASE WHEN {ref(j)} IS NOT NULL THEN "
        f"{_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j!r} * ({ref(j)}) "
        f"ELSE 0.0 END)"
        for j in range(_EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN {ref(j)} IS NOT NULL THEN "
        f"{_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j!r} ELSE 0.0 END)"
        for j in range(_EWMA_K)
    )
    return num, den


_EWMA_OVER = "OVER (PARTITION BY user_id ORDER BY day)"
_EWMA_NUM, _EWMA_DEN = _ewma_chains(
    lambda j: f"lag(sum_value, {j}) {_EWMA_OVER}"
)
# Spark-side chains over pre-projected lag columns l0..l{K-1}
_EWMA_NUM_COLS, _EWMA_DEN_COLS = _ewma_chains(lambda j: f"l{j}")


@query(
    "win_ewma_smooth",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day_s, sum_value,
           round(({_EWMA_NUM}) / ({_EWMA_DEN}), 6) AS ewma
    FROM daily ORDER BY user_id, day_s
    """,
)
def win_ewma_smooth(spark, sf_dir):
    """Exponentially-weighted trend line over the per-user daily series.
    True EWMA is a per-row recurrence (not closed-form SQL); the
    relational form is the TRUNCATED EWMA — alpha(1-alpha)^j weights
    over the last {_EWMA_K} observations, renormalized at series start —
    which converges to the recurrence for K >> 1/alpha.

    Scale: the daily rollup is the usual hash-agg; all {_EWMA_K} lag()
    reads share ONE user_id window sort; O(K) per row, constants folded
    at compile time. The identical generated chain runs in DuckDB, so
    the smoother is hash-verified despite being pure float."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    daily = e.groupBy("user_id", day_of(F.col("ts")).alias("day")).agg(
        dsum("value").alias("sum_value")
    )
    return (
        daily.selectExpr(
            "user_id",
            "day",
            "sum_value",
            *[
                f"lag(sum_value, {j}) {_EWMA_OVER} AS l{j}"
                for j in range(_EWMA_K)
            ],
        )
        .selectExpr(
            "user_id",
            "date_format(day, 'yyyy-MM-dd') AS day_s",
            "sum_value",
            f"round(({_EWMA_NUM_COLS}) / ({_EWMA_DEN_COLS}), 6) AS ewma",
        )
        .orderBy("user_id", "day_s")
    )


@query(
    "win_distribution_ranks",
    f"""
    WITH totals AS (
      SELECT event_type, user_id, {sql_dsum('value')} AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, total_value,
           CAST(ntile(10) OVER w AS BIGINT) AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM totals
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY total_value DESC, user_id)
    ORDER BY event_type, user_id
    """,
)
def win_distribution_ranks(spark, sf_dir):
    """The distribution-rank window family (SURVEY §2.8 completion):
    per event_type, each user's spend decile (ntile), percent_rank and
    cume_dist over the per-user value totals — the leaderboard /
    percentile-badge shapes win_ranking's plain row_number cannot
    express. The ORDER BY carries a user_id tiebreak, so rank peers are
    single rows and all three functions are engine-deterministic.

    Scale: one hash-agg reduces the fact to |users|x|types| rows — but
    event_type is a FEW-LARGE-GROUPS partition key (each type's window
    would hold every user of that type on one task), so the ranks come
    from with_group_position's two-pass range decomposition: one
    (bucket, type) boundary collect, then per-bucket sorts parallel
    across all types' ranges. ntile/percent_rank/cume_dist all derive
    arithmetically from (rn, group_count) — with the unique user_id
    tiebreak there are no rank peers, so percent_rank = (rn-1)/(n-1)
    and cume_dist = rn/n exactly. DESC spend is expressed by negating
    the (non-null) total, per the helper's ASC-keys rule.

    r9 selection audit: unlike the tile-only plans (agg_equidepth_hist,
    the per-language tercile cuts), this output is PER-ROW — pct_rank
    and cume need every row's exact rank, not just n-1 boundary keys —
    so boundary SELECTION cannot replace the per-bucket window here;
    with_group_position's range decomposition (parallel across bucket
    ranges, no per-type single-task sort) is already the right
    scale shape for a per-row rank."""
    ev = t(spark, sf_dir, "events")
    totals = managed_cache(
        ev.groupBy("event_type", "user_id").agg(
            dsum("value").alias("total_value")
        ),
        "win_distribution_ranks/totals",
    )
    pos = with_group_position(
        totals,
        ["event_type"],
        [(-F.col("total_value")).alias("neg_total"), F.col("user_id")],
        rn_out="rn",
        cnt_out="n",
    )
    n, rn = F.col("n"), F.col("rn")
    q, rem = F.floor(n / 10), n % 10
    head = (q + 1) * rem
    tile = F.when(rn <= head, F.floor((rn - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((rn - 1 - head) / F.greatest(q, F.lit(1))) + 1
    )
    return pos.select(
        "event_type",
        "user_id",
        "total_value",
        tile.cast("bigint").alias("decile"),
        F.round(
            F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
        F.round(rn / n, 6).alias("cume"),
    ).orderBy("event_type", "user_id")
