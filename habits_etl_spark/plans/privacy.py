"""Analytics operators, wave 17: privacy-risk auditing and
order-statistics shapes — k-anonymity and l-diversity audits over
quasi-identifiers, differentially-private counts with deterministic
(seeded-by-hash) Laplace noise, the weighted median, and the 2-D
skyline (Pareto front) operator.

A release pipeline runs the k-anonymity/l-diversity audits BEFORE
publishing any user-grain extract (ext_pii_scrub removes direct
identifiers; these measure re-identification risk from the quasi-
identifiers that remain), and publishes aggregate counts through the
DP mechanism. Weighted median and skyline are classic order-statistic
operators most SQL engines make you hand-roll — included here as
first-class registry entries.

Reference parity: the reference has no privacy surface; these extend
it per the BASELINE north-star list, like plans/ext_pipeline.py.

Cross-engine determinism: the Laplace noise is NOT random — it is an
inverse-CDF transform of a salted-md5 uniform (the ext_hash_split
idiom), so both engines draw the identical "noise" and the query
stays hash-checkable while exercising the real DP shape. All
aggregates follow plans/common.py rule 1 (decimal exact sums).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import md5_int
from habits_etl_spark.plans.common import dec, query, t

# --- k-anonymity audit -------------------------------------------------------

_KANON_K = 5  # classes smaller than this are re-identification risks


@query(
    "ext_k_anonymity_audit",
    f"""
    WITH qi AS (
      SELECT c_nationkey AS nation,
             c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      FROM customer
    ),
    cls AS (
      SELECT nation, segment, bal_band, CAST(count(*) AS BIGINT) AS k
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(CASE WHEN k < {_KANON_K} THEN k ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           round(CAST(sum(CASE WHEN k < {_KANON_K} THEN k ELSE 0 END) AS DOUBLE)
                 / sum(k), 6) AS at_risk_share,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS unique_rows
    FROM cls
    """,
)
def ext_k_anonymity_audit(spark, sf_dir):
    """K-anonymity audit of the customer table under the quasi-
    identifier (nation, market segment, $1000 balance band): class
    count, the worst class size (min k), and how many rows sit in
    classes below k={_KANON_K} — the rows an attacker with public QI
    knowledge could narrow to a handful of candidates. unique_rows
    (k=1) are outright re-identifiable. The go/no-go gate before any
    user-grain data release.

    Scale: one hash-agg over the QI tuple (map-side partials), one
    broadcast-sized reduce over the class table. Pure integer
    arithmetic plus a single exact-ratio double."""
    c = t(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    )
    cls = qi.groupBy("nation", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    risk = F.when(F.col("k") < _KANON_K, F.col("k")).otherwise(0)
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum(risk).cast("bigint").alias("rows_at_risk"),
        F.round(F.sum(risk).cast("double") / F.sum("k"), 6).alias(
            "at_risk_share"
        ),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("unique_rows"),
    )


# --- l-diversity audit -------------------------------------------------------

_LDIV_L = 2


@query(
    "ext_l_diversity_audit",
    f"""
    WITH cls AS (
      SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
             CAST(count(*) AS BIGINT) AS k,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(count(*) FILTER (WHERE l < {_LDIV_L}) AS BIGINT)
             AS homogeneous_classes,
           CAST(sum(CASE WHEN l < {_LDIV_L} THEN k ELSE 0 END) AS BIGINT)
             AS rows_in_homogeneous,
           round(CAST(sum(CASE WHEN l < {_LDIV_L} THEN k ELSE 0 END) AS DOUBLE)
                 / sum(k), 6) AS homogeneous_share
    FROM cls
    """,
)
def ext_l_diversity_audit(spark, sf_dir):
    """L-diversity audit: within each quasi-identifier class (nation,
    $2000 balance band), how many DISTINCT values of the sensitive
    attribute (market segment) appear. A class can be k-anonymous yet
    leak everything — if all its members share one segment, knowing
    someone is in the class reveals their segment (the homogeneity
    attack k-anonymity misses). Classes with l < {_LDIV_L} are exactly
    those leaks.

    Scale: one hash-agg over the QI tuple computing size and a
    bounded distinct-count together, then a broadcast-sized reduce.
    The distinct is over the sensitive vocabulary (|segments|), so
    per-group state is bounded."""
    c = t(spark, sf_dir, "customer")
    cls = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000.0).cast("bigint").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l"),
    )
    homog_rows = F.when(F.col("l") < _LDIV_L, F.col("k")).otherwise(0)
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l").cast("bigint").alias("min_l"),
        F.count(F.when(F.col("l") < _LDIV_L, 1)).cast("bigint").alias(
            "homogeneous_classes"
        ),
        F.sum(homog_rows).cast("bigint").alias("rows_in_homogeneous"),
        F.round(F.sum(homog_rows).cast("double") / F.sum("k"), 6).alias(
            "homogeneous_share"
        ),
    )


# --- differentially-private counts -------------------------------------------

_DP_EPSILON = 1.0  # per-count budget; sensitivity 1 -> Laplace scale 1/eps
_DP_SALT = "dp:"


@query(
    "ext_dp_noisy_counts",
    f"""
    WITH cnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY 1
    ),
    u AS (
      SELECT event_type, true_n,
             (CAST(('0x' || substr(md5('{_DP_SALT}' || event_type), 1, 12))
                   AS BIGINT) + 0.5) / 281474976710656.0 AS unif
      FROM cnt
    )
    SELECT event_type,
           round(true_n + (-1.0 / {_DP_EPSILON})
                 * CASE WHEN unif < 0.5 THEN -ln(2.0 * unif)
                        ELSE ln(2.0 * (1.0 - unif)) END, 6) AS noisy_n,
           round((-1.0 / {_DP_EPSILON})
                 * CASE WHEN unif < 0.5 THEN -ln(2.0 * unif)
                        ELSE ln(2.0 * (1.0 - unif)) END, 6) AS noise
    FROM u ORDER BY event_type
    """,
)
def ext_dp_noisy_counts(spark, sf_dir):
    """Differentially-private release of per-type event counts: the
    Laplace mechanism with sensitivity 1 and ε={_DP_EPSILON} (scale
    1/ε), publishing noisy_n instead of the true histogram. The noise
    is drawn by inverse-CDF from a salted-md5 uniform keyed on the
    group — deterministic, so the query is hash-checkable across
    engines AND reproducible across reruns (a real pipeline would key
    the salt per release epoch; per-release determinism is a feature —
    re-running a release must not spend extra privacy budget).
    true_n is intentionally NOT in the output schema.

    Scale: one corpus hash-agg; the mechanism itself is a pure map
    over |types| rows. The uniform and its log transform are identical
    literal double expressions in both engines (ext_hash_split md5
    idiom, 48-bit prefix)."""
    ev = t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    unif = (
        md5_int(_DP_SALT, F.col("event_type"), hex_digits=12) + 0.5
    ) / 281474976710656.0
    lap = (-1.0 / _DP_EPSILON) * F.when(
        F.col("unif") < 0.5, -F.log(2.0 * F.col("unif"))
    ).otherwise(F.log(2.0 * (1.0 - F.col("unif"))))
    return (
        cnt.withColumn("unif", unif)
        .select(
            "event_type",
            F.round(F.col("true_n") + lap, 6).alias("noisy_n"),
            F.round(lap, 6).alias("noise"),
        )
        .orderBy("event_type")
    )


# --- weighted median ---------------------------------------------------------


@query(
    "agg_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS x,
             CAST(l_quantity AS DECIMAL(18,6)) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    cum AS (
      SELECT flag, x, wt,
             sum(wt) OVER (PARTITION BY flag ORDER BY x, l_orderkey, l_linenumber
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY flag) AS tw
      FROM w
    ),
    hit AS (
      SELECT flag, x, cw, tw,
             row_number() OVER (PARTITION BY flag ORDER BY cw, x) AS rn
      FROM cum WHERE cw >= tw / 2
    )
    SELECT flag,
           round(x, 6) AS weighted_median_price,
           round(CAST(tw AS DOUBLE), 4) AS total_weight
    FROM hit WHERE rn = 1 ORDER BY flag
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Weighted median of line-item price per return flag, weighted by
    quantity: the smallest price whose cumulative quantity reaches half
    the total. The order statistic price indices and fair-value
    summaries actually need (an unweighted median over line items
    overweights small orders), and one SQL engines make you hand-roll
    — here it is a registry operator.

    Scale: ONE shuffle on the group key serves both the cumulative-
    weight running sum and the group total (same partitioning, two
    frames); the threshold pick is a row_number over the qualifying
    suffix. Cumulative weights are DECIMAL exact prefix sums, so the
    crossing row is engine-identical by construction — no double
    accumulation order to diverge. Total order carries the
    (price, orderkey, linenumber) tie-break (common.py rule 4)."""
    li = t(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        dec("l_quantity").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    w_run = (
        Window.partitionBy("flag")
        .orderBy("x", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("flag")
    cum = w.select(
        "flag",
        "x",
        F.sum("wt").over(w_run).alias("cw"),
        F.sum("wt").over(w_all).alias("tw"),
    )
    hit = cum.filter(F.col("cw") >= F.col("tw") / 2)
    w_pick = Window.partitionBy("flag").orderBy("cw", "x")
    return (
        hit.select(
            "flag", "x", "tw", F.row_number().over(w_pick).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(
            "flag",
            F.round(F.col("x").cast("double"), 6).alias(
                "weighted_median_price"
            ),
            F.round(F.col("tw").cast("double"), 4).alias("total_weight"),
        )
        .orderBy("flag")
    )


# --- 2-D skyline (Pareto front) ----------------------------------------------


@query(
    "ext_skyline_2d",
    """
    WITH pts AS (
      SELECT c_mktsegment AS segment, o_orderkey, o_totalprice,
             CAST(date_trunc('day', o_orderdate) AS DATE) AS oday
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    scan AS (
      SELECT segment, o_orderkey, o_totalprice, oday,
             max(oday) OVER (PARTITION BY segment
                             ORDER BY o_totalprice DESC, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_day_above
      FROM pts
    )
    SELECT segment, o_orderkey,
           round(o_totalprice, 6) AS o_totalprice,
           strftime(oday, '%Y-%m-%d') AS order_day
    FROM scan
    WHERE best_day_above IS NULL OR oday > best_day_above
    ORDER BY segment, o_totalprice DESC
    """,
)
def ext_skyline_2d(spark, sf_dir):
    """2-D skyline (Pareto front) per market segment: the orders not
    dominated in BOTH price and recency — i.e. no other order in the
    segment is simultaneously more expensive and at least as recent.
    The multi-criteria shortlist operator ("show me the frontier, not
    a weighted blend") that SQL engines lack natively.

    Scale: the classic sort-scan skyline — one window per segment
    ordered by price descending keeps a running max of the other
    dimension; a point survives iff it beats every higher-priced
    point's recency. O(n log n) in ONE shuffle, no self-join (the
    naive NOT EXISTS anti-join is quadratic). Ties on price are
    resolved by orderkey so 'strictly above' is well-defined and
    engine-identical; day grain keeps the dominated test exact."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pts = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        "o_totalprice",
        F.date_trunc("DAY", "o_orderdate").cast("date").alias("oday"),
    )
    w_scan = (
        Window.partitionBy("segment")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scan = pts.select(
        "segment",
        "o_orderkey",
        "o_totalprice",
        "oday",
        F.max("oday").over(w_scan).alias("best_day_above"),
    )
    return (
        scan.filter(
            F.col("best_day_above").isNull()
            | (F.col("oday") > F.col("best_day_above"))
        )
        .select(
            "segment",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 6).alias(
                "o_totalprice"
            ),
            F.date_format("oday", "yyyy-MM-dd").alias("order_day"),
        )
        .orderBy("segment", F.col("o_totalprice").desc())
    )
