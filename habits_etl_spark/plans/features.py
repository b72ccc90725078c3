"""ML feature-engineering operators, wave 14: the tabular
feature-preparation layer a training pipeline runs between the raw
warehouse and the model — RFM behavioral features, smoothed target
encoding, quantile binning, per-group scaling, the feature-hashing
trick, and a time-based split with an embargo gap plus its leakage
audit.

Reference parity: the reference has no feature surface; these extend it
per the BASELINE north-star list, like plans/ext_pipeline.py.

Cross-engine float rule: every aggregated measure uses decimal exact
sums (plans/common.py rule 1); derived means/variances push the decimal
sums through the SAME literal double expression in both engines; hash
buckets use the engine-portable md5 hex-prefix idiom
(ext_curation5.ext_hash_split).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import md5_int
from habits_etl_spark.operators.approx_rank import with_approx_ntile
from habits_etl_spark.operators.distrank import with_global_ntile_by_selection
from habits_etl_spark.plans.common import dec, managed_cache, query, t

# --- RFM features ------------------------------------------------------------

_RFM_NTILES = 5


@query(
    "ext_rfm_features",
    f"""
    WITH p AS (
      SELECT user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    anchor AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS d_max FROM p),
    rfm AS (
      SELECT user_id,
             CAST(d_max - CAST(date_trunc('day', max(ts)) AS DATE) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS monetary
      FROM p CROSS JOIN anchor GROUP BY user_id, d_max
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(ntile({_RFM_NTILES}) OVER (ORDER BY recency_days DESC, user_id)
                AS INTEGER) AS r_score,
           CAST(ntile({_RFM_NTILES}) OVER (ORDER BY frequency, user_id)
                AS INTEGER) AS f_score,
           CAST(ntile({_RFM_NTILES}) OVER (ORDER BY monetary, user_id)
                AS INTEGER) AS m_score
    FROM rfm ORDER BY user_id
    """,
)
def ext_rfm_features(spark, sf_dir):
    """Recency/Frequency/Monetary features per user over purchase
    events, each quintile-scored 1-5 (5 = best: most recent, most
    frequent, highest spend). The classic behavioral feature block for
    churn/LTV models, and the first thing a CRM segmentation asks for.

    Scale: one hash-agg shrinks events to |users| rows BEFORE any
    ranking; each quintile is an exact SELECTION ntile
    (operators/distrank.py with_global_ntile_by_selection: the 4
    boundary keys are picked exactly by the two-pass order-statistics
    probe, then every row's score is a map-side comparison against the
    pinned literals — no per-row window, no join-back, no single-task
    sort even at 10⁸ users), computed per dimension off the cached
    user table. The approx-percentile-cutoff twin
    (ext_rfm_features_approx) trades boundary-tie exactness for one
    pass and has the identical per-row shape. Every ntile order
    carries a user_id tie-break (common.py rule 4), so scores are
    deterministic; DESC recency is expressed as the negated ASC key
    (distrank's asc-only contract)."""
    rfm = managed_cache(_rfm_base(spark, sf_dir), "ext_rfm_features/rfm")
    scores = {
        "r_score": [-F.col("recency_days"), F.col("user_id")],
        "f_score": [F.col("frequency"), F.col("user_id")],
        "m_score": [F.col("monetary"), F.col("user_id")],
    }
    out = rfm
    for name, order in scores.items():
        out = with_global_ntile_by_selection(out, order, _RFM_NTILES, name)
        out = out.withColumn(name, F.col(name).cast("int"))
    return out.select(
        "user_id", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    ).orderBy("user_id")


def _rfm_base(spark, sf_dir):
    """The |users|-row RFM table both the exact and approx scorers rank."""
    p = t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    anchor = p.agg(
        F.date_trunc("DAY", F.max("ts")).cast("date").alias("d_max")
    )
    return (
        p.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "d_max")
        .agg(
            F.max(F.date_trunc("DAY", "ts").cast("date")).alias("d_last"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(F.sum(dec("value")).cast("double"), 4).alias("monetary"),
        )
        .select(
            "user_id",
            F.datediff("d_max", "d_last").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )


@query("ext_rfm_features_approx")  # rows-only: GK sketch has no SQL twin
def ext_rfm_features_approx(spark, sf_dir):
    """One-pass approximate twin of ext_rfm_features: quintile cut
    points from percentile_approx (Greenwald–Khanna sketch, bounded
    memory, mergeable partials) broadcast into a map-side comparison
    chain (operators/approx_rank.py) — the plan that needs NO ranking
    shuffle at all, only the sketch's partial-aggregate merge. Scores
    match the exact ntile up to boundary ties (integer recency/
    frequency runs land wholly in one bucket instead of being split to
    equalize counts); tests/test_rank_twins.py pins the agreement at
    sf0.1. Rows-only by design: DuckDB has no GK sketch to mirror."""
    rfm = managed_cache(
        _rfm_base(spark, sf_dir), "ext_rfm_features_approx/rfm"
    )
    out = rfm
    for name, val in [
        ("r_score", -F.col("recency_days")),
        ("f_score", F.col("frequency")),
        ("m_score", F.col("monetary")),
    ]:
        out = with_approx_ntile(out, val, _RFM_NTILES, name)
        out = out.withColumn(name, F.col(name).cast("int"))
    return out.select(
        "user_id", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    ).orderBy("user_id")


# --- smoothed target encoding ------------------------------------------------

_TE_SMOOTH = 50  # prior weight (pseudo-observations of the global mean)


@query(
    "ext_target_encode",
    f"""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS y
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ),
    seg AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(y AS DECIMAL(18,6))) AS sy
      FROM j GROUP BY 1
    ),
    g AS (
      SELECT CAST(sum(sy) AS DOUBLE) / sum(n) AS g_mean FROM seg
    )
    SELECT segment, n,
           round(CAST(sy AS DOUBLE) / n, 6) AS seg_mean,
           round((CAST(sy AS DOUBLE) + {_TE_SMOOTH}.0 * g_mean)
                 / (n + {_TE_SMOOTH}), 6) AS encoded
    FROM seg CROSS JOIN g ORDER BY segment
    """,
)
def ext_target_encode(spark, sf_dir):
    """Smoothed target encoding of customer market segment against
    order value: encoded = (sum_y + m·global_mean) / (n + m) with
    m={_TE_SMOOTH} pseudo-observations. The leakage-safe way to feed a
    high-cardinality categorical to a model — rare categories shrink
    toward the global mean instead of memorizing their few labels.

    Scale: the fact-dim join shuffles on custkey once (or broadcasts
    the dim); the encoding table is |categories| rows — computed in one
    hash-agg with map-side partials, then applied downstream as a
    broadcast map join. Means are decimal exact sums pushed through
    identical double division in both engines."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    o = t(spark, sf_dir, "orders").select("o_custkey", F.col("o_totalprice").alias("y"))
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(dec("y")).alias("sy"),
        )
    )
    g = seg.agg(
        (F.sum("sy").cast("double") / F.sum("n")).alias("g_mean")
    )
    return (
        seg.crossJoin(F.broadcast(g))
        .select(
            "segment",
            "n",
            F.round(F.col("sy").cast("double") / F.col("n"), 6).alias("seg_mean"),
            F.round(
                (F.col("sy").cast("double") + float(_TE_SMOOTH) * F.col("g_mean"))
                / (F.col("n") + _TE_SMOOTH),
                6,
            ).alias("encoded"),
        )
        .orderBy("segment")
    )


# --- quantile binning --------------------------------------------------------

_QB_BINS = 10


@query(
    "ext_quantile_bin",
    f"""
    WITH b AS (
      SELECT o_totalprice AS y,
             CAST(ntile({_QB_BINS}) OVER (ORDER BY o_totalprice, o_orderkey)
                  AS INTEGER) AS bin
      FROM orders
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(CAST(min(CAST(y AS DECIMAL(18,6))) AS DOUBLE), 6) AS lo,
           round(CAST(max(CAST(y AS DECIMAL(18,6))) AS DOUBLE), 6) AS hi,
           round(CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS bin_mean
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def ext_quantile_bin(spark, sf_dir):
    """Equal-frequency (decile) binning of order value: each order is
    ntile'd into {_QB_BINS} bins over the (value, key) total order, then
    the bin summary (count, bounds, mean) is emitted — the discretizer
    table a feature pipeline persists so serving can bucket new values
    by the same boundaries.

    Scale: the decile split is an exact SELECTION ntile
    (operators/distrank.py with_global_ntile_by_selection — the 9
    boundary keys come from the two-pass order-statistics probe, which
    sorts only the buckets holding a boundary; every order is then
    binned map-side against the pinned literals, so no per-row window
    or rank shuffle exists anywhere; no single-task sort). The one-pass
    approximate path remains the equi-depth histogram
    (agg_equidepth_hist) whose approx-percentile boundaries broadcast
    into a map-side width_bucket — this query is its exact twin and
    doubles as that query's precision reference (see
    tests/test_rank_twins.py). Deterministic under value ties via the
    o_orderkey tie-break."""
    o = t(spark, sf_dir, "orders")
    b = with_global_ntile_by_selection(
        o.select(F.col("o_totalprice").alias("y"), "o_orderkey"),
        [F.col("y"), F.col("o_orderkey")],
        _QB_BINS,
        "bin",
    ).select("y", F.col("bin").cast("int").alias("bin"))
    return _bin_summary(b)


def _bin_summary(b):
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min(dec("y")).cast("double"), 6).alias("lo"),
            F.round(F.max(dec("y")).cast("double"), 6).alias("hi"),
            F.round(F.sum(dec("y")).cast("double") / F.count(F.lit(1)), 6).alias(
                "bin_mean"
            ),
        )
        .orderBy("bin")
    )


@query("ext_quantile_bin_approx")  # rows-only: GK sketch has no SQL twin
def ext_quantile_bin_approx(spark, sf_dir):
    """One-pass approximate twin of ext_quantile_bin: decile cut points
    from percentile_approx broadcast into a map-side comparison chain
    (operators/approx_rank.py — no ranking shuffle), then the same bin
    summary. THE discretizer plan at 100 TB: the sketch's rank error is
    bounded by n/accuracy and tests/test_rank_twins.py pins per-bin
    count agreement against the exact twin at sf0.1. Rows-only by
    design: DuckDB has no GK sketch to mirror."""
    o = t(spark, sf_dir, "orders")
    b = with_approx_ntile(
        o.select(F.col("o_totalprice").alias("y")), "y", _QB_BINS, "bin"
    ).select("y", F.col("bin").cast("int").alias("bin"))
    return _bin_summary(b)


# --- per-group feature scaling ----------------------------------------------


@query(
    "ext_feature_scale",
    """
    WITH st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS sx,
             sum(CAST(value * value AS DECIMAL(28,12))) AS sxx,
             min(CAST(value AS DECIMAL(18,6))) AS v_min,
             max(CAST(value AS DECIMAL(18,6))) AS v_max
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mv AS (
      SELECT event_type, n,
             CAST(v_min AS DOUBLE) AS v_min, CAST(v_max AS DOUBLE) AS v_max,
             CAST(sx AS DOUBLE) / n AS m,
             CAST(sxx AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var
      FROM st
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN mv.v_max > mv.v_min
                THEN round((e.value - mv.v_min) / (mv.v_max - mv.v_min), 6)
                ELSE 0.0 END AS v_minmax,
           CASE WHEN mv.var > 0.0
                THEN round((e.value - mv.m) / sqrt(mv.var), 6)
                ELSE 0.0 END AS v_zscore
    FROM events e JOIN mv ON e.event_type = mv.event_type
    WHERE e.value IS NOT NULL
    ORDER BY e.event_id
    """,
)
def ext_feature_scale(spark, sf_dir):
    """Per-group feature scaling of event value: min-max to [0,1] and
    population z-score, normalized within each event_type (the
    per-segment scaler a model pipeline fits on train and applies
    everywhere). Degenerate groups (constant value / single row) emit
    0.0 explicitly rather than NaN.

    Scale: the stats pass is one hash-agg to |types| rows, broadcast
    back into a pure map stage over the corpus — the fit/transform
    split of a distributed StandardScaler. Mean and variance derive
    from decimal exact sums through the SAME double expressions in both
    engines; outputs round at emission."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("value")).alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,12)")).alias("sxx"),
        F.min(dec("value")).alias("v_min_d"),
        F.max(dec("value")).alias("v_max_d"),
    )
    m = F.col("sx").cast("double") / F.col("n")
    mv = st.select(
        "event_type",
        F.col("v_min_d").cast("double").alias("v_min"),
        F.col("v_max_d").cast("double").alias("v_max"),
        m.alias("m"),
        (F.col("sxx").cast("double") / F.col("n") - m * m).alias("var"),
    )
    minmax = F.when(
        F.col("v_max") > F.col("v_min"),
        F.round((F.col("value") - F.col("v_min")) / (F.col("v_max") - F.col("v_min")), 6),
    ).otherwise(F.lit(0.0))
    z = F.when(
        F.col("var") > 0.0,
        F.round((F.col("value") - F.col("m")) / F.sqrt(F.col("var")), 6),
    ).otherwise(F.lit(0.0))
    return (
        ev.join(F.broadcast(mv), "event_type")
        .select(
            "event_id",
            "event_type",
            minmax.alias("v_minmax"),
            z.alias("v_zscore"),
        )
        .orderBy("event_id")
    )


# --- feature hashing ---------------------------------------------------------

_FH_BUCKETS = 32
_FH_SALT = "fh:"


@query(
    "ext_hashed_features",
    f"""
    WITH feats AS (
      SELECT event_type || ':' || coalesce(json_extract_string(props, '$.k'), '')
               AS feat
      FROM events
    ),
    h AS (
      SELECT feat,
             CAST(('0x' || substr(md5('{_FH_SALT}' || feat), 1, 8)) AS BIGINT)
               % {_FH_BUCKETS} AS bucket
      FROM feats
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT feat) AS BIGINT) AS n_features
    FROM h GROUP BY 1 ORDER BY 1
    """,
)
def ext_hashed_features(spark, sf_dir):
    """The feature-hashing trick over the (event_type, props.k)
    categorical cross: each feature string hashes into one of
    {_FH_BUCKETS} buckets via the engine-portable salted-md5 idiom, and
    the output audits each bucket's row mass and collision count
    (n_features > 1 = distinct features sharing a slot). The fixed-
    dimensionality encoder for unbounded categorical vocabularies —
    no dictionary to fit, ship, or keep consistent between train and
    serving.

    Scale: hashing is a pure map; the audit is one hash-agg onto
    {_FH_BUCKETS} groups with map-side partials and a distinct-count
    that stays bounded by the true vocabulary. No shuffle wider than
    the bucket table."""
    ev = t(spark, sf_dir, "events")
    feat = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("")),
    )
    bucket = md5_int(_FH_SALT, feat) % _FH_BUCKETS
    return (
        ev.select(feat.alias("feat"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("feat").cast("bigint").alias("n_features"),
        )
        .orderBy("bucket")
    )


# --- time split with embargo -------------------------------------------------

_SPLIT_TRAIN_END = "2024-01-20 00:00:00"  # train: ts < this
_SPLIT_TEST_START = "2024-01-22 00:00:00"  # embargo: [train_end, test_start)


@query(
    "ext_time_split_embargo",
    f"""
    WITH labeled AS (
      SELECT user_id, ts,
             CASE WHEN ts < TIMESTAMP '{_SPLIT_TRAIN_END}' THEN 'train'
                  WHEN ts < TIMESTAMP '{_SPLIT_TEST_START}' THEN 'embargo'
                  ELSE 'test' END AS split
      FROM events
    ),
    train_users AS (
      SELECT DISTINCT user_id FROM labeled WHERE split = 'train'
    ),
    g AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT l.user_id) AS BIGINT) AS n_users,
             CAST(count(DISTINCT CASE WHEN tu.user_id IS NOT NULL
                                      THEN l.user_id END) AS BIGINT)
               AS n_users_seen_in_train
      FROM labeled l LEFT JOIN train_users tu ON l.user_id = tu.user_id
      GROUP BY 1
    )
    SELECT split, n_events, n_users, n_users_seen_in_train,
           round(CAST(n_users_seen_in_train AS DOUBLE) / n_users, 6)
             AS user_overlap_with_train
    FROM g ORDER BY split
    """,
)
def ext_time_split_embargo(spark, sf_dir):
    """Time-based train/test split with an embargo gap (train <
    {_SPLIT_TRAIN_END[:10]}, a 2-day embargo, test from
    {_SPLIT_TEST_START[:10]}) plus the leakage audit every temporal
    split needs: how many of each split's users also appear in train.
    The embargo prevents boundary leakage through lagged features; the
    overlap number tells you whether test measures generalization to
    new users or new time (here: same users, later time — by design).

    Scale: the split label is a pure map CASE on fixed timestamps (no
    global sort — the 100 TB reason to cut by time, not row rank); the
    audit joins against the distinct train-user set, which at scale is
    a broadcast/bloom side. Exact integer counts; one double ratio."""
    ev = t(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit(_SPLIT_TRAIN_END).cast("timestamp"), "train")
        .when(F.col("ts") < F.lit(_SPLIT_TEST_START).cast("timestamp"), "embargo")
        .otherwise("test")
    )
    labeled = ev.select("user_id", split.alias("split"))
    train_users = (
        labeled.filter(F.col("split") == "train")
        .select(F.col("user_id").alias("tu_id"))
        .distinct()
    )
    g = (
        labeled.join(
            F.broadcast(train_users),
            labeled.user_id == train_users.tu_id,
            "left",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct(
                F.when(F.col("tu_id").isNotNull(), F.col("user_id"))
            )
            .cast("bigint")
            .alias("n_users_seen_in_train"),
        )
    )
    return g.select(
        "split",
        "n_events",
        "n_users",
        "n_users_seen_in_train",
        F.round(
            F.col("n_users_seen_in_train").cast("double") / F.col("n_users"), 6
        ).alias("user_overlap_with_train"),
    ).orderBy("split")


@query(
    "agg_decay_counters",
    """
    WITH mx AS (SELECT max(ts) AS t_ref FROM events),
    terms AS (
      SELECT user_id,
             CAST(round(exp(-date_diff('day', CAST(ts AS DATE),
                                       CAST(t_ref AS DATE)) / 7.0), 9)
                  AS DECIMAL(18,9)) AS w
      FROM events CROSS JOIN mx
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(w), 6) AS DOUBLE) AS frecency
    FROM terms GROUP BY user_id ORDER BY user_id
    """,
)
def agg_decay_counters(spark, sf_dir):
    """Exponentially decayed per-user activity counter ("frecency"):
    sum over events of exp(-days_ago / 7), anchored at the corpus max
    timestamp — the feature-store staple that favors recent engagement
    without a cutoff cliff. One scalar cross join for the anchor (the
    registry's 1-row broadcast pattern), then a single hash aggregate.

    Cross-engine determinism: the decay argument is the DAY-grain age,
    so the exp() input set is small and discrete; each term is rounded
    to 9 dp and cast to DECIMAL before summation (rule-1 exact sums),
    making the result independent of partial-aggregation order — the
    only residual risk would be a libm-vs-JVM exp() tie at the 9th
    decimal on one of the few thousand distinct ages, which the
    both-SF oracle gate would surface deterministically.

    Scale: anchor broadcast + one groupBy(user_id) — partial aggregates
    map-side; no window, no per-user state."""
    e = t(spark, sf_dir, "events")
    t_ref = e.agg(F.max("ts").alias("t_ref"))
    terms = e.crossJoin(F.broadcast(t_ref)).select(
        "user_id",
        F.round(
            F.exp(
                -F.datediff(F.col("t_ref").cast("date"), F.col("ts").cast("date"))
                / F.lit(7.0)
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("w"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("w"), 6).cast("double").alias("frecency"),
        )
        .orderBy("user_id")
    )
