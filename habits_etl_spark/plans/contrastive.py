"""Training-pair operators, wave 25: the contrastive / imbalanced-
learning data-generation layer — inverse-frequency class weights,
deterministic negative sampling over interaction baskets, hard-negative
mining in embedding space, and online-style triplet mining with margin
statistics.

Recommenders and embedding models are trained on PAIRS and TRIPLES the
warehouse has to manufacture: implicit-feedback models need sampled
negatives (you only observe what users did), metric-learning needs the
HARD negatives (random ones are too easy to teach anything —
Schroff et al. 2015's semi-hard observation), and imbalanced
classifiers need per-class weights. All of it must be deterministic to
be reproducible across training runs — the salted-hash idiom
(ext_hash_split) replaces RNG throughout.

Reference parity: the reference has no training-data surface; these
extend it per the BASELINE north-star list, like plans/ext_vectors.py.

Cross-engine float rule: counts are exact; cosines are the
ext_vectors fold kernel rounded before ranking; weights are exact
ratios through identical double division."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.operators.srp import cosine_expr
from habits_etl_spark.plans.common import query, t

# --- inverse-frequency class weights -----------------------------------------


@query(
    "ext_class_weights",
    """
    WITH cnt AS (
      SELECT lang AS label, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS k
      FROM cnt
    )
    SELECT label, n,
           round(CAST(n_total AS DOUBLE) / (k * n), 6) AS weight,
           round(CAST(n AS DOUBLE) / n_total, 6) AS freq
    FROM cnt CROSS JOIN tot ORDER BY label
    """,
)
def ext_class_weights(spark, sf_dir):
    """Balanced class weights for the document language label:
    w_c = n_total / (k · n_c) (sklearn's 'balanced' heuristic) plus
    each class's raw frequency. The one-line table every imbalanced
    classifier's loss function consumes — weights average to 1 over
    the corpus by construction, so the effective learning rate is
    unchanged while minority classes stop being ignored.

    Scale: one hash-agg to |classes| rows, one broadcast total.
    Exact integer ratios."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy(F.col("lang").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cnt.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            F.round(
                F.col("n_total").cast("double") / (F.col("k") * F.col("n")), 6
            ).alias("weight"),
            F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias(
                "freq"
            ),
        )
        .orderBy("label")
    )


# --- deterministic negative sampling -----------------------------------------

_NEG_K = 2
_NEG_SALT = "neg:"


@query(
    "ext_negative_sampling",
    f"""
    WITH basket AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             event_type AS item
      FROM events
    ),
    types AS (SELECT DISTINCT event_type AS item FROM events),
    candidates AS (
      SELECT b.user_id, b.day, ty.item
      FROM (SELECT DISTINCT user_id, day FROM basket) b
      CROSS JOIN types ty
      WHERE NOT EXISTS (
        SELECT 1 FROM basket p
        WHERE p.user_id = b.user_id AND p.day = b.day AND p.item = ty.item
      )
    ),
    ranked AS (
      SELECT user_id, day, item,
             row_number() OVER (
               PARTITION BY user_id, day
               ORDER BY md5('{_NEG_SALT}' || CAST(user_id AS VARCHAR) || ':'
                            || strftime(day, '%Y-%m-%d') || ':' || item),
                        item
             ) AS rk
      FROM candidates
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, item AS negative_item,
           CAST(rk AS INTEGER) AS rank
    FROM ranked WHERE rk <= {_NEG_K}
    ORDER BY user_id, day, rank
    """,
)
def ext_negative_sampling(spark, sf_dir):
    """Deterministic negative sampling for implicit-feedback training:
    for every (user, day) interaction basket, up to {_NEG_K} event
    types the user did NOT touch that day, chosen by salted-md5 order
    — reproducible across runs and engines where RNG sampling is not,
    and unbiased across the candidate set because the hash key mixes
    (user, day, item). The (positive basket, sampled negatives) pairs
    are the training rows of every BPR/NCE-style recommender.

    Scale: candidates come from an anti-join of the (tiny, broadcast)
    item vocabulary against the deduped basket relation — work is
    |baskets| × |vocab|, never |events|²; the per-basket pick is a
    window over ≤|vocab| rows. At catalog scale the vocabulary side
    becomes a hash-bucketed sample of the catalog, same plan."""
    ev = t(spark, sf_dir, "events")
    basket = ev.select(
        "user_id",
        F.date_trunc("DAY", "ts").cast("date").alias("day"),
        F.col("event_type").alias("item"),
    ).distinct()
    types = ev.select(F.col("event_type").alias("item")).distinct()
    keys = basket.select("user_id", "day").distinct()
    cand = keys.crossJoin(F.broadcast(types)).join(
        basket, ["user_id", "day", "item"], "left_anti"
    )
    hash_key = F.md5(
        F.concat(
            F.lit(_NEG_SALT),
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.date_format("day", "yyyy-MM-dd"),
            F.lit(":"),
            F.col("item"),
        )
    )
    w = Window.partitionBy("user_id", "day").orderBy(hash_key, "item")
    return (
        cand.select(
            "user_id",
            "day",
            "item",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= _NEG_K)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("item").alias("negative_item"),
            F.col("rk").cast("int").alias("rank"),
        )
        .orderBy("user_id", "day", "rank")
    )


# --- hard-negative mining ----------------------------------------------------

_HN_QUERIES = 10
_HN_K = 3

_SQL_COS_HN = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


@query(
    "ext_hard_negatives_topk",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS a_label,
             b.vec_id AS negative_id, b.label AS n_label,
             round({_SQL_COS_HN}, 4) AS cos
      FROM e a JOIN e b
        ON b.vec_id <> a.vec_id AND b.label <> a.label
      WHERE a.vec_id < {_HN_QUERIES}
    ),
    ranked AS (
      SELECT anchor_id, negative_id, n_label, cos,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos DESC, negative_id) AS rk
      FROM scored
    )
    SELECT anchor_id, negative_id, n_label, cos, CAST(rk AS INTEGER) AS rank
    FROM ranked WHERE rk <= {_HN_K} ORDER BY anchor_id, rank
    """,
)
def ext_hard_negatives_topk(spark, sf_dir):
    """Hard-negative mining in embedding space: for each anchor, the
    {_HN_K} MOST similar vectors carrying a DIFFERENT label. Random
    negatives are trivially separable and teach a metric-learning
    model nothing; these near-miss impostors carry all the gradient
    (the FaceNet observation), and surfacing them is a warehouse
    query, not a training-loop trick.

    Scale: the ext_topk_sim_search shape with the label-difference
    predicate fused into the join — the bounded anchor set broadcasts
    against the corpus scan and WindowGroupLimit keeps per-anchor
    heaps. Cosines are the shared fold kernel rounded before the
    deterministic top-k (neighbor-id tie-break)."""

    e = t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
    )
    scored = (
        F.broadcast(a)
        .join(e, (e.vec_id != a.anchor_id) & (e.label != a.a_label))
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("n_label"),
            F.round(cosine_expr(F.col("a_emb"), F.col("embedding")), 4).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), "negative_id"
    )
    return (
        scored.select(
            "anchor_id",
            "negative_id",
            "n_label",
            "cos",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= _HN_K)
        .select(
            "anchor_id",
            "negative_id",
            "n_label",
            "cos",
            F.col("rk").cast("int").alias("rank"),
        )
        .orderBy("anchor_id", "rank")
    )


# --- triplet mining ----------------------------------------------------------

_TRIP_MARGIN = 0.2


@query(
    "ext_triplet_mining",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS a_label,
             b.vec_id AS other_id, b.label AS o_label,
             round({_SQL_COS_HN}, 4) AS cos
      FROM e a JOIN e b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_HN_QUERIES}
    ),
    hard_pos AS (
      SELECT anchor_id, other_id AS positive_id, cos AS pos_cos,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos ASC, other_id) AS rk
      FROM scored WHERE o_label = a_label
    ),
    hard_neg AS (
      SELECT anchor_id, other_id AS negative_id, cos AS neg_cos,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos DESC, other_id) AS rk
      FROM scored WHERE o_label <> a_label
    )
    SELECT p.anchor_id, p.positive_id, n.negative_id,
           p.pos_cos, n.neg_cos,
           round(p.pos_cos - n.neg_cos, 4) AS margin,
           p.pos_cos - n.neg_cos < {_TRIP_MARGIN} AS violates_margin
    FROM hard_pos p JOIN hard_neg n
      ON p.anchor_id = n.anchor_id AND p.rk = 1 AND n.rk = 1
    ORDER BY p.anchor_id
    """,
)
def ext_triplet_mining(spark, sf_dir):
    """Hardest-triplet mining: per anchor, the LEAST-similar same-label
    vector (hard positive) and MOST-similar other-label vector (hard
    negative), with the triplet margin cos(a,p) − cos(a,n) and a flag
    for margins under {_TRIP_MARGIN}. A violated margin means the
    embedding currently ranks an impostor above a true peer for that
    anchor — the triplets a metric-learning trainer feeds first, and a
    per-anchor quality audit for an embedding table even without
    training.

    Scale: one scored pass (bounded anchors broadcast × corpus)
    serves BOTH argmin and argmax via two windows on the same
    anchor partitioning; the triplet assembly joins two 1-row-per-
    anchor relations. Deterministic via rounded cosines and id
    tie-breaks."""

    e = t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
    )
    scored = (
        F.broadcast(a)
        .join(e, e.vec_id != a.anchor_id)
        .select(
            "anchor_id",
            "a_label",
            F.col("vec_id").alias("other_id"),
            F.col("label").alias("o_label"),
            F.round(cosine_expr(F.col("a_emb"), F.col("embedding")), 4).alias(
                "cos"
            ),
        )
    )
    w_pos = Window.partitionBy("anchor_id").orderBy(F.col("cos").asc(), "other_id")
    w_neg = Window.partitionBy("anchor_id").orderBy(F.col("cos").desc(), "other_id")
    hard_pos = (
        scored.filter(F.col("o_label") == F.col("a_label"))
        .select(
            "anchor_id",
            F.col("other_id").alias("positive_id"),
            F.col("cos").alias("pos_cos"),
            F.row_number().over(w_pos).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    hard_neg = (
        scored.filter(F.col("o_label") != F.col("a_label"))
        .select(
            "anchor_id",
            F.col("other_id").alias("negative_id"),
            F.col("cos").alias("neg_cos"),
            F.row_number().over(w_neg).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return (
        hard_pos.join(hard_neg, "anchor_id")
        .select(
            "anchor_id",
            "positive_id",
            "negative_id",
            "pos_cos",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 4).alias("margin"),
            (F.col("pos_cos") - F.col("neg_cos") < _TRIP_MARGIN).alias(
                "violates_margin"
            ),
        )
        .orderBy("anchor_id")
    )
