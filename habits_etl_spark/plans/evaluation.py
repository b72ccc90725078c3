"""Evaluation operators, wave 22: the model-evaluation layer — a
confusion matrix and per-class precision/recall/F1 for the language-ID
heuristic against the corpus's true labels, NDCG@k for the cosine
retrieval stack, and a tie-aware rank-sum AUC for a scoring feature.

Every classifier/ranker registered in this repo (ext_lang_id,
ext_quality_classifier, ext_topk_sim_search, ext_bm25_topk) needs
exactly these three evaluation shapes to be operated honestly; they
are also the canonical "metrics as SQL" patterns an ML platform bakes
into its offline-eval pipeline — all exact, all engine-identical.

Reference parity: the reference has no evaluation surface; these
extend it per the BASELINE north-star list, like plans/ext_text.py.

Cross-engine float rule: counts are exact integers; DCG/AUC terms are
identical literal double expressions over exact integers, decimal-
summed where accumulated (plans/common.py rule 1)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.functions.text import (
    LANG_GUESS_DUCK,
    LANG_PROFILES,
    TOK_DUCK,
    lang_score_duck,
    lang_score_spark,
    tok_spark,
)
from habits_etl_spark.operators.distrank import with_global_running_agg
from habits_etl_spark.operators.srp import cosine_expr
from habits_etl_spark.plans.common import managed_cache, query, t
from habits_etl_spark.plans.ext_text import ext_lang_id

# --- confusion matrix --------------------------------------------------------


@query(
    "ext_langid_confusion",
    f"""
    WITH guessed AS ({LANG_GUESS_DUCK}),
    m AS (
      SELECT lang AS true_lang, lang_guess AS guessed_lang,
             CAST(count(*) AS BIGINT) AS n
      FROM guessed GROUP BY 1, 2
    ),
    row_tot AS (
      SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true FROM m GROUP BY 1
    )
    SELECT m.true_lang, m.guessed_lang, m.n,
           round(CAST(m.n AS DOUBLE) / r.n_true, 6) AS row_share
    FROM m JOIN row_tot r ON m.true_lang = r.true_lang
    ORDER BY m.true_lang, m.guessed_lang
    """,
)
def ext_langid_confusion(spark, sf_dir):
    """Confusion matrix of the stopword language-ID heuristic
    (ext_lang_id's exact decision expression) against the corpus's
    true lang labels: per (true, guessed) cell, the count and its
    share of the true class. The diagnostic a model card prints —
    which languages the heuristic confuses, not just how often it is
    right.

    Scale: the guess is the same map-only expression as ext_lang_id;
    the matrix is one hash-agg onto |langs|² cells with map-side
    partials, row totals broadcast. Exact integers, one ratio."""
    g = ext_lang_id(spark, sf_dir)
    m = g.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("lang_guess").alias("guessed_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    row_tot = m.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    return (
        m.join(F.broadcast(row_tot), "true_lang")
        .select(
            "true_lang",
            "guessed_lang",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias(
                "row_share"
            ),
        )
        .orderBy("true_lang", "guessed_lang")
    )


# --- per-class precision / recall / F1 ---------------------------------------


@query(
    "ext_langid_prf",
    f"""
    WITH guessed AS ({LANG_GUESS_DUCK}),
    classes AS (
      SELECT lang AS cls FROM guessed
      UNION SELECT lang_guess AS cls FROM guessed
    ),
    st AS (
      SELECT c.cls,
             CAST((SELECT count(*) FROM guessed g
                   WHERE g.lang = c.cls AND g.lang_guess = c.cls) AS BIGINT) AS tp,
             CAST((SELECT count(*) FROM guessed g
                   WHERE g.lang_guess = c.cls AND g.lang <> c.cls) AS BIGINT) AS fp,
             CAST((SELECT count(*) FROM guessed g
                   WHERE g.lang = c.cls AND g.lang_guess <> c.cls) AS BIGINT) AS fn
      FROM (SELECT DISTINCT cls FROM classes) c
    )
    SELECT cls AS lang, tp + fn AS support,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
    FROM st ORDER BY lang
    """,
)
def ext_langid_prf(spark, sf_dir):
    """Per-class precision, recall, and F1 of the language-ID
    heuristic: the scoreboard companion to ext_langid_confusion
    (which shows WHERE the errors go; this scores each class).
    Classes with no predictions get NULL precision rather than a fake
    zero — the honest convention sklearn warns about.

    Scale: one corpus pass computes per-(true, guessed) counts; tp/fp/
    fn per class are tiny re-aggregations of that |langs|² matrix
    (Spark side aggregates the matrix once rather than re-scanning per
    class — the decorrelated form of the oracle's per-class
    subqueries). Exact integer confusion algebra."""
    g = ext_lang_id(spark, sf_dir)
    m = g.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("lang_guess").alias("guessed_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tp = m.filter(F.col("true_lang") == F.col("guessed_lang")).select(
        F.col("true_lang").alias("lang"), F.col("n").alias("tp")
    )
    pred = m.groupBy(F.col("guessed_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    true = m.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    st = (
        true.join(pred, "lang", "full")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce(F.col("n_pred"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("bigint")
            .alias("fp"),
            (F.coalesce(F.col("n_true"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp_, fp_, fn_ = F.col("tp"), F.col("fp"), F.col("fn")
    return st.select(
        "lang",
        (tp_ + fn_).cast("bigint").alias("support"),
        F.when(tp_ + fp_ > 0, F.round(tp_.cast("double") / (tp_ + fp_), 6)).alias(
            "precision"
        ),
        F.when(tp_ + fn_ > 0, F.round(tp_.cast("double") / (tp_ + fn_), 6)).alias(
            "recall"
        ),
        F.when(
            2 * tp_ + fp_ + fn_ > 0,
            F.round(2.0 * tp_ / (2 * tp_ + fp_ + fn_), 6),
        ).alias("f1"),
    ).orderBy("lang")


# --- NDCG@k for the retrieval stack ------------------------------------------

_NDCG_K = 10
_NDCG_QUERIES = 10  # vec_id < this are the query vectors (ext_vectors idiom)

_SQL_COS_EVAL = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


@query(
    "ext_knn_ndcg_eval",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, a.label AS q_label, b.label AS n_label,
             round({_SQL_COS_EVAL}, 4) AS cos, b.vec_id AS neighbor_id
      FROM e a JOIN e b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_NDCG_QUERIES}
    ),
    ranked AS (
      SELECT query_id, q_label, n_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rk <= {_NDCG_K}),
    dcg AS (
      SELECT query_id,
             CAST(count(*) FILTER (WHERE n_label = q_label) AS BIGINT) AS n_rel,
             round(CAST(sum(CAST(CASE WHEN n_label = q_label
                        THEN 1.0 / log2(rk + 1.0) ELSE 0.0 END
                   AS DECIMAL(28,12))) AS DOUBLE), 12) AS dcg
      FROM topk GROUP BY 1
    ),
    pool AS (
      SELECT a.vec_id AS query_id,
             CAST(count(*) AS BIGINT) AS total_rel
      FROM e a JOIN e b
        ON b.vec_id <> a.vec_id AND b.label = a.label
      WHERE a.vec_id < {_NDCG_QUERIES}
      GROUP BY 1
    ),
    ideal AS (
      SELECT p.query_id,
             round(CAST(sum(CAST(1.0 / log2(i.i + 1.0) AS DECIMAL(28,12)))
                   AS DOUBLE), 12) AS idcg
      FROM pool p
      JOIN (SELECT unnest(generate_series(1, {_NDCG_K})) AS i) i
        ON i.i <= least(p.total_rel, {_NDCG_K})
      GROUP BY 1
    )
    SELECT d.query_id, d.n_rel, p.total_rel,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN pool p ON d.query_id = p.query_id
    JOIN ideal i ON d.query_id = i.query_id
    ORDER BY d.query_id
    """,
)
def ext_knn_ndcg_eval(spark, sf_dir):
    """NDCG@{_NDCG_K} of cosine retrieval with same-label relevance:
    for each query vector, rank the corpus by cosine, score binary
    relevance (neighbor shares the query's label), and normalize the
    discounted cumulative gain by the ideal ranking's. The offline
    ranking-quality metric for the whole ANN stack — exact search
    scores here; ext_ann_*'s approximate variants are judged by how
    little NDCG they give up against this number.

    Scale: the scored join is the ext_topk_sim_search shape (bounded
    query set broadcast against the corpus scan, WindowGroupLimit
    top-k); the ideal DCG comes from each label's relevant-pool size,
    not a second ranking pass. Discount terms are identical log2
    doubles over exact ranks, decimal-summed."""

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        F.broadcast(q)
        .join(e, e.vec_id != q.query_id)
        .select(
            "query_id",
            "q_label",
            F.col("label").alias("n_label"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_expr(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    topk = scored.select(
        "query_id", "q_label", "n_label", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= _NDCG_K)
    rel_term = F.when(
        F.col("n_label") == F.col("q_label"),
        1.0 / F.log2(F.col("rk") + 1.0),
    ).otherwise(F.lit(0.0))
    dcg = topk.groupBy("query_id").agg(
        F.count(F.when(F.col("n_label") == F.col("q_label"), 1))
        .cast("bigint")
        .alias("n_rel"),
        F.round(
            F.sum(rel_term.cast("decimal(28,12)")).cast("double"), 12
        ).alias("dcg"),
    )
    label_sizes = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_label_total")
    )
    pool = (
        q.join(F.broadcast(label_sizes), q.q_label == label_sizes.label)
        .select(
            "query_id", (F.col("n_label_total") - 1).cast("bigint").alias("total_rel")
        )
    )
    ranks = e.sparkSession.range(1, _NDCG_K + 1).select(
        F.col("id").alias("i")
    )
    ideal = (
        pool.join(
            F.broadcast(ranks),
            ranks.i <= F.least(F.col("total_rel"), F.lit(_NDCG_K)),
        )
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum((1.0 / F.log2(F.col("i") + 1.0)).cast("decimal(28,12)"))
                .cast("double"),
                12,
            ).alias("idcg")
        )
    )
    return (
        dcg.join(pool, "query_id")
        .join(ideal, "query_id")
        .select(
            "query_id",
            "n_rel",
            "total_rel",
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
        .orderBy("query_id")
    )


# --- rank-sum AUC ------------------------------------------------------------


@query(
    "agg_langid_feature_auc",
    f"""
    WITH scored AS (
      SELECT doc_id, lang = 'en' AS label,
             round(CAST({lang_score_duck(LANG_PROFILES['en'])} AS DOUBLE)
                   / greatest(len({TOK_DUCK}), 1), 6) AS score
      FROM documents
    ),
    by_score AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n_at,
             CAST(count(*) FILTER (WHERE label) AS BIGINT) AS n_pos_at
      FROM scored GROUP BY 1
    ),
    ranked AS (
      SELECT score, n_at, n_pos_at,
             coalesce(sum(n_at) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM by_score
    ),
    tot AS (
      SELECT CAST(sum(n_pos_at) AS BIGINT) AS n_pos,
             CAST(sum(n_at) - sum(n_pos_at) AS BIGINT) AS n_neg
      FROM by_score
    ),
    rsum AS (
      SELECT round(CAST(sum(CAST(n_pos_at * (cum_before + (n_at + 1) / 2.0)
                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS r_pos
      FROM ranked
    )
    SELECT n_pos, n_neg,
           round((r_pos - n_pos * (n_pos + 1) / 2.0)
                 / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
    FROM rsum CROSS JOIN tot
    """,
)
def agg_langid_feature_auc(spark, sf_dir):
    """ROC-AUC of the English-stopword density feature as a classifier
    for lang = 'en', computed exactly by the tie-aware rank-sum
    (Mann–Whitney) identity: tied scores take their average rank, so
    the result equals the trapezoidal ROC area with no sampling. The
    single-number screen for "does this feature separate the classes
    at all" — run before anyone trains on it.

    Scale: scores collapse to |distinct score| rows FIRST (one
    hash-agg, cached — the prefix pass reads it twice), the rank
    arithmetic is a distributed two-pass prefix sum on that reduced
    table (operators/distrank.py), and the AUC is closed-form from decimal exact
    sums. Never ranks raw rows — ties are handled by the group sizes,
    which is also what makes the result engine-identical."""
    d = t(spark, sf_dir, "documents")
    toks = tok_spark(F.col("text"))
    score = F.round(
        lang_score_spark(toks, LANG_PROFILES["en"]).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    scored = d.select(
        (F.col("lang") == "en").alias("label"), score.alias("score")
    )
    by_score = managed_cache(
        scored.groupBy("score").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_at"),
            F.count(F.when(F.col("label"), 1)).cast("bigint").alias("n_pos_at"),
        ),
        "agg_langid_feature_auc/by_score",
    )
    ranked = with_global_running_agg(
        by_score, ["score"], "n_at", "cum_before", include_current=False
    ).select(
        "n_at", "n_pos_at", F.coalesce(F.col("cum_before"), F.lit(0)).alias("cum_before")
    )
    rsum = ranked.agg(
        F.round(
            F.sum(
                (
                    F.col("n_pos_at")
                    * (F.col("cum_before") + (F.col("n_at") + 1) / 2.0)
                ).cast("decimal(28,6)")
            ).cast("double"),
            6,
        ).alias("r_pos")
    )
    tot = by_score.agg(
        F.sum("n_pos_at").cast("bigint").alias("n_pos"),
        (F.sum("n_at") - F.sum("n_pos_at")).cast("bigint").alias("n_neg"),
    )
    return rsum.crossJoin(F.broadcast(tot)).select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos").cast("double") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )
