"""Keyword retrieval over the documents corpus: BM25 scoring + top-k.

A curation pipeline needs targeted retrieval over the corpus it is
building — "find the documents about X" for audit sampling, contamination
spot-checks, and eval-set construction. BM25 (Robertson/Sparck Jones;
the Lucene `BM25Similarity` formula) is the standard lexical scorer.
Reference parity: the reference has no retrieval surface; this extends it
per the BASELINE north-star list, like plans/ext_text.py.

Scale design (100 TB): the scorer never materializes a posting list for
the whole vocabulary — the query's terms are intersected with each
document's token array BEFORE the explode (`filter(w, x -> x IN (...))`),
so only matching tokens are shuffled; non-matching documents are dropped
at the scan stage (map-side). Corpus statistics (N, avgdl) are one 1-row
aggregate, per-term document frequencies one |Q|-row aggregate — both
broadcast. The final top-k is a TakeOrderedAndProject, never a global
sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.plans.common import dec, query, t

BM25_K1 = 1.2
BM25_B = 0.75
# Fixed audit query: one rare term (high idf) + two common ones. Term
# constants are part of the operator spec, mirrored in the oracle.
_BM25_TERMS = ("dup", "spark", "join")
BM25_TOPK = 50

TERMS_SQL = ", ".join(f"'{q}'" for q in _BM25_TERMS)


@query(
    "ext_bm25_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, {TOK_DUCK} AS w FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
      FROM toks
    ),
    hits AS (
      SELECT doc_id, len(w) AS dl, unnest(list_filter(w, x -> x IN ({TERMS_SQL}))) AS tok
      FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      FROM hits GROUP BY 1, 2, 3
    ),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms_hit,
           round(CAST(sum(CAST(
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * ({BM25_K1} + 1.0)
             / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))
           AS DECIMAL(28,12))) AS DOUBLE), 4) AS score
    FROM tf JOIN df USING (tok) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
)
def ext_bm25_topk(spark, sf_dir):
    """BM25 top-k lexical retrieval for the fixed audit query
    {_BM25_TERMS}: idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene
    non-negative variant), tf saturation k1={BM25_K1}, length
    normalization b={BM25_B} against the corpus mean document length.
    Emits the top {BM25_TOPK} (doc_id, n_terms_hit, score), score
    rounded to 4 digits, doc_id tie-break.

    Determinism: per-term scores are cast to DECIMAL(28,12) before the
    per-document sum (plans/common.py rule 1) so partial-aggregation
    order cannot change the total; the scalar double chain (ln, *, /)
    is identical in both engines."""
    return bm25_topk_over(t(spark, sf_dir, "documents"))


def bm25_topk_over(d, terms=_BM25_TERMS, topk=BM25_TOPK):
    """BM25 top-k over any documents-like DataFrame (doc_id, text) —
    factored out so tests can feed constructed corpora and a pipeline can
    retrieve over its admitted subset."""
    terms_sql = ", ".join(f"'{q}'" for q in terms)
    toks = d.select("doc_id", tok_spark(F.col("text")).alias("w"))
    stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum(F.size("w")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    hits = toks.select(
        "doc_id",
        F.size("w").alias("dl"),
        F.explode(F.expr(f"filter(w, x -> x IN ({terms_sql}))")).alias("tok"),
    )
    tf = hits.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.round(F.sum(dec(term_score, 28, 12)).cast("double"), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(topk)
    )
