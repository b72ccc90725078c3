"""Pretraining-corpus curation operators, wave 5: the Gopher rule battery
and ExactSubstr-style shared-span detection.

Reference parity: the reference has no curation surface; these extend it
per the BASELINE north-star list, like ext_curation.py / ext_curation2.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.plans.common import query, t

# --- Gopher quality rules ----------------------------------------------------

# Rae et al. 2021 (Gopher, A.1.1) document-level heuristics, restricted to
# the rules computable from the whitespace token stream. Bounds are the
# paper's published constants.
_G_MIN_WORDS = 50
_G_MAX_WORDS = 100_000
_G_MIN_MEAN_LEN = 3.0
_G_MAX_MEAN_LEN = 10.0
_G_MIN_ALPHA_FRAC = 0.80
_G_MIN_STOP_HITS = 2
_G_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
_G_STOP_SQL = ", ".join(f"'{s}'" for s in _G_STOPWORDS)


@query(
    "ext_gopher_rules",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                   / len(w), 4) AS mean_word_len,
             round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                   AS DOUBLE) / len(w), 4) AS alpha_frac,
             CAST(len(list_filter(w, x -> x IN ({_G_STOP_SQL}))) AS BIGINT)
               AS n_stop_hits
      FROM (SELECT doc_id, {TOK_DUCK} AS w FROM documents)
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop_hits,
           n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS} AS r_word_count,
           mean_word_len BETWEEN {_G_MIN_MEAN_LEN} AND {_G_MAX_MEAN_LEN}
             AS r_mean_len,
           alpha_frac >= {_G_MIN_ALPHA_FRAC} AS r_alpha,
           n_stop_hits >= {_G_MIN_STOP_HITS} AS r_stopwords,
           (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
             AND (mean_word_len BETWEEN {_G_MIN_MEAN_LEN} AND {_G_MAX_MEAN_LEN})
             AND alpha_frac >= {_G_MIN_ALPHA_FRAC}
             AND n_stop_hits >= {_G_MIN_STOP_HITS} AS passed
    FROM m ORDER BY doc_id
    """,
)
def ext_gopher_rules(spark, sf_dir):
    """Gopher document-quality rule battery (Rae et al. 2021 A.1.1), the
    rules computable from the whitespace token stream: word count in
    [{_G_MIN_WORDS}, {_G_MAX_WORDS}], mean word length in
    [{_G_MIN_MEAN_LEN}, {_G_MAX_MEAN_LEN}], >= {_G_MIN_ALPHA_FRAC:.0%} of
    words containing an alphabetic character, and >= {_G_MIN_STOP_HITS}
    stopword occurrences. Emits per-document metrics, per-rule verdicts,
    and the conjunction — downstream gates consume `passed`, auditors the
    per-rule columns (which rule rejected what).

    Scale: pure map — one projection over the scan, no shuffle except the
    output ORDER BY (which a pipeline consumer drops). The word metrics
    are array-fold expressions (aggregate/filter HOFs), JVM-side, no
    Python. Mean word length sums integer lengths (exact, order-free)
    before one double division."""
    return gopher_rules_over(t(spark, sf_dir, "documents"))


def gopher_rules_over(d):
    """Gopher rule battery over any documents-like DataFrame (doc_id, text)."""
    m = d.select(
        "doc_id", tok_spark(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_words"),
        F.round(
            F.expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").cast("double")
            / F.size("w"),
            4,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.expr("filter(w, x -> x rlike '[a-z]')")).cast("double")
            / F.size("w"),
            4,
        ).alias("alpha_frac"),
        F.size(F.expr(f"filter(w, x -> x IN ({_G_STOP_SQL}))"))
        .cast("bigint")
        .alias("n_stop_hits"),
    )
    r_wc = F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
    r_ml = F.col("mean_word_len").between(_G_MIN_MEAN_LEN, _G_MAX_MEAN_LEN)
    r_al = F.col("alpha_frac") >= _G_MIN_ALPHA_FRAC
    r_st = F.col("n_stop_hits") >= _G_MIN_STOP_HITS
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "n_stop_hits",
        r_wc.alias("r_word_count"),
        r_ml.alias("r_mean_len"),
        r_al.alias("r_alpha"),
        r_st.alias("r_stopwords"),
        (r_wc & r_ml & r_al & r_st).alias("passed"),
    ).orderBy("doc_id")


# --- ExactSubstr shared spans ------------------------------------------------

_ES_K = 8  # seed gram width (tokens)
_ES_MIN_SPAN = 12  # report maximal shared spans of at least this many tokens
# Postings cap: grams shared by more than this many documents are dropped
# from seeding (identically in Spark and the oracle). This bounds the
# gram self-join fan-out at corpus scale; spans seeded only by such
# ultra-common grams (boilerplate shared corpus-wide) are the ones
# ext_dup_ngram_coverage already measures.
_ES_MAX_POSTINGS = 20


def _gram_with_pos_spark(k: int):
    """tokens array `w` -> exploded (pos, gram) pairs, pos 0-based."""
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(w, i + {j})" for j in range(k)
    ) + ")"
    return F.expr(f"transform(sequence(1, size(w) - {k - 1}), i -> {gram})")


@query(
    "ext_exact_substr_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, {TOK_DUCK} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, u.i - 1 AS pos,
             array_to_string(w[u.i:u.i + {_ES_K - 1}], ' ') AS gram
      FROM toks, unnest(generate_series(1, len(w) - {_ES_K - 1})) AS u(i)
      WHERE len(w) >= {_ES_K}
    ),
    shared AS (
      SELECT gram FROM g GROUP BY 1
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_ES_MAX_POSTINGS}
    ),
    gs AS (SELECT g.* FROM g JOIN shared USING (gram)),
    m AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.pos AS ia, y.pos AS ib, x.pos - y.pos AS off
      FROM gs x JOIN gs y USING (gram)
      WHERE x.doc_id < y.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, off, ia, ib,
             ia - row_number() OVER (PARTITION BY doc_a, doc_b, off ORDER BY ia)
               AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(max(ia) - min(ia) + {_ES_K} AS BIGINT) AS span_len
      FROM isl GROUP BY doc_a, doc_b, off, grp
      HAVING max(ia) - min(ia) + {_ES_K} >= {_ES_MIN_SPAN}
    )
    SELECT doc_a, doc_b,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span_len) AS BIGINT) AS max_span_tokens,
           CAST(sum(span_len) AS BIGINT) AS shared_tokens
    FROM spans GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ext_exact_substr_spans(spark, sf_dir):
    """ExactSubstr-style shared-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for every
    document pair, the maximal token spans of length >= {_ES_MIN_SPAN}
    that appear verbatim in both. Lee et al. build a suffix array on one
    machine; the distributed equivalent seeds with {_ES_K}-gram matches
    and merges consecutive seeds at the same pair-offset into maximal
    spans (gaps-and-islands: consecutive positions share `ia - row_number`).
    Emits (doc_a, doc_b, n_spans, max_span_tokens, shared_tokens) —
    the trim/drop decision a pipeline takes from it is policy.

    Scale: gram streams join through a `shared` gram filter (2..{_ES_MAX_POSTINGS}
    distinct docs) so the self-join fan-out per gram is bounded — the
    classic postings-cap from suffix-array sharding; ultra-common grams
    are boilerplate handled by ext_dup_ngram_coverage. The islands window
    partitions by (pair, offset) — collision-scale partitions, never the
    corpus. At 100 TB, swap the gram string for xxhash64(gram) so the
    shuffle carries 8-byte keys (string kept for oracle parity)."""
    return exact_substr_spans_over(t(spark, sf_dir, "documents"))


def exact_substr_spans_over(d, k=_ES_K, min_span=_ES_MIN_SPAN, max_postings=_ES_MAX_POSTINGS):
    """Shared-span detection over any documents-like DataFrame (doc_id, text).

    Plan shape: ONE pass over the corpus gram stream into a hash-aggregate
    keyed by gram that collects the posting list (doc_id, pos), then the
    cross-document match pairs are generated INSIDE each posting row with
    array HOFs — no self-join, so the exploded token stream is never
    scanned or shuffled twice. Posting lists are bounded by the
    {max_postings}-distinct-doc cap before pair expansion, so per-gram
    fan-out is O(cap^2) worst-case on collision-scale rows only."""
    g = (
        d.select("doc_id", tok_spark(F.col("text")).alias("w"))
        .filter(F.size("w") >= k)
        .select("doc_id", F.posexplode(_gram_with_pos_spark(k)).alias("pos", "gram"))
    )
    postings = (
        g.groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ps"))
        .filter(
            F.size(F.array_distinct(F.expr("transform(ps, p -> p.doc_id)"))).between(
                2, max_postings
            )
        )
    )
    # ordered cross-doc pairs within one posting list: each element x
    # pairs with every element y of a strictly larger doc_id — the
    # x.doc_id < y.doc_id guard fixes orientation and prevents both
    # same-doc pairs and double counting
    pairs = F.expr(
        "flatten(transform(ps, x -> "
        "  filter(transform(ps, y -> "
        "           IF(x.doc_id < y.doc_id, struct(x, y), null)), "
        "         p -> p IS NOT NULL)))"
    )
    m = (
        postings.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.x.doc_id").alias("doc_a"),
            F.col("p.y.doc_id").alias("doc_b"),
            F.col("p.x.pos").alias("ia"),
            F.col("p.y.pos").alias("ib"),
            (F.col("p.x.pos") - F.col("p.y.pos")).alias("off"),
        )
    )
    win = Window.partitionBy("doc_a", "doc_b", "off").orderBy("ia")
    isl = m.withColumn("grp", F.col("ia") - F.row_number().over(win))
    spans = (
        isl.groupBy("doc_a", "doc_b", "off", "grp")
        .agg((F.max("ia") - F.min("ia") + k).cast("bigint").alias("span_len"))
        .filter(F.col("span_len") >= min_span)
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.max("span_len").cast("bigint").alias("max_span_tokens"),
            F.sum("span_len").cast("bigint").alias("shared_tokens"),
        )
        .orderBy("doc_a", "doc_b")
    )
