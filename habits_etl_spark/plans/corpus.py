"""Corpus-linguistics operators, wave 20: vocabulary growth (Heaps'
law), cross-source vocabulary overlap, source diversity indices, and
the per-document novelty decay curve.

These are the corpus-composition diagnostics a pretraining data team
runs when deciding what to mix: the Heaps exponent says how fast this
corpus keeps yielding new types (near-saturated corpora stop paying
for their tokens), vocabulary overlap quantifies how redundant two
sources are BEFORE expensive document-level dedup, the diversity
indices summarize how concentrated each source's language mix is, and
the novelty curve shows where in the (ordered) corpus fresh content
stops arriving.

Reference parity: the reference has no corpus surface; these extend
it per the BASELINE north-star list, like plans/ext_text.py. Token
convention: whitespace tokens (the documented ext_text.py convention).

Cross-engine float rule: decimal exact sums (plans/common.py rule 1);
log terms are identical literal double expressions over exact integer
counts (the KL-drift pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.operators.distrank import with_global_running_agg
from habits_etl_spark.plans.common import managed_cache, query, t

# --- Heaps' law fit ----------------------------------------------------------


@query(
    "ext_heaps_law_fit",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOK_DUCK}) AS w FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM toks GROUP BY 1
    ),
    new_types AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
      FROM (SELECT w, min(doc_id) AS doc_id FROM toks GROUP BY w)
      GROUP BY 1
    ),
    curve AS (
      SELECT p.doc_id,
             sum(p.n_toks) OVER (ORDER BY p.doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             sum(coalesce(nt.n_new, 0)) OVER (ORDER BY p.doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_vocab
      FROM per_doc p LEFT JOIN new_types nt ON p.doc_id = nt.doc_id
    ),
    pts AS (
      SELECT round(ln(CAST(cum_tokens AS DOUBLE)), 12) AS x,
             round(ln(CAST(cum_vocab AS DOUBLE)), 12) AS y
      FROM curve WHERE cum_tokens > 0 AND cum_vocab > 0
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS DECIMAL(28,12))) AS sx,
             sum(CAST(y AS DECIMAL(28,12))) AS sy,
             sum(CAST(x * y AS DECIMAL(28,10))) AS sxy,
             sum(CAST(x * x AS DECIMAL(28,10))) AS sxx
      FROM pts
    ),
    mo AS (
      SELECT n,
             CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n
               AS cov,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
               AS varx,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my
      FROM st
    )
    SELECT n AS n_points,
           CASE WHEN varx > 0.0 THEN round(cov / varx, 6) END AS heaps_beta,
           CASE WHEN varx > 0.0
                THEN round(exp(my - (cov / varx) * mx), 6) END AS heaps_k
    FROM mo
    """,
)
def ext_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit of vocabulary growth: V(n) ≈ K·n^β estimated by
    OLS on the log-log curve of cumulative distinct word types vs
    cumulative tokens, checkpointed at every document (doc_id order).
    β near 1 = the corpus still yields mostly-new vocabulary; β
    dropping toward 0 = type saturation — the "is more of this source
    still worth ingesting" number, and the growth-curve summary behind
    ext_vocab_coverage.

    Scale: type first-occurrences come from ONE hash-agg (word →
    min doc_id — corpus-sized but map-side combining); the growth
    curve then lives on |docs| checkpoint rows, where the two running
    sums are distributed two-pass prefix sums (operators/distrank.py:
    per-range-bucket local cumsum + boundary carries — the checkpoint
    table is cached since each pass reads it twice), and the OLS reduce
    is the agg_trend_ols single-pass shape over pre-rounded log
    points. At 100 TB checkpoints thin to a doc-id sample with the
    identical fit."""
    d = t(spark, sf_dir, "documents")
    # Per-doc token counts come from size(tokens) — pure map, no explode,
    # no doc_id shuffle. Exactly the oracle's per-doc count(*): split on
    # non-null text always yields >= 1 element (whitespace-only -> [""]),
    # and NULL text — which unnest/explode would drop — is filtered the
    # same way via the NULL size. The type-first-occurrence agg explodes
    # array_distinct(tokens) instead of the raw stream: min(doc_id) per
    # word is unchanged, but the shuffle input shrinks from corpus tokens
    # to per-doc distinct types before the map-side combine even runs.
    per_doc = d.select(
        "doc_id", F.size(tok_spark(F.col("text"))).cast("bigint").alias("n_toks")
    ).filter(F.col("n_toks").isNotNull())
    new_types = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tok_spark(F.col("text")))).alias("w"),
        )
        .groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    base = managed_cache(
        per_doc.join(new_types, "doc_id", "left").select(
            "doc_id",
            "n_toks",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        ),
        "ext_heaps_law_fit/base",
    )
    curve = with_global_running_agg(
        base, ["doc_id"], {"cum_tokens": "n_toks", "cum_vocab": "n_new"}
    ).select("doc_id", "cum_tokens", "cum_vocab")
    pts = curve.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(
        F.round(F.log(F.col("cum_tokens").cast("double")), 12).alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 12).alias("y"),
    )
    st = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(28,12)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,12)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,10)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,10)")).alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    varx = sxx - sx * sx / n
    beta = (sxy - sx * sy / n) / varx
    return st.select(
        F.col("n").alias("n_points"),
        F.when(varx > 0.0, F.round(beta, 6)).alias("heaps_beta"),
        F.when(
            varx > 0.0, F.round(F.exp(sy / n - beta * (sx / n)), 6)
        ).alias("heaps_k"),
    )


# --- cross-source vocabulary overlap -----------------------------------------


@query(
    "ext_source_vocab_overlap",
    f"""
    WITH vocab AS (
      SELECT DISTINCT source, w FROM (
        SELECT source, unnest({TOK_DUCK}) AS w FROM documents
      )
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS v FROM vocab GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, sa.v AS vocab_a, sb.v AS vocab_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.v + sb.v - i.n_common), 6) AS jaccard,
           round(CAST(i.n_common AS DOUBLE) / least(sa.v, sb.v), 6)
             AS containment
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    ORDER BY src_a, src_b
    """,
)
def ext_source_vocab_overlap(spark, sf_dir):
    """Pairwise vocabulary overlap between sources: Jaccard and
    containment (intersection over the smaller vocabulary) of their
    distinct word-type sets. High containment with low Jaccard means
    one source is a lexical subset of another — the cheap
    redundancy screen a mixing recipe consults before paying for
    document-level dedup between the pair.

    Scale: vocab dedups to (source, type) in one hash-agg; the
    intersection join is inverted-index on the word — sources only
    meet on shared types, each type contributing |sources-with-it|²
    pairs (bounded by the source count, not the corpus); sizes
    broadcast. Exact integer set algebra, two rounded ratios."""
    d = t(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(tok_spark(F.col("text"))).alias("w")
    ).distinct()
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    b = vocab.select(F.col("source").alias("src_b"), F.col("w").alias("wb"))
    inter = (
        vocab.join(b, (vocab.w == b.wb) & (vocab.source < b.src_b))
        .groupBy(F.col("source").alias("src_a"), "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("v").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("v").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common").cast("double")
                / F.least("vocab_a", "vocab_b"),
                6,
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


# --- source diversity indices ------------------------------------------------


@query(
    "agg_source_diversity",
    """
    WITH cnt AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    terms AS (
      SELECT cnt.source, tot.n,
             -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n) AS h_term,
             (CAST(c AS DOUBLE) / n) * (CAST(c AS DOUBLE) / n) AS p2
      FROM cnt JOIN tot ON cnt.source = tot.source
    )
    SELECT source, max(n) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(CAST(sum(CAST(h_term AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS shannon_nats,
           round(1.0 - CAST(sum(CAST(p2 AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS simpson_index
    FROM terms GROUP BY 1 ORDER BY source
    """,
)
def agg_source_diversity(spark, sf_dir):
    """Language-diversity indices per source: Shannon entropy (nats)
    and the Gini–Simpson index (probability two random docs differ in
    language) over each source's language mix, with doc and language
    counts. The one-line summary of how concentrated a source's
    composition is — the same numbers ecology uses for species
    diversity, read here before deciding per-language sampling
    temperatures (ext_domain_temperature_mix consumes exactly this
    shape).

    Scale: one hash-agg to (source, lang), a source-keyed re-agg; log
    and square terms are identical double expressions over exact
    integer counts, decimal-summed (the KL-drift pattern)."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = cnt.join(tot, "source").select(
        "source",
        "n",
        (-p * F.log(p)).alias("h_term"),
        (p * p).alias("p2"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.round(
                F.sum(F.col("h_term").cast("decimal(28,12)")).cast("double"), 6
            ).alias("shannon_nats"),
            F.round(
                1.0
                - F.sum(F.col("p2").cast("decimal(28,12)")).cast("double"),
                6,
            ).alias("simpson_index"),
        )
        .orderBy("source")
    )


# --- per-document novelty decay ----------------------------------------------


@query(
    "win_doc_novelty_curve",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOK_DUCK}) AS w FROM documents
    ),
    doc_types AS (
      SELECT DISTINCT doc_id, w FROM toks
    ),
    firsts AS (
      SELECT w, min(doc_id) AS first_doc FROM doc_types GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (WHERE f.first_doc = d.doc_id) AS BIGINT)
             AS n_new_types,
           round(CAST(count(*) FILTER (WHERE f.first_doc = d.doc_id) AS DOUBLE)
                 / count(*), 6) AS novelty_rate
    FROM doc_types d JOIN firsts f ON d.w = f.w
    GROUP BY 1 ORDER BY d.doc_id
    """,
)
def win_doc_novelty_curve(spark, sf_dir):
    """Per-document lexical novelty in corpus (doc_id) order: of each
    document's distinct word types, how many appear here for the first
    time anywhere in the corpus. The per-document resolution of
    ext_heaps_law_fit — a curation loop watches novelty_rate decay to
    decide when a crawl frontier has gone stale, and documents with
    anomalously HIGH novelty late in the corpus are either genuinely
    fresh content or garbage (both worth routing to review).

    Scale: the (doc, type) dedup and the type→first-doc agg are the
    corpus-sized passes (both single hash-aggs with map-side
    combining); the novelty join is inverted-index on the type, and
    the final reduce is per-doc. No windows at all — first-occurrence
    beats running-distinct (win_cumulative_uniques) because it
    parallelizes without a global order."""
    d = t(spark, sf_dir, "documents")
    doc_types = d.select(
        "doc_id", F.explode(tok_spark(F.col("text"))).alias("w")
    ).distinct()
    firsts = doc_types.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    is_new = F.when(F.col("first_doc") == F.col("doc_id"), 1)
    return (
        doc_types.join(firsts, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.count(is_new).cast("bigint").alias("n_new_types"),
            F.round(F.count(is_new).cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty_rate"
            ),
        )
        .orderBy("doc_id")
    )
