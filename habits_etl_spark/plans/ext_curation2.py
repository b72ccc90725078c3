"""Pretraining-corpus curation operators, wave 4: cross-document duplicate
n-gram coverage and source-mixture reweighting.

These close the two remaining curation stages a 100 TB pipeline runs after
admission (ext_admission_decision) and before packing (ext_seq_packing):
measure how much of each document is boilerplate shared with the rest of
the corpus (RefinedWeb/Gopher "duplicate n-gram coverage"), and decide how
hard to sample each source to hit a target mixture (The Pile / DoReMi-style
domain weights). Reference parity: the reference has no curation surface;
these extend it per the BASELINE north-star list, like ext_curation.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.operators.distrank import grouped_ntile_by_selection
from habits_etl_spark.plans.common import dec, managed_cache, query, t

# --- duplicate n-gram coverage ----------------------------------------------

_COV_N = 8  # RefinedWeb screens dup-coverage at n=5..10; 8 is mid-band
_COV_MAX_FRAC = 0.30  # flag docs whose grams are mostly corpus boilerplate


@query(
    "ext_dup_ngram_coverage",
    f"""
    WITH toks AS (
      SELECT doc_id, {TOK_DUCK} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - {_COV_N - 1}),
             i -> array_to_string(w[i:i+{_COV_N - 1}], ' '))) AS gram
      FROM toks WHERE len(w) >= {_COV_N}
    ),
    c AS (
      SELECT doc_id, gram, count(*) AS occ FROM g GROUP BY 1, 2
    ),
    nd AS (
      SELECT doc_id, occ, count(*) OVER (PARTITION BY gram) AS n_docs_with_gram
      FROM c
    )
    SELECT doc_id,
           CAST(sum(occ) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN n_docs_with_gram > 1 THEN occ ELSE 0 END) AS BIGINT)
             AS dup_grams,
           round(CAST(sum(CASE WHEN n_docs_with_gram > 1 THEN occ ELSE 0 END) AS DOUBLE)
                 / sum(occ), 4) AS dup_frac,
           CAST(sum(CASE WHEN n_docs_with_gram > 1 THEN occ ELSE 0 END) AS DOUBLE)
                 / sum(occ) > {_COV_MAX_FRAC} AS flagged
    FROM nd GROUP BY 1 ORDER BY 1
    """,
)
def ext_dup_ngram_coverage(spark, sf_dir):
    """Cross-document duplicate n-gram coverage (the RefinedWeb/MassiveText
    screen, Penedo et al. 2023 §3.3): per document, the fraction of its
    {_COV_N}-gram occurrences that also appear in at least one OTHER
    document. High coverage means the text is mostly corpus boilerplate
    (headers, licenses, templated spans) even when no whole-document or
    near-dup match fires; RefinedWeb drops or trims such docs. Emits
    (doc_id, n_grams, dup_grams, dup_frac, flagged>{_COV_MAX_FRAC}).

    Scale: gram explode -> hash-aggregate keyed (doc_id, gram) with
    map-side partials (collapses within-doc repeats BEFORE any shuffle),
    then one window keyed by gram for the cross-doc count — rows at this
    point are distinct (doc, gram) pairs, orders of magnitude smaller
    than the token stream — then a final doc_id hash-agg. No self-join
    of the exploded gram stream. At 100 TB, swap the gram string for
    xxhash64(gram) so shuffles carry 8 bytes per key (string kept here
    for oracle parity)."""
    d = t(spark, sf_dir, "documents")
    w = F.col("w")
    grams = F.expr(
        f"transform(sequence(1, size(w) - {_COV_N - 1}), "
        + "i -> concat_ws(' ', "
        + ", ".join(f"element_at(w, i + {k})" for k in range(_COV_N))
        + "))"
    )
    c = (
        d.select("doc_id", tok_spark(F.col("text")).alias("w"))
        .filter(F.size(w) >= _COV_N)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    nd = c.withColumn(
        "n_docs_with_gram", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    dup_occ = F.sum(F.when(F.col("n_docs_with_gram") > 1, F.col("occ")).otherwise(F.lit(0)))
    return (
        nd.groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_grams"),
            dup_occ.cast("bigint").alias("dup_grams"),
            F.round(dup_occ.cast("double") / F.sum("occ"), 4).alias("dup_frac"),
            (dup_occ.cast("double") / F.sum("occ") > _COV_MAX_FRAC).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# --- source-mixture reweighting ---------------------------------------------

_MIX_MAX_WEIGHT = 5.0  # cap upsampling of tiny sources (Pile-style epoch cap)


@query(
    "ext_domain_mix",
    f"""
    WITH per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({TOK_DUCK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
           round(least(CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens),
                       {_MIX_MAX_WEIGHT}), 4) AS sample_weight
    FROM per_src CROSS JOIN tot ORDER BY source
    """,
)
def ext_domain_mix(spark, sf_dir):
    """Source-mixture reweighting (The Pile / DoReMi-lite): per source,
    its token share of the corpus and the sampling weight that moves the
    mixture toward a uniform target share of 1/n_sources, capped at
    {_MIX_MAX_WEIGHT}x so tiny sources are not upsampled into memorized
    epochs (the Pile caps epochs per subset the same way). A loader
    multiplies per-document sampling probability by its source's weight;
    DoReMi replaces the uniform target with learned domain weights — the
    same arithmetic, different target vector.

    Scale: one hash-aggregate keyed by source (map-side partials over the
    corpus — the only pass over the data), then a 1-row totals aggregate
    cross-joined back via broadcast. Source cardinality is thousands at
    most, so everything after the first agg is driver-trivial."""
    return domain_mix_over(t(spark, sf_dir, "documents"))


def domain_mix_over(d):
    """Mixture weights over any documents-like DataFrame (source, text) —
    factored out so a composed pipeline can weight the ADMITTED corpus,
    not the raw one (examples/curation_pipeline.py)."""
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(tok_spark(F.col("text"))).cast("bigint")).cast("bigint").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total_tokens"), 6).alias(
                "token_share"
            ),
            F.round(
                F.least(
                    F.col("total_tokens").cast("double")
                    / (F.col("n_sources") * F.col("n_tokens")),
                    F.lit(_MIX_MAX_WEIGHT),
                ),
                4,
            ).alias("sample_weight"),
        )
        .orderBy("source")
    )


# --- unigram LM scoring ------------------------------------------------------


@query(
    "ext_unigram_lm_score",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({TOK_DUCK}) AS tok FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM cnt),
    nll AS (
      SELECT doc_id, lang,
             round(CAST(sum(CAST(-ln(CAST(c AS DOUBLE) / s) AS DECIMAL(28,12)))
                        AS DOUBLE) / count(*), 6) AS nll
      FROM toks JOIN cnt USING (tok) CROSS JOIN tot
      GROUP BY 1, 2
    )
    SELECT doc_id, lang, nll,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY nll ASC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
    FROM nll ORDER BY doc_id
    """,
)
def ext_unigram_lm_score(spark, sf_dir):
    """CCNet's LM-quality stage (Wenzek et al. 2020 §3.4) with the KenLM
    swapped for a corpus-trained unigram model: per document, the mean
    negative log-likelihood of its tokens (low nll = fluent/common text),
    then head/middle/tail terciles PER LANGUAGE (CCNet buckets within
    each language so low-resource languages are not globally penalized).
    Downstream consumers keep head+middle, or sample tail at a discount.

    Scale: the vocab is one hash-aggregate over the token stream, then
    BROADCASTS (at 100 TB: top-V vocab plus an OOV smoothing mass — a
    top-V cut keeps the broadcast bounded; OOV tokens score at the
    floor probability); doc scoring is scan + broadcast-join + doc_id
    hash-agg. The vocab table is CACHED so the corpus is tokenized
    exactly twice (count pass + score pass — the two-pass shape is
    inherent: scoring needs the finished counts); the scalar token
    total is a 1-row collect off the cached vocab, pinned as a literal
    instead of a third broadcast whose lineage would re-tokenize.
    Language is a FEW-LARGE-GROUPS key (a per-lang tercile
    window would pin each language's full doc sort on one task), so the
    terciles come from grouped exact selection (operators/distrank.py
    grouped_ntile_by_selection): the 2 boundary (nll, doc_id) keys per
    language are selected in two k-bounded passes over the CACHED
    |docs|-row score table and the bucket label is a pure map-side
    comparison — no window anywhere in the plan. Exact-sum rule:
    per-token nll is cast to DECIMAL(28,12) before summation so both
    engines produce the identical total regardless of partial-sum
    order, and terciles cut on the pre-ROUNDED score, so both engines
    select identical boundaries."""

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(tok_spark(F.col("text"))).alias("tok")
    )
    cnt = managed_cache(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")),
        "ext_unigram_lm_score/vocab",
    )
    s = cnt.agg(F.sum("c").cast("bigint")).collect()[0][0]  # 1-row collect
    term = -F.log(F.col("c").cast("double") / F.lit(s))
    nll = managed_cache(
        toks.join(F.broadcast(cnt), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum(dec(term, 28, 12)).cast("double") / F.count(F.lit(1)), 6
            ).alias("nll")
        ),
        "ext_unigram_lm_score/nll",
    )
    tiled = grouped_ntile_by_selection(
        nll, ["lang"], [F.col("nll"), F.col("doc_id")], 3, "__tile"
    )
    return (
        tiled.withColumn(
            "ppl_bucket",
            F.when(F.col("__tile") == 1, "head")
            .when(F.col("__tile") == 2, "middle")
            .otherwise("tail"),
        )
        .drop("__tile")
        .orderBy("doc_id")
    )
