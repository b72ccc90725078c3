"""Pretraining-corpus curation operators, wave 8: corpus statistics and
dataset-assembly policies.

Five ops a 100 TB pipeline runs between quality filtering and training:
character-entropy screening (degenerate/binary-ish text), an interpolated
bigram LM quality score (one step up from ext_unigram_lm_score's CCNet
stage), a deterministic content-hash train/val/test split, temperature-
scaled domain mixing (the multilingual-LM sampling formula), and a Zipf
rank-frequency fit for the dataset datasheet.

Reference parity: the reference has no curation surface; these extend it
per the BASELINE north-star list, like plans/ext_pipeline.py. Cross-engine
determinism follows plans/common.py rule 1 (decimal exact sums) plus one
extra trick used here: where a per-row formula sums a FIXED, bounded list
of double terms (the entropy alphabet), both engines evaluate the same
generated left-associative expression, so the float result is
bit-identical without any decimal cast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import md5_int
from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.operators.minhash import MINHASH_CTES, MINHASH_FINAL
from habits_etl_spark.operators.pagerank import DAMPING, ITERS, pagerank
from habits_etl_spark.plans.bases import minhash_pairs_shared
from habits_etl_spark.plans.common import ORACLES, dec, managed_cache, query, t, widened
from habits_etl_spark.plans.ext_curation3 import ext_gopher_rules

# --- character entropy -------------------------------------------------------

# Bounded counting alphabet: per-char counts come from length-difference
# (length(s) - length(replace(s, ch, ''))) — a pure map-side expression in
# both engines, NO per-character explode. At 100 TB this is the whole
# point: entropy over a fixed alphabet costs one projection, not a
# |text|-row shuffle.
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _entropy_exprs() -> tuple[list[str], str, str]:
    """(count-column SQL list, total SQL, entropy SQL) shared by both engines.

    The entropy sum is a generated left-associative `+` chain in alphabet
    order: IEEE double addition is evaluated in written order by both
    Spark SQL and DuckDB (neither reassociates float `+`), so the result
    is bit-identical across engines with no decimal rounding needed.
    """
    counts = [
        f"(length(s) - length(replace(s, '{ch}', ''))) AS k{i}"
        for i, ch in enumerate(_ALPHABET)
    ]
    total = " + ".join(f"k{i}" for i in range(len(_ALPHABET)))
    terms = " + ".join(
        f"(CASE WHEN k{i} > 0 THEN -(CAST(k{i} AS DOUBLE) / n_alpha)"
        f" * ln(CAST(k{i} AS DOUBLE) / n_alpha) ELSE 0.0 END)"
        for i in range(len(_ALPHABET))
    )
    entropy = (
        f"round(CASE WHEN n_alpha > 0 THEN ({terms}) / ln(2.0)"
        f" ELSE NULL END, 6)"
    )
    return counts, total, entropy


_ENT_COUNT_LIST, _ENT_TOTAL, _ENT_BITS = _entropy_exprs()
_ENT_COUNTS = ", ".join(_ENT_COUNT_LIST)


@query(
    "ext_char_entropy",
    f"""
    WITH m AS (SELECT doc_id, lang, lower(text) AS s FROM documents),
    k AS (SELECT doc_id, lang, {_ENT_COUNTS} FROM m),
    n AS (SELECT *, CAST({_ENT_TOTAL} AS BIGINT) AS n_alpha FROM k)
    SELECT doc_id, lang, n_alpha, {_ENT_BITS} AS entropy_bits
    FROM n ORDER BY doc_id
    """,
)
def ext_char_entropy(spark, sf_dir):
    """Character-unigram entropy per document over a bounded [a-z0-9 ]
    alphabet — the cheap degenerate-text screen (near-zero entropy =
    single-char floods; max entropy ~ log2(37) = uniform noise) that
    pipelines like Gopher run alongside the repetition rules
    (ext_repetition_stats).

    Scale: pure map — 37 length/replace expressions per row inside
    whole-stage codegen, no explode, no shuffle except the final
    presentation sort. Cross-engine: counts are exact ints; the entropy
    sum is the same generated left-associative double chain in both
    engines (see _entropy_select), so no decimal dance is needed."""
    m = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.lower(F.col("text")).alias("s")
    )
    k = m.selectExpr("doc_id", "lang", *_ENT_COUNT_LIST)
    n = k.selectExpr("*", f"CAST({_ENT_TOTAL} AS BIGINT) AS n_alpha")
    return n.selectExpr(
        "doc_id", "lang", "n_alpha", f"{_ENT_BITS} AS entropy_bits"
    ).orderBy("doc_id")


# --- interpolated bigram LM score -------------------------------------------

_LM_LAMBDA = 0.7  # bigram weight; (1 - lambda) falls back to the unigram


@query(
    "ext_bigram_lm_score",
    f"""
    WITH d AS (SELECT doc_id, lang, {TOK_DUCK} AS w FROM documents),
    b AS (
      SELECT doc_id, lang, unnest(
        list_transform(generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM d
    ),
    bi AS (SELECT doc_id, lang, bg,
                  split_part(bg, ' ', 1) AS w1,
                  split_part(bg, ' ', 2) AS w2 FROM b),
    cb AS (SELECT bg, count(*) AS c_bg FROM bi GROUP BY 1),
    cctx AS (SELECT w1, count(*) AS c_ctx FROM bi GROUP BY 1),
    toks AS (SELECT unnest({TOK_DUCK}) AS tok FROM documents),
    cuni AS (SELECT tok, count(*) AS c_uni FROM toks GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
    scored AS (
      SELECT doc_id, lang,
             -ln({_LM_LAMBDA} * (CAST(c_bg AS DOUBLE) / c_ctx)
                 + {1 - _LM_LAMBDA} * (CAST(c_uni AS DOUBLE) / n_total)) AS nll
      FROM bi
      JOIN cb USING (bg) JOIN cctx USING (w1)
      JOIN cuni ON cuni.tok = bi.w2 CROSS JOIN tot
    )
    SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(nll AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
             AS bigram_nll
    FROM scored GROUP BY 1, 2 ORDER BY doc_id
    """,
)
def ext_bigram_lm_score(spark, sf_dir):
    """Interpolated bigram LM quality score — the next rung above
    ext_unigram_lm_score's CCNet stage: per document, the mean negative
    log-likelihood of its bigrams under
    p(w2|w1) = lambda * c(w1 w2)/c(w1 ·) + (1-lambda) * c(w2)/N,
    a Jelinek-Mercer interpolation trained on the corpus itself. Low
    nll = locally-coherent text; high nll = shuffled/garbled word salad
    that a unigram model cannot see.

    Scale: the count relations are one hash-aggregate each over the
    token stream. Context/unigram tables are vocab-bounded (top-V cut at
    100 TB, OOV at a floor probability, like ext_unigram_lm_score) and
    broadcast; the BIGRAM table is top-V^2 worst case — unbounded — so
    it keeps a plain shuffle join and AQE upgrades it when small; the
    per-doc reduce is a doc_id hash-agg with decimal exact sums
    (rule 1). No self-joins: bigrams come from one array transform in
    the map stage."""
    d = t(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", tok_spark(F.col("text")).alias("w"))
    bi = (
        w.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "IF(size(w) >= 2, transform(sequence(1, size(w) - 1), "
                    "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))), "
                    "array())"
                )
            ).alias("bg"),
        )
        .withColumn("w1", F.expr("split_part(bg, ' ', 1)"))
        .withColumn("w2", F.expr("split_part(bg, ' ', 2)"))
    )
    # All count relations derive from ONE pass over the bigram stream
    # (cab) plus one over the token stream (cuni); the context margin
    # c(w1 ·) re-aggregates the ALREADY-REDUCED pair table instead of the
    # corpus. The per-bigram score is then pre-joined into a single
    # vocab²-bounded table keyed by bg, so the corpus-sized stream meets
    # exactly ONE join — three joins on the big side collapsed into one
    # (measured ~2.0 → ~1.4 s warm at sf0.1; hash-identical output, since
    # the per-occurrence nll values are unchanged).
    # Both reduced count tables are CACHED (MEMORY_AND_DISK; they were
    # already materialized in full inside every broadcast lineage), so
    # the corpus is exploded exactly three times — bigram count, token
    # count, and the scoring pass itself — instead of five: previously
    # cctx, tot and the score join each re-derived their parent count
    # table from the raw stream. The scalar token total is a 1-row
    # collect off the cached unigram table, pinned as a literal.
    cab = managed_cache(
        bi.groupBy("bg", "w1", "w2").agg(F.count(F.lit(1)).alias("c_bg")),
        "ext_bigram_lm_score/cab",
    )
    cctx = cab.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    toks = d.select(F.explode(tok_spark(F.col("text"))).alias("tok"))
    cuni = managed_cache(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni")),
        "ext_bigram_lm_score/cuni",
    )
    n_total = cuni.agg(F.sum("c_uni").cast("bigint")).collect()[0][0]  # 1 row
    nll = -F.log(
        _LM_LAMBDA * (F.col("c_bg").cast("double") / F.col("c_ctx"))
        + (1 - _LM_LAMBDA) * (F.col("c_uni").cast("double") / F.lit(n_total))
    )
    score = (
        cab.join(F.broadcast(cctx), "w1")
        .join(F.broadcast(cuni), cab["w2"] == cuni["tok"])
        .select("bg", nll.alias("nll"))
    )
    return (
        # no broadcast hint on score: BIGRAM vocab is top-V^2 worst case —
        # unbounded at corpus scale, unlike the unigram/context tables
        # above (top-V cut). AQE broadcasts it when it is in fact small.
        bi.select("doc_id", "lang", "bg")
        .join(score, "bg")
        .select("doc_id", "lang", "nll")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(dec(F.col("nll"), 28, 12)).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("bigram_nll"),
        )
        .orderBy("doc_id")
    )


# --- deterministic train/val/test split -------------------------------------

# Content-hash split: md5 of a salted doc_id -> bucket 0..99. Engine-
# portable (identical md5 + hex-prefix integer in Spark and DuckDB) and,
# unlike random splits, reproducible across runs/engines and stable under
# corpus growth (a doc never changes split when other docs arrive).
_SPLIT_SALT = "split:"
_TRAIN_PCT, _VAL_PCT = 90, 5


@query(
    "ext_hash_split",
    f"""
    WITH h AS (
      SELECT lang, {TOK_DUCK} AS w,
             CAST(('0x' || substr(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    ),
    s AS (
      SELECT lang, len(w) AS n_toks,
             CASE WHEN bucket < {_TRAIN_PCT} THEN 'train'
                  WHEN bucket < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM h
    ),
    g AS (
      SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM s GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM g)
    SELECT split, lang, n_docs, n_tokens,
           round(CAST(n_docs AS DOUBLE) / total_docs, 6) AS doc_share
    FROM g CROSS JOIN tot ORDER BY split, lang
    """,
)
def ext_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by content hash
    ({_TRAIN_PCT}/{_VAL_PCT}/{100 - _TRAIN_PCT - _VAL_PCT}), audited per
    (split, language): doc and token counts plus each cell's share of
    the corpus — the table a pipeline checks before training to confirm
    the split is unbiased across languages.

    Scale: the split is a pure map expression (one md5 per row — the
    same salted-hash idiom as ext_stratified_sample), the audit one
    hash-aggregate over ~|splits|x|langs| groups with map-side
    partials. Exact integer counts only — no float summation."""
    d = t(spark, sf_dir, "documents")
    bucket = md5_int(_SPLIT_SALT, F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _TRAIN_PCT + _VAL_PCT, "val")
        .otherwise("test")
    )
    g = (
        d.select(
            split.alias("split"),
            "lang",
            F.size(tok_spark(F.col("text"))).alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    tot = g.agg(F.sum("n_docs").cast("bigint").alias("total_docs"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "split",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs").cast("double") / F.col("total_docs"), 6).alias(
                "doc_share"
            ),
        )
        .orderBy("split", "lang")
    )


# --- temperature-scaled domain mixing ---------------------------------------

_MIX_ALPHA = 0.3  # the multilingual-LM sampling temperature (alpha)
_MIX_BUDGET = 10_000  # docs to draw in the audited example budget


@query(
    "ext_domain_temperature_mix",
    f"""
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM g),
    p AS (
      SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / total_docs AS p_raw,
             round(power(CAST(n_docs AS DOUBLE) / total_docs, {_MIX_ALPHA}), 9) AS w_raw
      FROM g CROSS JOIN tot
    ),
    z AS (SELECT CAST(sum(CAST(w_raw AS DECIMAL(18,9))) AS DOUBLE) AS z FROM p)
    SELECT source, n_docs, round(p_raw, 6) AS p_source,
           round(w_raw / z, 6) AS mix_weight,
           round({_MIX_BUDGET} * w_raw / z, 2) AS expected_docs
    FROM p CROSS JOIN z ORDER BY source
    """,
)
def ext_domain_temperature_mix(spark, sf_dir):
    """Temperature-scaled domain sampling weights: w_i ∝ p_i^alpha with
    alpha={_MIX_ALPHA} — the multilingual-LM upsampling formula (alpha<1
    flattens the mixture toward low-resource domains) that complements
    ext_domain_mix's hard-cap policy. Output per source: natural share,
    normalized sampling weight, and expected draw count for a
    {_MIX_BUDGET}-doc budget.

    Scale: one hash-aggregate to per-source counts (domain cardinality
    is small — the weight table then broadcasts into the sampler).
    Cross-engine float note: power() may differ by 1 ulp between libm
    implementations, so each w_i is rounded to 9 dp BEFORE the decimal
    normalization sum — both engines round the same double to the same
    9-dp value except at astronomically-unlikely half-ulp boundaries."""
    g = t(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = g.agg(F.sum("n_docs").cast("bigint").alias("total_docs"))
    p = g.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("total_docs")).alias("p_raw"),
        F.round(
            F.pow(F.col("n_docs").cast("double") / F.col("total_docs"), _MIX_ALPHA), 9
        ).alias("w_raw"),
    )
    z = p.agg(F.sum(dec(F.col("w_raw"), 18, 9)).cast("double").alias("z"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.round(F.col("p_raw"), 6).alias("p_source"),
            F.round(F.col("w_raw") / F.col("z"), 6).alias("mix_weight"),
            F.round(F.lit(_MIX_BUDGET) * F.col("w_raw") / F.col("z"), 2).alias(
                "expected_docs"
            ),
        )
        .orderBy("source")
    )


# --- broadcast-weights quality classifier -----------------------------------

# Stand-in coefficients for a trained quality model (fasttext / logistic
# regression). In production the weight vector is the broadcast artifact of
# a training job; scoring is ALWAYS this same map-only shape regardless of
# where the weights came from, which is what this operator demonstrates.
_QC_W0 = -3.0
_QC_W_LOGTOK = 0.45  # ln(1 + n_tokens): longer docs score higher
_QC_W_TOKLEN = 0.30  # mean token length: very short tokens = fragmenty text
_QC_W_STOP = 2.2  # stopword fraction: function words = natural language
_QC_W_TTR = -1.1  # type/token ratio: extreme novelty = noise
_QC_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


@query(
    "ext_quality_classifier",
    f"""
    WITH w AS (
      SELECT doc_id, lang, {TOK_DUCK} AS w,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars_nws
      FROM documents
    ),
    f AS (
      SELECT doc_id, lang,
             ln(1 + len(w)) AS f_logtok,
             CAST(n_chars_nws AS DOUBLE) / len(w) AS f_toklen,
             CAST(len(list_filter(w, x -> x IN {_QC_STOPWORDS!r})) AS DOUBLE)
               / len(w) AS f_stop,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f_ttr
      FROM w WHERE len(w) > 0
    ),
    z AS (
      SELECT doc_id, lang,
             {_QC_W0} + {_QC_W_LOGTOK} * f_logtok + {_QC_W_TOKLEN} * f_toklen
               + {_QC_W_STOP} * f_stop + {_QC_W_TTR} * f_ttr AS z
      FROM f
    )
    SELECT doc_id, lang, round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
           CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 'keep' ELSE 'drop' END
             AS quality_label
    FROM z ORDER BY doc_id
    """,
)
def ext_quality_classifier(spark, sf_dir):
    """Model-based quality scoring, the way a real pipeline applies a
    fasttext/logistic quality classifier at 100 TB: the trained weight
    vector is a tiny broadcast artifact and scoring is a PURE MAP over
    the corpus — featurize (token count, mean token length, stopword
    fraction, type/token ratio), dot with the weights, sigmoid,
    threshold. Complements the rule batteries (ext_gopher_rules,
    ext_quality_score) with the learned-model slot of the RefinedWeb /
    CCNet stack.

    Scale: zero shuffles before the presentation sort; all features come
    from one array projection inside whole-stage codegen. The sigmoid's
    exp() is evaluated per row on identical inputs in both engines and
    the output rounded to 6 dp (same libm-tolerance argument as
    ext_domain_temperature_mix's power())."""
    d = t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "lang",
        tok_spark(F.col("text")).alias("w"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("n_chars_nws"),
    ).filter(F.size("w") > 0)
    in_list = ", ".join(f"'{s}'" for s in _QC_STOPWORDS)
    f = w.select(
        "doc_id",
        "lang",
        F.log(1 + F.size("w")).alias("f_logtok"),
        (F.col("n_chars_nws").cast("double") / F.size("w")).alias("f_toklen"),
        (
            F.expr(f"size(filter(w, x -> x IN ({in_list})))").cast("double")
            / F.size("w")
        ).alias("f_stop"),
        (F.size(F.array_distinct("w")).cast("double") / F.size("w")).alias("f_ttr"),
    )
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_LOGTOK) * F.col("f_logtok")
        + F.lit(_QC_W_TOKLEN) * F.col("f_toklen")
        + F.lit(_QC_W_STOP) * F.col("f_stop")
        + F.lit(_QC_W_TTR) * F.col("f_ttr")
    )
    prob = 1.0 / (1.0 + F.exp(-z))
    return f.select(
        "doc_id",
        "lang",
        F.round(prob, 6).alias("quality_prob"),
        F.when(prob >= 0.5, "keep").otherwise("drop").alias("quality_label"),
    ).orderBy("doc_id")


# --- Zipf rank-frequency fit -------------------------------------------------

_ZIPF_TOP_V = 1000  # fit over the top-V types; bounds the window + the fit


@query(
    "ext_zipf_fit",
    f"""
    WITH toks AS (SELECT unnest({TOK_DUCK}) AS tok FROM documents),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT {_ZIPF_TOP_V}),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM top
    ),
    terms AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y, c FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM terms
    )
    SELECT n_types, n_tokens,
           round((n_types * sxy - sx * sy)
                 / nullif(n_types * sxx - sx * sx, 0.0), 6) AS zipf_slope,
           round((sy - ((n_types * sxy - sx * sy)
                        / nullif(n_types * sxx - sx * sx, 0.0)) * sx)
                 / n_types, 6) AS zipf_intercept
    FROM s
    """,
)
def ext_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit for the dataset datasheet: least-squares
    slope/intercept of ln(freq) vs ln(rank) over the top-{_ZIPF_TOP_V}
    token types. Natural corpora fit slope ~ -1; a slope near 0 or a
    cliff flags synthetic/templated text — a corpus-level health metric
    reported next to ext_dataset_card.

    Scale: one token hash-aggregate, then an explicit top-V LIMIT
    BEFORE the rank window — the row_number runs over at most
    {_ZIPF_TOP_V} rows on one task, never over the open vocabulary. The
    regression is computed from decimal exact sums of per-rank terms
    (rule 1), so partial-agg order cannot move the slope."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(tok_spark(F.col("text"))).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    top = cnt.orderBy(F.col("c").desc(), "tok").limit(_ZIPF_TOP_V)
    # Rank WITHOUT an unpartitioned window (r3 verdict: keep runs free of
    # single-partition WindowExec warnings): on the <=top-V LIMITed relation,
    # r = 1 + |rows ordered strictly before| via a broadcast rank-join —
    # O(V^2) comparisons on a bounded input, identical ranks to the oracle's
    # row_number.
    a, b = top.alias("a"), top.alias("b")
    before = (F.col("b.c") > F.col("a.c")) | (
        (F.col("b.c") == F.col("a.c")) & (F.col("b.tok") < F.col("a.tok"))
    )
    ranked = (
        a.join(F.broadcast(b), before, "left")
        .groupBy(F.col("a.tok"), F.col("a.c"))
        .agg((F.count(F.col("b.tok")) + 1).alias("r"))
        .select(F.col("a.c").alias("c"), "r")
    )
    terms = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
        "c",
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(dec(F.col("x"), 28, 12)).cast("double").alias("sx"),
        F.sum(dec(F.col("y"), 28, 12)).cast("double").alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"), 28, 12)).cast("double").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"), 28, 12)).cast("double").alias("sxx"),
    )
    slope = (F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return s.select(
        "n_types",
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n_types"), 6).alias(
            "zipf_intercept"
        ),
    )


# --- PageRank centrality over the near-dup graph ----------------------------


def _pagerank_oracle_sql() -> str:
    """The PageRank power iteration UNROLLED over the MinHash dup-graph
    (the k-center/MMR/PCA pattern: a fixed round count is not a
    fixpoint). Parity with operators/pagerank.py: contributions and
    dangling mass are DECIMAL(38,28)-exact sums (order cannot matter),
    and the per-round rank expression uses the repr of the Python-
    evaluated constants — (1.0 - damping) is computed driver-side in the
    Spark operator, so the oracle carries its exact binary value."""

    one_minus_d = repr(1.0 - DAMPING)
    d = repr(DAMPING)
    ctes = [
        "pairs AS (SELECT doc_a, doc_b FROM mh_pairs)",
        "nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents)",
        """e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
      )
    )""",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg"
        " FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, ITERS + 1):
        ctes.append(
            f"""c{i} AS (
      SELECT e.dst,
             CAST(sum(CAST(r.rank / o.outdeg AS DECIMAL(38,28))) AS DOUBLE) AS contrib
      FROM e JOIN r{i - 1} r ON e.src = r.node JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""dm{i} AS (
      SELECT coalesce(CAST(sum(CAST(r.rank AS DECIMAL(38,28))) AS DOUBLE), 0.0) AS dm
      FROM r{i - 1} r LEFT JOIN outdeg o ON o.src = r.node WHERE o.src IS NULL
    )"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT v.node,
             {one_minus_d} / (SELECT n FROM nn)
             + {d} * (coalesce(c.contrib, 0.0)
                      + (SELECT dm FROM dm{i}) / (SELECT n FROM nn)) AS rank
      FROM nodes v LEFT JOIN c{i} c ON v.node = c.dst
    )"""
        )
    return (
        f"WITH {MINHASH_CTES},\n    mh_pairs AS ({MINHASH_FINAL}),\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS doc_id, round(rank, 9) AS rank FROM r{ITERS}
    ORDER BY rank DESC, doc_id
    """
    )


@query("ext_pagerank_dupgraph", _pagerank_oracle_sql())
def ext_pagerank_dupgraph(spark, sf_dir):
    """Document centrality in the near-duplicate candidate graph
    (operators/pagerank.py): MinHash pair edges, symmetrized, power-
    iterated with damping. High-rank docs are the hubs of duplicate
    neighborhoods — the 'canonical member' signal a keep-policy can use
    instead of min-id (ext_dedup_keep_policy), and the same machinery
    ranks hosts for source-quality weighting at 100 TB.

    FULLY oracle-gated since r10: the power iteration uses DECIMAL(38,28)
    order-invariant sums, so all 8 rounds unroll into chained DuckDB CTEs
    over the shared MinHash pair graph (_pagerank_oracle_sql above);
    exact semantics additionally pinned in tests/test_pagerank.py against
    a Python reference."""

    docs = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = minhash_pairs_shared(spark, sf_dir)
    sym = pairs.selectExpr("doc_a AS src", "doc_b AS dst").union(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    return (
        pagerank(docs, sym)
        .select(F.col("node").alias("doc_id"), F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "doc_id")
    )


# --- asymmetric containment (quote / subset detection) ----------------------

_CONT_N = 3  # word-shingle width
_CONT_THRESHOLD = 0.1


@query(
    "ext_containment_blocked",
    f"""
    WITH g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(generate_series(1, len(w) - {_CONT_N - 1}),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS gram
      FROM (SELECT doc_id, source, {TOK_DUCK} AS w FROM documents)
      WHERE len(w) >= {_CONT_N}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
    blocks AS (SELECT DISTINCT doc_id, source FROM g),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a JOIN blocks b ON a.source = b.source AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE) / sa.n, 4) AS cont_a_in_b,
           round(CAST(i.n_common AS DOUBLE) / sb.n, 4) AS cont_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / least(sa.n, sb.n) >= {_CONT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def ext_containment_blocked(spark, sf_dir):
    """Asymmetric set CONTAINMENT over word {_CONT_N}-gram shingles —
    the quote/subset detector Jaccard misses: a short doc fully embedded
    in a long one has tiny Jaccard (union is huge) but containment
    |A∩B|/|A| = 1. Both directions are reported per candidate pair; the
    gate is on the max direction (equivalently n_common / min size).
    Same blocking convention as ext_ngram_jaccard_blocked (source
    blocks), same posting-list intersection shape — no all-pairs scan.

    Scale (r14): profiling at sf1 showed the cost was NEVER the posting
    self-join — it is only 626k rows there (sum over (gram, source) of
    C(freq,2)) — but (a) the heavy gram-build map (tokenize + transform/
    concat + array_distinct + explode) inheriting the fixture parquet's
    TWO splits and running on 2 of 32 cores (10.8 s of the 15.8 s warm
    wall), and (b) that build running THREE times (sizes + both join
    arms, nothing cached). Fix: the standard under-split repartition
    guard before the build + managed_cache on the exploded posting
    relation. Measured sf1 25.2 s cold / 15.8 s warm -> 6.9 / 5.4;
    sf0.1 cold 10.5 -> ~9.5 (session fixed costs dominate there).

    Measured NEGATIVE result, recorded so it isn't re-tried naively
    (r13 verdict asked for the asymmetric containment prefix filter —
    for threshold t the smaller doc S must share a gram among its first
    |S| - ceil(t·|S|) + 1 rarest under a global (df, gram) order): at
    t=0.1 the prefix keeps 91% of postings (sf1 2.60M -> 2.37M rows),
    the candidate join shrinks only 626k -> 536k rows, and the plan
    must switch from count-the-join-rows to distinct-candidates + exact
    array_intersect verify, adding a 2.6M-row window sort, a 489k-pair
    distinct, and a two-sided array join — measured SLOWER at both SFs
    (sf0.1 warm 2.0 -> 4.0 s, sf1 warm 15.8 -> 19.9 s on the unguarded
    base). The bound is sound but structurally weak at low t: prefix
    length scales with (1-t)·n, so it prunes meaningfully only at the
    high thresholds the Jaccard op runs at (t=0.5 -> half the postings),
    not at a 0.1 containment screen. At 100 TB the block key becomes
    the LSH band bucket (ext_near_dedup_minhash's banding) instead of
    source, and a stop-gram cut (drop grams above a frequency cap)
    bounds the worst posting list; everything downstream is unchanged."""
    d = t(spark, sf_dir, "documents")
    # under-split guard (the r13 scaling-gate lesson): the fixture
    # parquet arrives as 1-2 splits and the gram build is the dominant
    # map cost — serialized on 2 cores it was 10.8 s of the sf1 wall
    d = widened(spark, d)
    w = d.select("doc_id", "source", tok_spark(F.col("text")).alias("w")).filter(
        F.size("w") >= _CONT_N
    )
    # cached: sizes and BOTH join arms scan this relation — uncached, the
    # gram build ran three times
    g = managed_cache(
        w.select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(w) - {_CONT_N - 1}), "
                        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), "
                        "' ', element_at(w, i + 2)))"
                    )
                )
            ).alias("gram"),
        ),
        "containment.grams",
    )
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # posting-list self-join on (gram, source): cost is sum over grams of
    # freq^2 — pairs sharing ZERO grams never materialize, unlike a
    # block-pairs-first plan whose intermediate is |block|^2 x |grams|
    # rows before any intersection test (measured 4x slower at sf0.1)
    ga, gb = g.alias("ga"), g.alias("gb")
    inter = (
        ga.join(
            gb,
            (F.col("ga.gram") == F.col("gb.gram"))
            & (F.col("ga.source") == F.col("gb.source"))
            & (F.col("ga.doc_id") < F.col("gb.doc_id")),
        )
        .groupBy(
            F.col("ga.doc_id").alias("doc_a"), F.col("gb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.selectExpr("doc_id AS doc_a", "n AS na")
    sb = sizes.selectExpr("doc_id AS doc_b", "n AS nb")
    return (
        # sizes is corpus-sized (a row per doc): no broadcast hint — the
        # intersection output is collision-scale, so AQE broadcasts THAT
        # side when small instead
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_common").cast("double") / F.least("na", "nb")
            >= _CONT_THRESHOLD
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common").cast("double") / F.col("na"), 4).alias(
                "cont_a_in_b"
            ),
            F.round(F.col("n_common").cast("double") / F.col("nb"), 4).alias(
                "cont_b_in_a"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- quality-weighted corpus subsampling ------------------------------------

_WS_PER_LANG = 20  # sampled docs per language stratum


@query(
    "ext_weighted_sample",
    f"""
    WITH q AS (
      SELECT doc_id, lang, {TOK_DUCK} AS w,
             (CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 1) / 4294967297.0 AS u
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             -ln(u) / greatest(len(w), 1) AS es_key
      FROM q WHERE len(w) > 0
    ),
    ranked AS (
      SELECT doc_id, lang, es_key,
             row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rk
      FROM scored
    )
    SELECT lang, doc_id, round(es_key, 9) AS es_key
    FROM ranked WHERE rk <= {_WS_PER_LANG} ORDER BY lang, doc_id
    """,
)
def ext_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement per language stratum —
    Efraimidis-Spirakis A-ES: draw u ~ Uniform(0,1], keep the k smallest
    -ln(u)/w keys, giving inclusion probability proportional to weight w
    (here w = token count: longer docs are worth more sampling mass;
    swap in a quality score for quality-weighted subsampling). The
    'random' u is a salted md5 of the doc id — deterministic,
    engine-portable, reproducible across runs, and independent of the
    weight.

    Scale: one map to keys, one shuffle on the stratum for the per-lang
    top-k window (bounded partitions — strata, not corpus); at extreme
    stratum sizes the rank window becomes per-partition heaps + merge
    (TakeOrdered per stratum). No collect, no RNG state."""
    d = t(spark, sf_dir, "documents")
    u = (md5_int("wsample:", F.col("doc_id").cast("string")) + 1) / F.lit(4294967297.0)
    w = tok_spark(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        (-F.log(u) / F.greatest(F.size(w), F.lit(1))).alias("es_key"),
        F.size(w).alias("n_toks"),
    ).filter(F.col("n_toks") > 0)
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.partitionBy("lang").orderBy("es_key", "doc_id"))
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= _WS_PER_LANG)
        .select("lang", "doc_id", F.round("es_key", 9).alias("es_key"))
        .orderBy("lang", "doc_id")
    )


# --- vocabulary coverage curve ----------------------------------------------

_VC_KS = (1, 5, 10, 20, 50, 100)


@query(
    "ext_vocab_coverage",
    f"""
    WITH toks AS (SELECT unnest({TOK_DUCK}) AS tok FROM documents),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT {max(_VC_KS)}),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM top
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt),
    ks AS (SELECT unnest(ARRAY{list(_VC_KS)}) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(sum(ranked.c) AS BIGINT) AS covered_tokens,
           round(CAST(sum(ranked.c) AS DOUBLE) / any_value(tot.n_total), 6) AS coverage
    FROM ks JOIN ranked ON ranked.r <= ks.k CROSS JOIN tot
    GROUP BY ks.k ORDER BY k
    """,
)
def ext_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of the corpus token MASS
    the top-k types cover, for k in {_VC_KS} — the datasheet curve that
    sizes a tokenizer vocab (where it flattens is where added vocab
    stops paying) and pairs with ext_zipf_fit's slope.

    Scale: one token hash-agg; the curve itself runs on the top-k
    LIMITed relation (rank via the same bounded rank idiom as
    ext_zipf_fit — here a range join of the tiny k list against ranked
    counts, both broadcast-sized)."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(tok_spark(F.col("text"))).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    top = cnt.orderBy(F.col("c").desc(), "tok").limit(max(_VC_KS))
    a, b = top.alias("a"), top.alias("b")
    before = (F.col("b.c") > F.col("a.c")) | (
        (F.col("b.c") == F.col("a.c")) & (F.col("b.tok") < F.col("a.tok"))
    )
    ranked = (
        a.join(F.broadcast(b), before, "left")
        .groupBy(F.col("a.tok"), F.col("a.c"))
        .agg((F.count(F.col("b.tok")) + 1).alias("r"))
        .select(F.col("a.c").alias("c"), "r")
    )
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n_total"))
    ks = t(spark, sf_dir, "documents").sparkSession.createDataFrame(
        [(k,) for k in _VC_KS], "k long"
    )
    return (
        F.broadcast(ks)
        .join(ranked, ranked["r"] <= ks["k"])
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum("c").cast("bigint").alias("covered_tokens"),
            F.round(
                F.sum("c").cast("double") / F.any_value(F.col("n_total")), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )


# --- classifier calibration audit (r14) -------------------------------------
# The learned-model slot got a scorer (ext_quality_classifier); this is the
# audit that decides whether its probabilities can be TRUSTED to gate data:
# a reliability table against an independent quality signal (the Gopher rule
# battery) — the standard check before thresholding a classifier over 100 TB.


def _calibration_sql() -> str:
    # Compose the two REGISTERED oracle statements verbatim (DuckDB allows
    # a full WITH statement inside a parenthesized subquery), so this
    # oracle can never drift from the chains it audits.
    qc_sql = ORACLES["ext_quality_classifier"]
    gr_sql = ORACLES["ext_gopher_rules"]
    mean_pred = (
        "round(CAST(sum(CAST(quality_prob AS DECIMAL(28,12))) AS DOUBLE)"
        " / count(*), 6)"
    )
    pass_rate = "round(CAST(count(*) FILTER (passed) AS DOUBLE) / count(*), 6)"
    return f"""
    WITH qc AS (FROM ({qc_sql})),
    gr AS (FROM ({gr_sql})),
    j AS (
      SELECT least(CAST(floor(qc.quality_prob * 10) AS BIGINT), 9) AS bin,
             qc.quality_prob, gr.passed
      FROM qc JOIN gr USING (doc_id)
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           {mean_pred} AS mean_predicted,
           {pass_rate} AS rule_pass_rate,
           round({mean_pred} - {pass_rate}, 6) AS calibration_gap
    FROM j GROUP BY 1 ORDER BY 1
    """


@query("ext_classifier_calibration", _calibration_sql())
def ext_classifier_calibration(spark, sf_dir):
    """Reliability table of the learned quality classifier against the
    Gopher rule battery (r14): decile bins of predicted keep-probability
    -> doc count, decimal-exact mean predicted probability, observed
    rule-battery pass rate, and their gap. A well-calibrated model's
    gap is ~0 per bin; a large positive gap says the model is
    over-confident exactly where thresholding would KEEP bad data —
    the audit a deployment runs before gating a 100 TB corpus on
    model scores, and the loop-closer for the learned-model slot
    (score -> calibrate -> threshold).

    Scale: both inputs are map-only featurizers over the corpus; the
    audit joins them on doc_id (co-partitioned hash join, no skew — the
    key is unique per side) and reduces to <= 10 bins with map-side
    partials. Binning floor(p*10) happens on the SAME 6-dp-rounded
    double in both engines, so bin edges cannot disagree. Oracle: the
    two registered oracle statements composed verbatim as subqueries.
    Reference parity: [E] extension (BASELINE north-star 'quality
    scoring'); no reference twin."""

    qc = ext_quality_classifier(spark, sf_dir).select("doc_id", "quality_prob")
    gr = ext_gopher_rules(spark, sf_dir).select("doc_id", "passed")
    j = qc.join(gr, "doc_id").select(
        F.least(F.floor(F.col("quality_prob") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        "quality_prob",
        "passed",
    )
    mean_pred = F.round(
        F.sum(F.col("quality_prob").cast("decimal(28,12)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    pass_rate = F.round(
        F.count_if(F.col("passed")).cast("double") / F.count(F.lit(1)), 6
    )
    return (
        j.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            mean_pred.alias("mean_predicted"),
            pass_rate.alias("rule_pass_rate"),
        )
        .withColumn(
            "calibration_gap",
            F.round(F.col("mean_predicted") - F.col("rule_pass_rate"), 6),
        )
        .orderBy("bin")
    )
