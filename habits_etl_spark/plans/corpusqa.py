"""Operators, wave 28: corpus QA + embedding quantization — the
pre-training data-health checks a curation pipeline runs BEFORE the
dedup/quality passes this engine already has:

- ``ext_utf8_quality_audit``: per-source encoding health (control
  characters, non-ASCII mass, U+FFFD replacement-char docs, printable
  ratio) — the mojibake screen that catches a broken extractor or a
  mis-declared charset upstream of any language/quality model.
- ``ext_source_nchars_quantiles``: EXACT per-source length quantiles
  (continuous-interpolation median and p90) via the grouped two-pass
  rank (operators/distrank.with_group_position) — the few-large-groups
  regime where ``percentile_cont() OVER (PARTITION BY source)`` would
  pin each source's full sort on one task.
- ``ext_source_reuse_matrix``: cross-source verbatim reuse — the count
  of distinct 8-gram shingles shared by each source pair. Doc-level
  near-dup ops (ext_ngram_jaccard_blocked) rank document pairs; this is
  the corpus-level mirror-detection matrix (which crawls/feeds copy
  each other) that decides dedup ORDER and licensing review.
- ``ext_int8_quantize``: symmetric per-dimension absmax int8 scalar
  quantization of the embedding table with a per-label reconstruction
  report (MSE, max abs error) — the memory-4x step before ANN serving,
  complementing PQ (ext_pq_codes) with the no-codebook variant.

Reference parity: the reference has no such surface; these extend it
per the BASELINE north-star list (text analysis, similarity search).

Cross-engine rules (plans/common.py): regex char classes are shared
RE2/Java-compatible hex-escape classes; every float formula is written
with IDENTICAL association in both engines; unordered float sums pass
through exact DECIMAL accumulation (rule 1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.operators.distrank import with_group_position
from habits_etl_spark.plans.common import managed_cache, query, t

# Shared RE2-and-Java-safe character classes (hex escapes only).
_CTRL = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"  # C0 controls minus \t\n\r
_NONASCII = r"[^\x00-\x7f]"
_PRINTABLE = r"[\x20-\x7e\t\n\r]"
_REPL_CHAR = "�"


@query(
    "ext_utf8_quality_audit",
    f"""
    WITH per_doc AS (
      SELECT source,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '{_CTRL}', '', 'g'))
               AS n_ctrl,
             length(text) - length(regexp_replace(text, '{_NONASCII}', '', 'g'))
               AS n_nonascii,
             length(regexp_replace(text, '[^{_PRINTABLE[1:-1]}]', '', 'g'))
               AS n_printable,
             CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END AS has_repl
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ctrl_docs,
           CAST(sum(n_nonascii) AS BIGINT) AS nonascii_chars,
           CAST(sum(has_repl) AS BIGINT) AS replacement_docs,
           round(CAST(sum(CAST(
             CASE WHEN n > 0 THEN CAST(n_printable AS DOUBLE) / n ELSE 1.0 END
             AS DECIMAL(18,12))) AS DOUBLE) / count(*), 6) AS printable_ratio
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def ext_utf8_quality_audit(spark, sf_dir):
    """Per-source encoding-health audit: docs containing C0 control
    characters (broken extraction), total non-ASCII codepoints, docs
    carrying U+FFFD (a decoder already gave up upstream), and the mean
    printable-character ratio — the screen run before any language or
    quality model sees the text.

    Scale: pure map battery (three regexp_replace length-diffs + one
    contains per row) feeding ONE hash-aggregate over |sources| groups
    with map-side partials; no joins, no windows. The ratio mean sums
    per-doc ratios in DECIMAL then divides once (rule 1). Both engines
    count length() in codepoints and share the RE2/Java hex-escape
    character classes."""
    d = t(spark, sf_dir, "documents")
    n = F.length("text")
    n_ctrl = n - F.length(F.regexp_replace("text", _CTRL, ""))
    n_nonascii = n - F.length(F.regexp_replace("text", _NONASCII, ""))
    n_printable = F.length(
        F.regexp_replace("text", f"[^{_PRINTABLE[1:-1]}]", "")
    )
    ratio = F.when(n > 0, n_printable.cast("double") / n).otherwise(F.lit(1.0))
    per = d.select(
        "source",
        n_ctrl.alias("n_ctrl"),
        n_nonascii.alias("n_nonascii"),
        F.when(F.col("text").contains(_REPL_CHAR), 1).otherwise(0).alias(
            "has_repl"
        ),
        ratio.alias("ratio"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_ctrl") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("ctrl_docs"),
            F.sum("n_nonascii").cast("bigint").alias("nonascii_chars"),
            F.sum("has_repl").cast("bigint").alias("replacement_docs"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("printable_ratio"),
        )
        .orderBy("source")
    )


@query(
    "ext_source_nchars_quantiles",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) AS p90
    FROM documents GROUP BY source ORDER BY source
    """,
)
def ext_source_nchars_quantiles(spark, sf_dir):
    """EXACT continuous-interpolation length quantiles (median, p90)
    per source — the distribution check behind length-based quality
    cuts, computed distributed: source is a FEW-LARGE-GROUPS partition
    key (each source holds a corpus-scale slab), so per-group positions
    come from with_group_position's range-bucket decomposition instead
    of a partitioned window that would single-task each source's sort.

    From (rn, n) per row, quantile q sits at position 1 + q(n-1); the
    two bracketing rows are picked by rank and interpolated with the
    SAME v_lo + (v_hi - v_lo)*frac association DuckDB's quantile_cont
    uses, so the doubles match bit-for-bit before rounding. The
    aggregate keeps only one value per bracket rank (max of a single
    match) — fully order-independent."""
    d = t(spark, sf_dir, "documents")
    base = d.select(
        "source", F.col("n_chars").cast("double").alias("v"), "doc_id"
    )
    pos = with_group_position(base, ["source"], ["v", "doc_id"])
    n, rn = F.col("group_count"), F.col("rn")

    def bracket(q: float, side: str):
        p = 1 + F.lit(q) * (n - 1)
        at = F.floor(p) if side == "lo" else F.ceil(p)
        return F.max(F.when(rn == at, F.col("v")))

    agg = pos.groupBy("source").agg(
        F.max(n).alias("n"),
        bracket(0.5, "lo").alias("lo50"),
        bracket(0.5, "hi").alias("hi50"),
        bracket(0.9, "lo").alias("lo90"),
        bracket(0.9, "hi").alias("hi90"),
    )

    def interp(q: float, lo: str, hi: str):
        p = 1 + F.lit(q) * (F.col("n") - 1)
        frac = p - F.floor(p)
        return F.round(F.col(lo) + (F.col(hi) - F.col(lo)) * frac, 4)

    return agg.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        interp(0.5, "lo50", "hi50").alias("p50"),
        interp(0.9, "lo90", "hi90").alias("p90"),
    ).orderBy("source")


_GRAM_N = 8


@query(
    "ext_source_reuse_matrix",
    f"""
    WITH toks AS (
      SELECT source, {TOK_DUCK} AS w FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             md5(array_to_string(w[i:i+{_GRAM_N - 1}], ' ')) AS h
      FROM toks,
           unnest(range(1, greatest(len(w) - {_GRAM_N - 1}, 0) + 1)) AS t(i)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_8grams
    FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ext_source_reuse_matrix(spark, sf_dir):
    """Cross-source verbatim-reuse matrix: for every source pair, the
    number of DISTINCT 8-gram word shingles both emit — the
    mirror/syndication detector that tells a curation pipeline which
    feeds copy each other (and therefore which to dedup first and at
    what granularity). Doc-level twins rank document pairs
    (ext_ngram_jaccard_blocked); this is the source-level rollup.

    Scale: shingles are map-side (one transform per doc), reduced to
    DISTINCT (source, md5) — the only data-sized shuffle. The pair join
    then joins per-gram posting lists each capped at |sources| rows, so
    its fanout is ≤ |sources|² per gram, never doc-scale; the final
    aggregate has ≤ C(|sources|,2) groups. No all-pairs over docs
    anywhere."""
    d = t(spark, sf_dir, "documents")
    w = tok_spark(F.col("text"))
    idx = F.when(
        F.size(w) >= _GRAM_N, F.sequence(F.lit(1), F.size(w) - (_GRAM_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = d.select(
        "source",
        F.explode(
            F.transform(
                idx,
                lambda i: F.md5(F.array_join(F.slice(w, i, _GRAM_N), " ")),
            )
        ).alias("h"),
    ).distinct()
    g = managed_cache(grams, "ext_source_reuse_matrix/grams")
    a = g.alias("a")
    b = g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_8grams"))
        .orderBy("source_a", "source_b")
    )


@query(
    "ext_int8_quantize",
    """
    WITH d AS (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    ),
    am AS (SELECT dim, max(abs(x)) AS am FROM d GROUP BY dim),
    r AS (
      SELECT label, x,
             CASE WHEN am > 0
                  THEN floor(x * 127 / am + 0.5) * am / 127
                  ELSE 0.0 END AS deq
      FROM d JOIN am USING (dim)
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vals,
           round(CAST(sum(CAST((x - deq) * (x - deq) AS DECIMAL(30,22)))
                 AS DOUBLE) / count(*), 10) AS mse,
           round(max(abs(x - deq)), 8) AS max_abs_err
    FROM r GROUP BY label ORDER BY label
    """,
)
def ext_int8_quantize(spark, sf_dir):
    """Symmetric per-dimension absmax int8 scalar quantization of the
    embedding table, reported as a per-label reconstruction audit (MSE
    and max absolute error) — the 4x-memory step before ANN serving and
    the no-codebook complement to PQ (ext_pq_codes). q = round(x·127 /
    absmax_dim) with explicit floor(+0.5) rounding so both engines tie
    identically; dequantized value q·absmax/127.

    Scale: the per-dim absmax is one |dims|-group aggregate (64 rows —
    broadcast back); quantize/error is map-side; the report is one
    |labels|-group aggregate. MSE sums squared errors in DECIMAL(30,22)
    (exact, order-independent) and divides once; every float expression
    keeps the same association in both engines."""
    e = t(spark, sf_dir, "embeddings")
    d = e.select(
        "label", F.posexplode("embedding").alias("dim", "xf")
    ).select("label", "dim", F.col("xf").cast("double").alias("x"))
    dd = managed_cache(d, "ext_int8_quantize/dims")
    am = dd.groupBy("dim").agg(F.max(F.abs("x")).alias("am"))
    x, a = F.col("x"), F.col("am")
    deq = F.when(
        a > 0, F.floor(x * 127 / a + 0.5) * a / 127
    ).otherwise(F.lit(0.0))
    r = dd.join(F.broadcast(am), "dim").select(
        "label", x.alias("x"), deq.alias("deq")
    )
    err = F.col("x") - F.col("deq")
    return (
        r.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vals"),
            F.round(
                F.sum((err * err).cast("decimal(30,22)")).cast("double")
                / F.count(F.lit(1)),
                10,
            ).alias("mse"),
            F.round(F.max(F.abs(err)), 8).alias("max_abs_err"),
        )
        .orderBy("label")
    )


def _dec_sq_sum(col_arr):
    """Exact DECIMAL(30,22) fold of sum(x^2) over an array column in
    element order — both engines accumulate the identical per-element
    decimals, so the sums are bit-equal (rule 1 applied to array folds;
    scale 22 with 8 integer digits never rounds for |x| <= ~30 across
    <= 10^4 dims)."""
    zero = F.lit(0).cast("decimal(30,22)")
    return F.aggregate(
        col_arr,
        zero,
        lambda a, x: (a + (x * x).cast("decimal(30,22)")).cast(
            "decimal(30,22)"
        ),
    )


@query(
    "ext_embedding_energy_profile",
    """
    WITH d AS (
      SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    ),
    per_vec AS (
      SELECT label, vec_id,
             sum(CASE WHEN dim < 8  THEN CAST(x*x AS DECIMAL(30,22)) END) AS e8,
             sum(CASE WHEN dim < 16 THEN CAST(x*x AS DECIMAL(30,22)) END) AS e16,
             sum(CASE WHEN dim < 32 THEN CAST(x*x AS DECIMAL(30,22)) END) AS e32,
             sum(CAST(x*x AS DECIMAL(30,22))) AS etot
      FROM d GROUP BY label, vec_id
    ),
    r AS (
      SELECT label,
             CAST(e8 AS DOUBLE) / CAST(etot AS DOUBLE) AS r8,
             CAST(e16 AS DOUBLE) / CAST(etot AS DOUBLE) AS r16,
             CAST(e32 AS DOUBLE) / CAST(etot AS DOUBLE) AS r32
      FROM per_vec WHERE CAST(etot AS DOUBLE) > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(CAST(r8 AS DECIMAL(18,12))) AS DOUBLE)
                 / count(*), 6) AS energy_8,
           round(CAST(sum(CAST(r16 AS DECIMAL(18,12))) AS DOUBLE)
                 / count(*), 6) AS energy_16,
           round(CAST(sum(CAST(r32 AS DECIMAL(18,12))) AS DOUBLE)
                 / count(*), 6) AS energy_32,
           round(CAST(sum(CAST(sqrt(r16) AS DECIMAL(18,12))) AS DOUBLE)
                 / count(*), 6) AS trunc16_cos
    FROM r GROUP BY label ORDER BY label
    """,
)
def ext_embedding_energy_profile(spark, sf_dir):
    """Matryoshka-style truncation audit of the embedding table: per
    label, the mean fraction of squared-norm energy carried by the
    first 8/16/32 dimensions, and the mean cosine between each vector
    and its 16-dim truncation (= sqrt of the energy ratio) — the
    dashboard that decides whether ANN serving can run on truncated
    vectors (a 4x memory/compute cut) before committing to int8/PQ.

    Scale: entirely map-side — each vector folds its own array slices
    into exact DECIMAL energy sums (no per-dimension explode, no
    shuffle beyond the final |labels|-group aggregate with map-side
    partials). The oracle reaches the identical decimals through an
    unnest + group (its only option), proving slice-fold and
    explode-sum agree exactly."""
    e = t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("label", v.alias("v")).select(
        "label",
        _dec_sq_sum(F.slice("v", 1, 8)).alias("e8"),
        _dec_sq_sum(F.slice("v", 1, 16)).alias("e16"),
        _dec_sq_sum(F.slice("v", 1, 32)).alias("e32"),
        _dec_sq_sum(F.col("v")).alias("etot"),
    )
    et = F.col("etot").cast("double")
    rat = base.filter(et > 0).select(
        "label",
        (F.col("e8").cast("double") / et).alias("r8"),
        (F.col("e16").cast("double") / et).alias("r16"),
        (F.col("e32").cast("double") / et).alias("r32"),
    )

    def dmean(c):
        return F.round(
            F.sum(c.cast("decimal(18,12)")).cast("double") / F.count(F.lit(1)),
            6,
        )

    return (
        rat.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            dmean(F.col("r8")).alias("energy_8"),
            dmean(F.col("r16")).alias("energy_16"),
            dmean(F.col("r32")).alias("energy_32"),
            dmean(F.sqrt("r16")).alias("trunc16_cos"),
        )
        .orderBy("label")
    )
