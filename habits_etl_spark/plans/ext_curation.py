"""Pretraining-corpus curation operators, wave 3: sequence packing,
benchmark decontamination, and intra-document repetition screening.

These are the remaining first-class ops a 100 TB training-data pipeline
runs between "documents admitted" (ext_admission_decision) and "tokens on
GPUs": lay documents out into fixed context windows, prove the corpus
does not contain the eval set, and drop degenerate repetitive text.
Reference parity: the reference has no curation surface; these extend it
per the BASELINE north-star list, like plans/ext_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.functions.bpe import (
    PRETOK_SPARK,
    train_bpe_merges,
    with_bpe_token_count,
)
from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.plans.common import ORACLES, query, t

# --- sequence packing -------------------------------------------------------

_PACK_WINDOW = 256  # tokens per training sequence


@query(
    "ext_seq_packing",
    f"""
    WITH toks AS (
      SELECT doc_id, source, len({TOK_DUCK}) AS n_tokens FROM documents
    ),
    offs AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_offset
      FROM toks
    )
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(start_offset // {_PACK_WINDOW} AS BIGINT) AS first_seq,
           CAST((start_offset + greatest(n_tokens, 1) - 1) // {_PACK_WINDOW} AS BIGINT) AS last_seq
    FROM offs ORDER BY doc_id
    """,
)
def ext_seq_packing(spark, sf_dir):
    """Concatenate-and-chunk sequence packing (the GPT-style pretraining
    layout): within each shard (``source``), documents are concatenated
    in doc_id order and cut into {_PACK_WINDOW}-token context windows.
    Output per document: its token count, start offset in the shard's
    token stream, and the first/last sequence ids it lands in — the
    manifest a tokenizer/loader consumes to materialize training
    sequences (and to attribute any sequence back to its documents).

    Scale: one window cumsum PARTITIONED BY SHARD — never a global
    ordering. Shards are the unit a real pipeline packs independently
    (files/sources), so the shuffle is by source and each partition does
    a local sort; 1000 executors pack 1000 shards concurrently. Token
    counts here are whitespace counts (ext_token_count's convention);
    swapping in BPE counts changes the map stage only."""
    return seq_packing_over(t(spark, sf_dir, "documents"))


def seq_packing_over(d, n_tokens_col=None):
    """Packing manifest over any documents-like DataFrame (doc_id, source,
    text). Factored out so a composed pipeline can pack exactly the
    ADMITTED corpus — offsets computed over a superset would leave gaps
    for rejected docs' tokens and mis-place every sequence boundary
    (examples/curation_pipeline.py).

    ``n_tokens_col``: optional Column of per-doc token counts to pack by
    (e.g. BPE counts from functions/bpe.with_bpe_token_count — the
    token-accurate convention a real pretraining loader needs). Default
    stays the whitespace convention, which is what the DuckDB oracle
    mirrors."""
    n_tokens = (
        n_tokens_col.cast("bigint")
        if n_tokens_col is not None
        else F.size(tok_spark(F.col("text"))).cast("bigint")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = d.select("doc_id", "source", n_tokens.alias("n_tokens")).withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    )
    # integer floor-div (`div`), NOT double `/` + cast: a shard offset
    # beyond 2^53 would lose precision in the double and mis-place
    # sequence boundaries by one (oracle uses exact `//` likewise)
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {_PACK_WINDOW}").alias("first_seq"),
        F.expr(
            f"(start_offset + greatest(n_tokens, 1L) - 1) div {_PACK_WINDOW}"
        ).alias("last_seq"),
    ).orderBy("doc_id")


# --- benchmark decontamination ---------------------------------------------

_CONTAM_N = 13  # the published GPT-3 decontamination n-gram size


def _gram_sql(n: int) -> str:
    return (
        f"list_transform(generate_series(1, len(w) - {n - 1}), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' '))"
    )


@query(
    "ext_contamination_ngram",
    f"""
    WITH toks AS (
      SELECT doc_id, {TOK_DUCK} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, unnest({_gram_sql(_CONTAM_N)}) AS gram
      FROM toks WHERE len(w) >= {_CONTAM_N}
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
    SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS shared_ngrams
    FROM g JOIN bench USING (gram)
    WHERE g.doc_id % 50 != 0
    GROUP BY 1 ORDER BY 1
    """,
)
def ext_contamination_ngram(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C layout): a training
    document is contaminated if it shares any {_CONTAM_N}-gram with the
    held-out eval set. The eval set here is the deterministic stand-in
    ``doc_id % 50 == 0`` (in production: the actual benchmark corpus).
    Emits the contaminated docs with their shared-distinct-gram count —
    the removal list plus the evidence.

    Scale: the eval side is tiny by construction (benchmarks are MBs,
    corpora are TBs) — its distinct gram set builds once and BROADCASTS;
    the corpus side is a pure map (gram explode) + broadcast semi-join +
    per-doc count, no corpus shuffle. Gram strings are exploded here for
    oracle parity; at 100 TB hash each gram to int64 first (xxhash64) so
    the broadcast and the probe carry 8 bytes per gram."""
    d = t(spark, sf_dir, "documents")
    w = F.col("w")
    grams = F.expr(
        f"transform(sequence(1, size(w) - {_CONTAM_N - 1}), "
        + "i -> concat_ws(' ', "
        + ", ".join(f"element_at(w, i + {k})" for k in range(_CONTAM_N))
        + "))"
    )
    g = (
        d.select("doc_id", tok_spark(F.col("text")).alias("w"))
        .filter(F.size(w) >= _CONTAM_N)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    bench = g.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    return (
        g.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("shared_ngrams"))
        .orderBy("doc_id")
    )


# --- repetition screening ---------------------------------------------------

# Gopher's published top-2-gram threshold is 0.20 for web text; this
# fixture's synthetic docs are far less repetitive, so the query ships a
# tighter screen to keep the flag non-vacuous (33/500 docs at sf0.01).
_REP_TOP2_MAX = 0.08


@query(
    "ext_repetition_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, {TOK_DUCK} AS w FROM documents
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1])) AS gram
      FROM toks WHERE len(w) >= 2
    ),
    c AS (SELECT doc_id, gram, count(*) AS n FROM g2 GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS top_bigram_frac,
           CAST(max(n) AS DOUBLE) / sum(n) > {_REP_TOP2_MAX} AS flagged
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def ext_repetition_stats(spark, sf_dir):
    """Intra-document repetition screen (Gopher rules, Rae et al. 2021
    table A1: drop docs whose most frequent n-gram exceeds a share of the
    text): per doc, the share of the top bigram among all bigrams, and a
    flag at {_REP_TOP2_MAX} (Gopher publishes 0.20 for web text; see
    constant note). Degenerate generator/boilerplate text fails this
    screen long before a perplexity filter sees it.

    Scale: gram explode -> two hash-aggregates keyed by (doc_id, gram)
    then doc_id — both with map-side partial aggregation, the same cost
    class as word count. No joins, no windows."""
    d = t(spark, sf_dir, "documents")
    w = F.col("w")
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"
    )
    c = (
        d.select("doc_id", tok_spark(F.col("text")).alias("w"))
        .filter(F.size(w) >= 2)
        .select("doc_id", F.explode(bigrams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top_frac = F.max("n").cast("double") / F.sum("n")
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
            (top_frac > _REP_TOP2_MAX).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# --- BPE token counting (oracle-gated via full training replay) -------------


def _bpe_oracle_sql() -> str:
    """The WHOLE BPE lifecycle restated in DuckDB — the last rows-only id
    whose blocker was not engine-internal randomness (r11 directive #5).
    Two recursions, the k-core aggregates-over-recursive-reference
    precedent applied twice:

    1. TRAINING REPLAY (``tr``): each recursive level holds the word
       table's current symbol sequences; one level = one merge round =
       pick the single best pair (sum(freq) DESC, pair lexicographically
       GREATEST — the Python max((count, pair)) tie-break) and apply it
       simultaneously with RUN-PARITY overlap handling: when a == b a
       run of k consecutive matches merges at even offsets only, exactly
       the operator's left-to-right non-overlap scan ('aaaa' + (a,a) ->
       [aa, aa]). The chosen pair is emitted as marker rows (kind 1/2)
       carrying its rank. Terminates after {n_merges} rounds or when no
       pair reaches count 2, like the trainer.
    2. RANK-GREEDY APPLY (``app``): over the DISTINCT pre-tokens of the
       corpus, each recursive level merges exactly ONE pair per word —
       the leftmost of minimum learned rank — the operator's while-loop;
       words drop out of the recursion when no pair has a rank, and the
       final token count is the last level's symbol count (bare '</w>'
       not a token). Per-word counts then join back to per-doc
       occurrences, which is also how the Arrow stage amortizes
       (per-task word cache).

    Writing this replay caught a real operator bug: Spark SQL's string
    literal collapsed '\\s' to 's' in the training pre-tokenizer, which
    admitted SPACES as pre-tokens and spent merge rank 0 on (' ','</w>')
    — fixed by passing the pattern as a Column literal (functions/
    bpe.py). The recursion is a CHECK, not the engine: depth is bounded
    by {n_merges} rounds / max pre-token length, rows per level by the
    {max_words}-word table, never by corpus size."""

    n_merges, max_words = 64, 50_000
    best = f"""
        SELECT a, b FROM (
          SELECT cc.sym AS a,
                 lead(cc.sym) OVER (PARTITION BY cc.w ORDER BY cc.pos) AS b,
                 cc.freq
          FROM tr cc WHERE cc.kind = 0
        ) WHERE b IS NOT NULL
        GROUP BY a, b HAVING sum(freq) >= 2
        ORDER BY sum(freq) DESC, a DESC, b DESC LIMIT 1"""
    return f"""
    WITH RECURSIVE
    words AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(text, '{PRETOK_SPARK}')) AS w
            FROM documents)
      GROUP BY w ORDER BY freq DESC, w LIMIT {max_words}
    ),
    tr AS (
      SELECT 0 AS rnd, 0 AS kind, w, freq,
             CAST(i - 1 AS INT) AS pos,
             CASE WHEN i <= length(w) THEN substr(w, CAST(i AS INT), 1)
                  ELSE '</w>' END AS sym
      FROM words, unnest(range(1, length(w) + 2)) AS t(i)
      UNION ALL
      (
        SELECT nxt_rnd, kind, w, freq, pos, sym
        FROM (
          SELECT s.rnd + 1 AS nxt_rnd, 0 AS kind, s.w, s.freq,
                 CAST(row_number() OVER (PARTITION BY s.w ORDER BY s.pos) - 1
                      AS INT) AS pos,
                 CASE WHEN s.do_merge THEN s.sym || s.nxt ELSE s.sym END AS sym
          FROM (
            SELECT * FROM (
              SELECT q.*,
                     coalesce(lag(q.do_merge) OVER (PARTITION BY q.w ORDER BY q.pos),
                              FALSE) AS consumed
              FROM (
                SELECT p.*,
                       p.m AND (row_number() OVER (PARTITION BY p.w, p.grp, p.m
                                                   ORDER BY p.pos) % 2 = 1)
                         AS do_merge
                FROM (
                  SELECT f.*,
                         CASE WHEN f.m THEN f.pos - row_number()
                              OVER (PARTITION BY f.w, f.m ORDER BY f.pos) END AS grp
                  FROM (
                    SELECT c.rnd, c.w, c.freq, c.pos, c.sym,
                           lead(c.sym) OVER (PARTITION BY c.w ORDER BY c.pos) AS nxt,
                           (c.sym = bp.a AND lead(c.sym)
                              OVER (PARTITION BY c.w ORDER BY c.pos) = bp.b) AS m
                    FROM tr c CROSS JOIN ({best}
                    ) bp
                    WHERE c.kind = 0 AND c.rnd < {n_merges}
                  ) f
                ) p
              ) q
            ) r WHERE NOT r.consumed
          ) s
        )
        UNION ALL
        SELECT mk.rnd, mk.kind, '' AS w, CAST(0 AS BIGINT) AS freq, 0 AS pos, mk.sym
        FROM (
          SELECT c3.rnd, 1 AS kind, bb.a AS sym
          FROM (SELECT DISTINCT rnd FROM tr WHERE kind = 0 AND rnd < {n_merges}) c3
          CROSS JOIN ({best}
          ) bb
          UNION ALL
          SELECT c5.rnd, 2 AS kind, bb2.b AS sym
          FROM (SELECT DISTINCT rnd FROM tr WHERE kind = 0 AND rnd < {n_merges}) c5
          CROSS JOIN ({best}
          ) bb2
        ) mk
      )
    ),
    merges AS MATERIALIZED (
      SELECT rnd AS rank,
             max(CASE WHEN kind = 1 THEN sym END) AS a,
             max(CASE WHEN kind = 2 THEN sym END) AS b
      FROM tr WHERE kind > 0 GROUP BY rnd
    ),
    doc_words AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(text, '{PRETOK_SPARK}')) AS w
      FROM documents
    ),
    vocab AS MATERIALIZED (SELECT DISTINCT w FROM doc_words),
    app AS (
      SELECT 0 AS it, w, CAST(i - 1 AS INT) AS pos,
             CASE WHEN i <= length(w) THEN substr(w, CAST(i AS INT), 1)
                  ELSE '</w>' END AS sym
      FROM vocab, unnest(range(1, length(w) + 2)) AS t(i)
      UNION ALL
      SELECT it + 1 AS it, w,
             CAST(row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS INT) AS pos,
             CASE WHEN pos = bpos THEN sym || nxt ELSE sym END AS sym
      FROM (
        SELECT c.it, c.w, c.pos, c.sym,
               lead(c.sym) OVER (PARTITION BY c.w ORDER BY c.pos) AS nxt,
               b.bpos
        FROM app c JOIN (
          SELECT w, pos AS bpos FROM (
            SELECT p.w, p.pos,
                   row_number() OVER (PARTITION BY p.w ORDER BY m.rank, p.pos) AS rn
            FROM (
              SELECT c2.w, c2.pos, c2.sym,
                     lead(c2.sym) OVER (PARTITION BY c2.w ORDER BY c2.pos) AS nxt
              FROM app c2
            ) p JOIN merges m ON m.a = p.sym AND m.b = p.nxt
          ) WHERE rn = 1
        ) b ON b.w = c.w
      ) WHERE pos <> bpos + 1
    ),
    last_lvl AS MATERIALIZED (SELECT w, max(it) AS mit FROM app GROUP BY w),
    word_tokens AS MATERIALIZED (
      SELECT a.w,
             CAST(count(*) - sum(CASE WHEN a.sym = '</w>' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n
      FROM app a JOIN last_lvl l ON l.w = a.w AND a.it = l.mit
      GROUP BY a.w
    ),
    bpe AS MATERIALIZED (
      SELECT dw.doc_id, CAST(sum(wt.n) AS BIGINT) AS n_tokens_bpe
      FROM doc_words dw JOIN word_tokens wt USING (w) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
             AS n_tokens_ws,
           CAST(coalesce(b.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe
    FROM documents d LEFT JOIN bpe b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


@query("ext_token_count_bpe", _bpe_oracle_sql())
def ext_token_count_bpe(spark, sf_dir):
    """Subword token counts from a REAL learned BPE merge table
    (functions/bpe.py; Sennrich et al. 2016) next to the whitespace
    convention — the token-accurate basis for packing/mixing budgets.

    ORACLE-GATED since r12 (was the last fixable rows-only id): the
    DuckDB twin replays the ENTIRE lifecycle — all 64 training rounds as
    a recursive CTE (per-round pair counts, the (count, pair) max
    tie-break, run-parity non-overlap merge application) and the
    rank-greedy apply loop as a second recursion over distinct
    pre-tokens (_bpe_oracle_sql above). Training determinism,
    executor-vs-driver application parity, and cumsum-exact packing on
    these counts remain asserted in tests/test_bpe.py.

    Scale: training is one distributed pair-count aggregate per merge
    round over the bounded word-frequency table; application is an
    Arrow-batched map stage (broadcast ranks, per-task word cache) — no
    shuffle beyond the output ORDER BY, which a pipeline consumer drops."""

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    merges = train_bpe_merges(spark, d, n_merges=64)
    return (
        with_bpe_token_count(d, merges)
        .select(
            "doc_id",
            F.size(tok_spark(F.col("text"))).cast("bigint").alias("n_tokens_ws"),
            "n_tokens_bpe",
        )
        .orderBy("doc_id")
    )


def _fertility_oracle_sql() -> str:
    """Composes the REGISTERED ext_token_count_bpe oracle verbatim as a
    subquery (the _composed_audit_sql nesting pattern) joined back to the
    documents' language column — the fertility table cannot drift from
    the token counts it summarizes. All sums are exact integers; the two
    ratios are single divisions of exact integers, deterministic in both
    engines."""

    tc = ORACLES["ext_token_count_bpe"]
    return f"""
    WITH tc AS (FROM ({tc}))
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(tc.n_tokens_ws) AS BIGINT) AS n_words,
           CAST(sum(tc.n_tokens_bpe) AS BIGINT) AS n_bpe,
           CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
           round(CAST(sum(tc.n_tokens_bpe) AS DOUBLE)
                 / sum(tc.n_tokens_ws), 6) AS fertility,
           round(CAST(sum(tc.n_tokens_bpe) AS DOUBLE)
                 / sum(length(d.text)), 6) AS bpe_per_char
    FROM tc JOIN documents d USING (doc_id)
    GROUP BY d.lang
    ORDER BY d.lang
    """


@query("ext_tokenizer_fertility", _fertility_oracle_sql())
def ext_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language: BPE tokens per whitespace word
    and per character, with the underlying exact doc/word/token/char
    sums — the table a training pipeline reads to convert per-language
    document budgets into token budgets (and to spot languages the
    learned vocabulary serves badly: high fertility means the tokenizer
    fragments that language, inflating its effective cost per document).
    Complements ext_domain_temperature_mix (which mixes by doc counts)
    with the token-accurate denominator mixing actually needs.

    Scale: one groupBy over |langs| groups with map-side partials on top
    of the standing BPE count relation — at 100 TB the token counts are
    an artifact the packing stage already materialized, so this audit is
    one cheap aggregate over it. Oracle: the registered
    ext_token_count_bpe statement composed verbatim as a subquery (zero
    drift) joined to the language column; exact-integer sums, two
    deterministic divisions. Reference parity: [E] extension (BASELINE
    north-star text-analysis family); no reference twin."""
    counts = ext_token_count_bpe(spark, sf_dir)
    langs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    return (
        counts.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_tokens_ws").cast("bigint").alias("n_words"),
            F.sum("n_tokens_bpe").cast("bigint").alias("n_bpe"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .select(
            "lang", "docs", "n_words", "n_bpe", "n_chars",
            F.round(
                F.col("n_bpe").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_bpe").cast("double") / F.col("n_chars"), 6
            ).alias("bpe_per_char"),
        )
        .orderBy("lang")
    )
