"""Corpus/analytics operators, wave 9: exact per-group order statistics,
a true time-interval rolling window, blocked fuzzy record linkage, a
label-blocked kNN graph, and PMI collocation mining.

Five genuinely new SHAPES for the surface (nothing here re-skins an
existing query): holistic mode/median aggregation, a RANGE-frame window
over real timestamps (vs win_analytic's ROWS/day-index frames), edit-
distance entity resolution with candidate generation on DISTINCT keys,
a self-top-k similarity graph (vs ext_topk_sim_search's queries-vs-corpus
shape), and corpus-level collocation statistics (vs ext_bigram_lm_score's
per-document scoring).

Reference parity: the reference has no curation surface; these extend it
per the BASELINE north-star list, like plans/ext_pipeline.py.
Cross-engine float rule: decimal exact sums (plans/common.py rule 1);
doubles that feed an ORDER BY or a comparison are rounded first.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from habits_etl_spark.functions.text import TOK_DUCK, tok_spark
from habits_etl_spark.operators.srp import fold_dot
from habits_etl_spark.plans.common import dec, query, t

# --- exact mode + median per group ------------------------------------------


@query(
    "agg_mode_median",
    """
    WITH b AS (
      SELECT event_type, CAST(round(value, 0) AS BIGINT) AS vbin, value
      FROM events WHERE value IS NOT NULL
    ),
    c AS (SELECT event_type, vbin, CAST(count(*) AS BIGINT) AS cnt
          FROM b GROUP BY 1, 2),
    m AS (SELECT event_type, vbin AS mode_bin, cnt AS mode_count,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cnt DESC, vbin) AS rk
          FROM c),
    s AS (SELECT event_type,
                 round(quantile_cont(value, 0.5), 6) AS median_value,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM b GROUP BY 1)
    SELECT m.event_type, m.mode_bin, m.mode_count, s.median_value, s.n_events
    FROM m JOIN s USING (event_type) WHERE m.rk = 1
    ORDER BY m.event_type
    """,
)
def agg_mode_median(spark, sf_dir):
    """Exact holistic order statistics per group: the modal value bin
    (unit-rounded, deterministic smallest-bin tiebreak) and the exact
    interpolated median of events.value per event_type — the two
    aggregates agg_approx_percentiles deliberately avoids computing
    exactly, here as the exact twin.

    Scale: mode is NOT holistic once binned — (event_type, vbin) counts
    are one hash-agg with map-side partials (bins are bounded, ~500
    here), then a tiny per-group row_number. The exact median IS
    holistic (percentile gathers per-group values); that is the honest
    cost of exactness — groups are event-type-bounded (~5), so each
    group's sort is a single task. For unbounded groups the sketch twin
    (agg_approx_percentiles) is the 100 TB path; this query is the
    auditor's spot-check run on a sampled or filtered slice."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.select(
        "event_type",
        F.round("value", 0).cast("bigint").alias("vbin"),
        "value",
    )
    c = b.groupBy("event_type", "vbin").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").desc(), F.col("vbin"))
    m = (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("vbin").alias("mode_bin"),
                F.col("cnt").alias("mode_count"))
    )
    s = b.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return m.join(s, "event_type").orderBy("event_type")


# --- time-interval rolling window -------------------------------------------

_ROLL_SECONDS = 3600


@query(
    "win_rolling_time_range",
    f"""
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
      FROM events
    )
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN {_ROLL_SECONDS - 1} PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def win_rolling_time_range(spark, sf_dir):
    """Trailing 1-hour event count and value sum per user at every event
    — a RANGE frame over REAL timestamps (epoch seconds), the
    time-series window win_analytic cannot express with its ROWS /
    day-index frames: gaps and bursts change the frame row count here.

    Scale: one shuffle on user_id serves both window functions; within a
    partition Spark's WindowExec advances the range frame with two
    monotone pointers (O(n) per user, no re-scan per row). Frames are
    value-bounded so peers (same-second events) enter and leave
    together in both engines — no ordering ambiguity. The decimal sum
    keeps the running total exact and engine-identical."""
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(_ROLL_SECONDS - 1), 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
            F.sum(dec("value")).over(w).cast("double").alias("sum_1h"),
        )
        .orderBy("event_id")
    )


# --- blocked fuzzy record linkage -------------------------------------------

_LEV_MAX = 2


@query(
    "ext_fuzzy_linkage",
    f"""
    WITH names AS (
      SELECT lower(p_name) AS nm, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1
    ),
    blocked AS (
      SELECT nm, n_parts, regexp_extract(nm, '([a-z]+)$', 1) AS blk
      FROM names
    ),
    pairs AS (
      SELECT a.nm AS name_a, b.nm AS name_b,
             a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
             CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.nm < b.nm
    )
    SELECT name_a, name_b, dist, n_parts_a, n_parts_b
    FROM pairs WHERE dist BETWEEN 1 AND {_LEV_MAX}
    ORDER BY name_a, name_b
    """,
)
def ext_fuzzy_linkage(spark, sf_dir):
    """Blocked edit-distance record linkage over part names: candidate
    pairs are generated on the DISTINCT name table (64 names, not 2000
    parts), blocked by the trailing word (the 'surname' of a noun-final
    name), scored with Levenshtein, and kept at distance 1..2 — exact
    duplicates (distance 0) belong to ext_exact_dedup, not linkage.
    Each matched name carries its part cardinality so a consumer can
    size the merge without re-scanning the fact.

    Scale: the two linkage rules that survive 100 TB are both here —
    (1) NEVER pair raw rows: the distinct-key relation is orders of
    magnitude smaller than the fact (|names| ≪ |parts|), and the
    cardinality join-back is a hash-agg, not a pair explosion; (2)
    quadratic work only INSIDE blocks: the block key caps candidate
    pairs at sum(|block|²) — pick it from a stable, typo-resistant
    field. Levenshtein is identical edit distance in Spark and DuckDB,
    so the pair set matches exactly."""
    p = t(spark, sf_dir, "part")
    names = (
        p.select(F.lower("p_name").alias("nm"))
        .groupBy("nm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .withColumn("blk", F.regexp_extract("nm", "([a-z]+)$", 1))
    )
    a = names.select(
        F.col("nm").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.col("blk").alias("blk"),
    )
    b = names.select(
        F.col("nm").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("blk").alias("blk2"),
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b")).cast("bigint")
    return (
        a.join(b, (F.col("blk") == F.col("blk2")) & (F.col("name_a") < F.col("name_b")))
        .select("name_a", "name_b", dist.alias("dist"), "n_parts_a", "n_parts_b")
        .filter((F.col("dist") >= 1) & (F.col("dist") <= _LEV_MAX))
        .orderBy("name_a", "name_b")
    )


# --- label-blocked kNN graph ------------------------------------------------

KNN_K = 3


# Shared with ext_curation7's triangle count, which re-derives the same
# graph inside its own oracle.
KNN_RANKED_CTE = """
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    scored AS (
      SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, a.label,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
      FROM e a JOIN e b ON a.label = b.label AND b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY src_id
                                        ORDER BY cos DESC, nbr_id) AS INTEGER)
                  AS rk
      FROM scored
    )
"""


@query(
    "ext_knn_graph_blocked",
    f"""
    WITH {KNN_RANKED_CTE}
    SELECT src_id, nbr_id, label, cos, rk FROM ranked WHERE rk <= {KNN_K}
    ORDER BY src_id, rk
    """,
)
def ext_knn_graph_blocked(spark, sf_dir):
    """Blocked kNN graph: every vector's top-{k} cosine neighbors WITHIN
    its label block — the corpus-self-join shape (SemDeDup / graph-dedup
    input) that ext_topk_sim_search's broadcast-queries shape cannot
    produce. The block key stands in for a coarse cluster id: at 100 TB
    the label column is the IVF cell from ext_kmeans_centroids, which
    makes this the exact in-cell refinement stage of a two-level ANN
    graph build.

    Scale: the self-join is EQUI on the block key — a hash partition of
    the corpus by cell, quadratic only within cells (sum |cell|², the
    same bound every IVF system accepts), never a global cross join.
    Norms are computed once per side of the join; the per-source top-k
    cut is a WindowGroupLimit, so only k rows per vector survive the
    final shuffle. Cosine is rounded to 4 before ranking with an id
    tiebreak — rank order is engine-exact (same rule as
    ext_topk_sim_search)."""
    e = t(spark, sf_dir, "embeddings")
    prepped = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0),
                        lambda acc, x: acc + x)
        ),
    )
    a = prepped.select(
        F.col("vec_id").alias("src_id"), "label",
        F.col("v").alias("a_v"), F.col("nrm").alias("a_nrm"),
    )
    b = prepped.select(
        F.col("vec_id").alias("nbr_id"), F.col("label").alias("label_b"),
        F.col("v").alias("b_v"), F.col("nrm").alias("b_nrm"),
    )
    dot = fold_dot(F.col("a_v"), F.col("b_v"))
    scored = (
        a.join(b, (F.col("label") == F.col("label_b"))
               & (F.col("nbr_id") != F.col("src_id")))
        .select(
            "src_id", "nbr_id", "label",
            F.round(dot / (F.col("a_nrm") * F.col("b_nrm")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_K)
        .orderBy("src_id", "rk")
    )


# --- PMI collocations --------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 100


@query(
    "ext_pmi_collocations",
    f"""
    WITH d AS (SELECT {TOK_DUCK} AS w FROM documents),
    b AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM d
    ),
    bi AS (SELECT split_part(bg, ' ', 1) AS w1,
                  split_part(bg, ' ', 2) AS w2 FROM b),
    cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
            FROM bi GROUP BY 1, 2),
    ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1),
    cb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY 1),
    tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cab),
    scored AS (
      SELECT cab.w1, cab.w2, cab.c_ab,
             round(ln((CAST(cab.c_ab AS DOUBLE) * n)
                      / (CAST(c_a AS DOUBLE) * c_b)), 6) AS pmi
      FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tot
      WHERE cab.c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_ab, pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOP_K}
    """,
)
def ext_pmi_collocations(spark, sf_dir):
    """Corpus-level collocation mining: the top-100 adjacent word pairs
    by pointwise mutual information, PMI = ln(p(ab) / (p(a)·p(b))) with
    all probabilities taken from the bigram table's own margins, cut at
    a minimum pair count (PMI is noise below ~5 observations). The
    corpus-statistics complement to ext_bigram_lm_score's per-document
    scoring — this is how a curation pipeline discovers multiword
    expressions and boilerplate phrases worth treating as units.

    Scale: bigrams are generated map-side by one array transform (no
    posexplode + window shuffle); (w1, w2) counts are one hash-agg with
    map-side partials, and both margins re-aggregate the ALREADY-REDUCED
    pair table (vocab², not corpus, sized) instead of re-scanning the
    token stream. The count inputs to PMI are exact integers below 2^53,
    so the double ratio is bit-identical cross-engine before the single
    ln; the final cut is a TakeOrderedAndProject (orderBy + limit, no
    global window) over the rounded score with a lexicographic
    tiebreak, so the boundary is a total order in both engines."""
    d = t(spark, sf_dir, "documents")
    w = d.select(tok_spark(F.col("text")).alias("w"))
    bi = (
        w.select(
            F.explode(
                F.expr(
                    "IF(size(w) >= 2, transform(sequence(1, size(w) - 1), "
                    "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))), "
                    "array())"
                )
            ).alias("bg")
        )
        .select(
            F.expr("split_part(bg, ' ', 1)").alias("w1"),
            F.expr("split_part(bg, ' ', 2)").alias("w2"),
        )
    )
    # NOTE (r14): caching cab (four consumers: ca, cb, tot, scored) was
    # measured and REJECTED — alternating solo A/B at sf0.1 put the
    # cached form consistently SLOWER (uncached 1.27/1.24 s vs cached
    # 1.43/1.38 s warm medians over four session pairs): the columnar
    # materialization of the vocab²-sized pair table costs more than
    # three re-runs of the corpus explode + map-partial hash-agg at this
    # scale. (ext_bigram_lm_score's cab/cuni caches, by contrast, carry a
    # measured WIN — there the reduced tables feed broadcast lineages
    # that would otherwise re-explode the corpus five times.)
    cab = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    ca = cab.groupBy("w1").agg(F.sum("c_ab").cast("bigint").alias("c_a"))
    cb = cab.groupBy("w2").agg(F.sum("c_ab").cast("bigint").alias("c_b"))
    tot = cab.agg(F.sum("c_ab").cast("bigint").alias("n"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("n"))
            / (F.col("c_a").cast("double") * F.col("c_b"))
        ),
        6,
    )
    scored = (
        cab.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(_PMI_TOP_K)
