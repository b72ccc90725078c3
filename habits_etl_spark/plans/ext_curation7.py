"""Corpus/analytics operators, wave 10: vector-space outlier detection,
triangle structure in the similarity graph, and core decomposition of the
near-duplicate graph.

The three cover the "graph & geometry health" layer of a curation
pipeline: ext_embedding_outliers screens broken vectors BEFORE they
poison clustering/ANN stages; ext_knn_triangles measures how clique-like
the similarity neighborhoods are (dense triangles = tight semantic
clusters / template farms, triangle-free = chains of weak links); and
ext_kcore_dupgraph classifies each document by the densest subgraph it
survives in, the routing signal for aggressive-vs-gentle dedup policies.

Reference parity: the reference has no curation surface; these extend it
per the BASELINE north-star list, like plans/ext_pipeline.py.
Cross-engine float rule: decimal exact sums for anything aggregated
(plans/common.py rule 1); doubles that feed a comparison are rounded
first, and mean/variance are derived from decimal exact sums through the
SAME literal double expression in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.operators.kcore import coreness
from habits_etl_spark.operators.minhash import MINHASH_CTES, MINHASH_FINAL
from habits_etl_spark.plans.bases import minhash_pairs_shared
from habits_etl_spark.plans.common import query, t
from habits_etl_spark.plans.ext_curation6 import (
    KNN_K,
    KNN_RANKED_CTE,
    ext_knn_graph_blocked,
)

# --- embedding outliers (diagonal Mahalanobis) -------------------------------

# Flag when the squared diagonal-Mahalanobis distance exceeds twice its
# expectation (E[md2] = n_dims for well-behaved vectors).
_OUT_FACTOR = 2


@query(
    "ext_embedding_outliers",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    x AS (
      SELECT vec_id, label,
             unnest(list_transform(generate_series(1, len(v)),
                    i -> struct_pack(dim := i, val := v[i]))) AS u
      FROM e
    ),
    x2 AS (SELECT vec_id, label, u.dim AS dim, u.val AS val FROM x),
    st AS (
      SELECT label, dim,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(val AS DECIMAL(28,12))) AS sx,
             sum(CAST(val * val AS DECIMAL(28,12))) AS sxx
      FROM x2 GROUP BY 1, 2
    ),
    mv AS (
      SELECT label, dim,
             CAST(sx AS DOUBLE) / n AS m,
             CAST(sxx AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var
      FROM st
    ),
    z AS (
      SELECT x2.vec_id, x2.label,
             CASE WHEN mv.var > 0.0
                  THEN ((x2.val - mv.m) * (x2.val - mv.m)) / mv.var
                  ELSE 0.0 END AS z2
      FROM x2 JOIN mv ON x2.label = mv.label AND x2.dim = mv.dim
    )
    SELECT vec_id, label,
           CAST(count(*) AS BIGINT) AS n_dims,
           round(CAST(sum(CAST(z2 AS DECIMAL(28,12))) AS DOUBLE), 6) AS md2,
           round(CAST(sum(CAST(z2 AS DECIMAL(28,12))) AS DOUBLE), 6)
             > {_OUT_FACTOR}.0 * count(*) AS is_outlier
    FROM z GROUP BY 1, 2 ORDER BY vec_id
    """,
)
def ext_embedding_outliers(spark, sf_dir):
    """Per-vector outlier score in embedding space: the squared
    diagonal-Mahalanobis distance of each vector from its label
    population (per-label, per-dimension mean/variance), flagged when it
    exceeds twice the expected value of n_dims. This is the vector-
    quality screen a pipeline runs BEFORE SemDeDup/kNN stages — zeroed,
    clipped, or wrong-scale embeddings land at extreme md2 and would
    otherwise poison centroids and neighbor lists.

    Scale: the long-form explode is map-side; the (label, dim) moment
    table is label×dim-bounded (640 rows here), broadcast back into a
    second map stage; the per-vector reduce is one hash-agg keyed by
    vec_id. Nothing quadratic, no windows. Mean/variance come from
    decimal exact sums pushed through the SAME literal double expression
    in both engines, z² re-sums in decimal, and the outlier flag
    compares the ROUNDED md2 — engine-identical end to end."""
    e = t(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("embedding", lambda c: c.cast("double"))
        ).alias("dim0", "val"),
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "val")
    st = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("val").cast("decimal(28,12)")).alias("sx"),
        F.sum((F.col("val") * F.col("val")).cast("decimal(28,12)")).alias("sxx"),
    )
    m = F.col("sx").cast("double") / F.col("n")
    mv = st.select(
        "label",
        "dim",
        m.alias("m"),
        (F.col("sxx").cast("double") / F.col("n") - m * m).alias("var"),
    )
    z2 = F.when(
        F.col("var") > 0.0,
        ((F.col("val") - F.col("m")) * (F.col("val") - F.col("m"))) / F.col("var"),
    ).otherwise(F.lit(0.0))
    md2 = F.round(F.sum(F.col("z2").cast("decimal(28,12)")).cast("double"), 6)
    return (
        x.join(F.broadcast(mv), ["label", "dim"])
        .select("vec_id", "label", z2.alias("z2"))
        .groupBy("vec_id", "label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dims"),
            md2.alias("md2"),
            (md2 > _OUT_FACTOR * F.count(F.lit(1))).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


# --- triangles in the mutual-kNN graph ---------------------------------------


@query(
    "ext_knn_triangles",
    f"""
    WITH {KNN_RANKED_CTE},
    knn AS (SELECT src_id, nbr_id FROM ranked WHERE rk <= {KNN_K}),
    mutual AS (
      SELECT a.src_id AS a, a.nbr_id AS b
      FROM knn a JOIN knn b ON b.src_id = a.nbr_id AND b.nbr_id = a.src_id
      WHERE a.src_id < a.nbr_id
    )
    SELECT m1.a AS vec_a, m1.b AS vec_b, m2.b AS vec_c
    FROM mutual m1
    JOIN mutual m2 ON m2.a = m1.b
    JOIN mutual m3 ON m3.a = m1.a AND m3.b = m2.b
    ORDER BY vec_a, vec_b, vec_c
    """,
)
def ext_knn_triangles(spark, sf_dir):
    """Triangles in the MUTUAL kNN graph (edges kept only when both
    endpoints list each other in their top-{k}): each output row is one
    (a < b < c) triangle. Triangle density over mutual-kNN edges is the
    classic tightness signal — template farms and boilerplate clusters
    close their triangles, topical chains don't — and feeds the same
    routing decisions as coreness below.

    Scale: mutual-filtering first is the whole trick — it needs one
    self-join of the k·|V|-row kNN list (k rows per vector, NOT the
    corpus), and the canonical a<b orientation halves it. The triangle
    enumeration is then two joins of that mutual edge list against
    itself; with edges hash-partitioned by key and max-degree bounded by
    k, candidate fan-out per edge is ≤ k, so the join output is O(k·|E|)
    — never a corpus-sized product. (Same plan MapReduce triangle
    counting uses post node-ordering.)"""

    knn = ext_knn_graph_blocked(spark, sf_dir).select("src_id", "nbr_id")
    rev = knn.select(
        F.col("src_id").alias("r_src"), F.col("nbr_id").alias("r_nbr")
    )
    mutual = (
        knn.join(
            rev,
            (F.col("r_src") == F.col("nbr_id")) & (F.col("r_nbr") == F.col("src_id")),
        )
        .filter(F.col("src_id") < F.col("nbr_id"))
        .select(F.col("src_id").alias("a"), F.col("nbr_id").alias("b"))
    )
    m1 = mutual
    m2 = mutual.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    m3 = mutual.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return (
        m1.join(m2, F.col("b") == F.col("b2"))
        .join(m3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .select(
            F.col("a").alias("vec_a"),
            F.col("b").alias("vec_b"),
            F.col("c").alias("vec_c"),
        )
        .orderBy("vec_a", "vec_b", "vec_c")
    )


# --- distribution drift (histogram KL divergence) ----------------------------

_KL_BOUNDARY = "2024-01-16 00:00:00"  # first half vs second half of the month
_KL_BIN_W = 50.0
_KL_NBINS = 10  # values are bounded in [0, 500); bin = min(floor(v/50), 9)


@query(
    "agg_histogram_kl_drift",
    f"""
    WITH binned AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_KL_BOUNDARY}' THEN 0 ELSE 1 END AS period,
             least(CAST(floor(value / {_KL_BIN_W}) AS BIGINT), {_KL_NBINS - 1}) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    grid AS (
      SELECT et.event_type, g.bin
      FROM (SELECT DISTINCT event_type FROM binned) et
      CROSS JOIN (SELECT unnest(generate_series(0, {_KL_NBINS - 1})) AS bin) g
    ),
    cnt AS (
      SELECT event_type, bin,
             CAST(count(*) FILTER (WHERE period = 0) AS BIGINT) AS c_p,
             CAST(count(*) FILTER (WHERE period = 1) AS BIGINT) AS c_q
      FROM binned GROUP BY 1, 2
    ),
    full_grid AS (
      SELECT g.event_type, g.bin,
             coalesce(c.c_p, 0) AS c_p, coalesce(c.c_q, 0) AS c_q
      FROM grid g LEFT JOIN cnt c
        ON g.event_type = c.event_type AND g.bin = c.bin
    ),
    tot AS (
      SELECT event_type,
             CAST(sum(c_p) AS BIGINT) AS n_p, CAST(sum(c_q) AS BIGINT) AS n_q
      FROM full_grid GROUP BY 1
    ),
    terms AS (
      SELECT f.event_type, t.n_p, t.n_q,
             ((CAST(c_p AS DOUBLE) + 1.0) / (n_p + {_KL_NBINS}))
               * ln(((CAST(c_p AS DOUBLE) + 1.0) / (n_p + {_KL_NBINS}))
                    / ((CAST(c_q AS DOUBLE) + 1.0) / (n_q + {_KL_NBINS}))) AS kl_term
      FROM full_grid f JOIN tot t USING (event_type)
    )
    SELECT event_type, n_p AS n_first_half, n_q AS n_second_half,
           round(CAST(sum(CAST(kl_term AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS kl_divergence
    FROM terms GROUP BY 1, 2, 3 ORDER BY event_type
    """,
)
def agg_histogram_kl_drift(spark, sf_dir):
    """Distribution-drift monitor: per event_type, the KL divergence
    between the value histogram of the month's first half and its second
    half (fixed-width bins, Laplace add-one smoothing over the full
     10-bin grid so empty bins never produce infinities). The batch twin
    of win_zscore_anomaly: z-scores flag single outlier points; KL
    flags the DISTRIBUTION quietly changing shape — the
    training-serving-skew check every feature pipeline runs.

    Scale: binning is a pure map (no quantile pass — the bin grid is
    fixed by spec); per-(type, period, bin) counts are one hash-agg with
    map-side partials; the bin grid is |types|×10 rows, so everything
    after the first agg is broadcast-sized. The KL reduce uses decimal
    exact sums (rule 1); smoothed probabilities are identical double
    expressions in both engines."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_KL_BOUNDARY).cast("timestamp"), 0)
        .otherwise(1)
        .alias("period"),
        F.least(
            F.floor(F.col("value") / _KL_BIN_W).cast("bigint"),
            F.lit(_KL_NBINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("period") == 0, 1)).cast("bigint").alias("c_p"),
        F.count(F.when(F.col("period") == 1, 1)).cast("bigint").alias("c_q"),
    )
    grid = (
        binned.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                binned.sparkSession.range(_KL_NBINS).select(
                    F.col("id").alias("bin")
                )
            )
        )
    )
    full_grid = grid.join(cnt, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce(F.col("c_p"), F.lit(0)).alias("c_p"),
        F.coalesce(F.col("c_q"), F.lit(0)).alias("c_q"),
    )
    tot = full_grid.groupBy("event_type").agg(
        F.sum("c_p").cast("bigint").alias("n_p"),
        F.sum("c_q").cast("bigint").alias("n_q"),
    )
    p = (F.col("c_p").cast("double") + 1.0) / (F.col("n_p") + _KL_NBINS)
    q = (F.col("c_q").cast("double") + 1.0) / (F.col("n_q") + _KL_NBINS)
    terms = full_grid.join(F.broadcast(tot), "event_type").select(
        "event_type", "n_p", "n_q", (p * F.log(p / q)).alias("kl_term")
    )
    return (
        terms.groupBy("event_type", "n_p", "n_q")
        .agg(
            F.round(
                F.sum(F.col("kl_term").cast("decimal(28,12)")).cast("double"), 6
            ).alias("kl_divergence")
        )
        .select(
            "event_type",
            F.col("n_p").alias("n_first_half"),
            F.col("n_q").alias("n_second_half"),
            "kl_divergence",
        )
        .orderBy("event_type")
    )


# --- coreness of the near-dup graph ------------------------------------------


def _kcore_oracle_sql() -> str:
    """TRUE-fixpoint h-index recursion in DuckDB — the one unrollable
    blocker the r10 NOTES left open (the round count is data-dependent,
    so the k-center/PageRank fixed-unroll pattern cannot state it). A
    recursive CTE CAN: each recursive step sees only the previous
    iteration's (node, c) rows (Jacobi update, same as the Spark loop),
    recomputes every node's neighbor h-index, and emits rows only while
    something changed — the labels are monotonically non-increasing
    integers, so termination is guaranteed and min(c) per node over all
    emitted iterations IS the converged coreness. ``kedges`` is pinned
    MATERIALIZED: the recursive term re-executes per iteration, and an
    inlined edge list would re-run the whole MinHash pipeline each round
    (the established CTE-materialization footgun)."""

    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    mh_pairs AS ({MINHASH_FINAL}),
    knodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
    kedges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
      ) WHERE src <> dst
    ),
    lab AS (
      SELECT n.node, CAST(coalesce(d.c, 0) AS BIGINT) AS c
      FROM knodes n LEFT JOIN (SELECT src, count(*) AS c FROM kedges GROUP BY 1) d
        ON d.src = n.node
      UNION ALL
      SELECT node, nc FROM (
        SELECT node, nc, oc,
               sum(CASE WHEN nc <> oc THEN 1 ELSE 0 END) OVER () AS nchanged
        FROM (
          SELECT p.node, least(p.c, coalesce(h.h, 0)) AS nc, p.c AS oc
          FROM lab p LEFT JOIN (
            SELECT node, max(least(rn, nc)) AS h FROM (
              SELECT e.dst AS node, p2.c AS nc,
                     row_number() OVER (PARTITION BY e.dst ORDER BY p2.c DESC) AS rn
              FROM kedges e JOIN lab p2 ON p2.node = e.src
            ) GROUP BY node
          ) h ON h.node = p.node
        )
      ) WHERE nchanged > 0
    )
    SELECT node AS doc_id, min(c) AS coreness
    FROM lab GROUP BY node
    ORDER BY coreness DESC, doc_id
    """


@query("ext_kcore_dupgraph", _kcore_oracle_sql())
def ext_kcore_dupgraph(spark, sf_dir):
    """Coreness of every document in the MinHash near-duplicate candidate
    graph (operators/kcore.py): the largest k for which the doc survives
    iterated removal of degree-<k nodes. Dense boilerplate cores keep
    high coreness after peeling; thin re-post chains collapse to 1 — the
    routing signal for aggressive-vs-gentle dedup, complementing
    ext_pagerank_dupgraph's within-neighborhood ranking.

    FULLY oracle-gated since r11 (_kcore_oracle_sql): the data-dependent
    fixpoint depth that blocked the r10 unroll pattern is stated as a
    DuckDB recursive CTE running the same synchronous h-index update to
    convergence. The integer labels make the iterate trivially engine-
    portable (no float sums anywhere). Exact semantics additionally
    pinned in tests/test_kcore.py against a Python peeling reference.
    Like the oracle, the Spark loop runs to the true fixpoint (no round
    cap)."""

    docs = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = minhash_pairs_shared(spark, sf_dir)
    sym = pairs.selectExpr("doc_a AS src", "doc_b AS dst").union(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    return (
        coreness(docs, sym)
        .select(F.col("node").alias("doc_id"), "coreness")
        .orderBy(F.col("coreness").desc(), "doc_id")
    )
