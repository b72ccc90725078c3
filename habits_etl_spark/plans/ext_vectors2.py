"""Embedding-space curation, wave 4: spherical k-means and SemDeDup-style
semantic deduplication.

ext_ann_ivf_probe (ext_vectors.py) stands in a hash-sample for its coarse
centroids; this module adds the real trained-centroid path — Lloyd
iterations expressed as DataFrame ops — and the operator that motivates it
at 100 TB: SemDeDup (Abbas et al. 2023), which clusters embeddings FIRST so
the quadratic near-duplicate search runs only inside clusters. Both are oracle-gated
end to end since r10 (the fixed Lloyd round count unrolls into a DuckDB
CTE chain — kmeans_cent_sql); precision and recall against the exact
cosine-pairs op are additionally asserted in tests/test_vectors2.py. Reference parity: the reference has no embedding
surface; these extend it per the BASELINE north-star list.

Normalization discipline: rows carry (v, nrm), never a pre-divided unit
vector — dividing inside a HOF lambda re-evaluates the norm fold per
element (CollapseProject inlines the fold into the lambda body; verified
on the optimized plan), the O(dim^2)/row trap ext_vectors.py:121-127
documents. Centroids ARE unit vectors (normalized driver-side, k x dim
scalars), so nearest-centroid = argmax dot(v, c) with no division at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import md5_int
from habits_etl_spark.operators.lloyd import (
    argmax_cell_expr,
    dots_sql,
    hash_seeds,
    lloyd_round,
)
from habits_etl_spark.operators.srp import fold_dot
from habits_etl_spark.plans.bases import normed_base_cached, prepped_embeddings
from habits_etl_spark.plans.common import memo_fit, query, shared_cache

_KM_K = 8
KM_ITERS = 3
_SEM_THRESHOLD = 0.4  # matches ext_embedding_cosine_pairs' _COS_THRESHOLD


def kmeans_fit(spark: SparkSession, sf_dir: str, k: int = _KM_K,
               iters: int = KM_ITERS) -> list[list[float]]:
    """Spherical k-means via Lloyd iterations, DataFrame-only. Returns k
    UNIT centroids. MEMOIZED per (sf_dir, k, iters): the fit is a
    deterministic pure function of the parquet input (md5 seeds,
    decimal-exact means), so one training serves every query composing
    the model — ext_kmeans_centroids, ext_semantic_dedup and
    ext_ivfpq_topk each used to re-run the identical 3-round fit
    (~2 s of pure job latency apiece at sf0.1).

    Seeds and rounds come from operators/lloyd.py (salt ``"kmeans:"``):
    hash_seeds is the md5-order pick, widened to the full corpus if its
    2x-oversampled slice comes up short of k rows; each lloyd_round is a
    pure-map assignment (broadcast-literal centroids, see
    argmax_cell_expr), ONE decimal-exact (cell, dim) aggregate and a
    k x dim collect — the same loop shape MLlib's KMeans runs via
    treeAggregate."""
    return memo_fit(
        ("kmeans_fit", sf_dir, k, iters),
        lambda: _spherical_lloyd(normed_base_cached(spark, sf_dir), k, iters),
    )


def _spherical_lloyd(m: DataFrame, k: int, iters: int) -> list[list[float]]:
    """The spherical k-means loop over a cached (vec_id, v, nrm) relation:
    kmeans_fit trains on the full table, the incremental-IVF op on its
    base split. Each round's mean of member unit vectors is renormalized;
    empty cells keep their previous centroid (standard Lloyd fallback)."""
    centroids = hash_seeds(m, "kmeans:", k)
    for _ in range(iters):
        sums = lloyd_round(m, argmax_cell_expr(centroids))
        new = {cell: _unit(vsum) for (cell,), (vsum, _) in sums.items()}
        centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    return centroids


def _unit(vec: list[float]) -> list[float]:
    nrm = sum(x * x for x in vec) ** 0.5 or 1.0
    return [x / nrm for x in vec]


def kmeans_cent_sql(k: int = _KM_K, iters: int = KM_ITERS,
                     prefix: str = "", include_base: bool = True,
                     src_where: str = "") -> str:
    """CTE chain restating kmeans_fit in DuckDB, ending in ``cent{iters}``
    (cell -> unit-centroid list) and ``massign`` (every vector with its
    final cell and best dot). The unroll pattern of the k-center / MMR /
    PCA / PageRank oracles: a fixed iteration count is not a fixpoint.
    Parity with the Spark fit, piece by piece: the seed hash is the
    md5-prefix integer (same expression both engines), dots are the same
    sequential folds, per-(cell, dim) mean-numerators are DECIMAL-exact
    sums, the centroid norm folds an ORDERED list exactly like the
    driver's left-to-right Python sum, and every argmax tie-breaks to
    the lowest cell (Spark's array_position-of-max)."""
    h = "CAST(('0x' || substr(md5('kmeans:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    ctes = [
        f"""m2 AS MATERIALIZED (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings {src_where}
    )""",
        f"mh AS MATERIALIZED (SELECT vec_id, v, nrm, {h} AS h FROM m2)",
        f"""cand AS (
      SELECT * FROM mh
      WHERE h % greatest((SELECT count(*) FROM m2) // {k}, 1) < 2
    )""",
        "nslice AS (SELECT count(*) AS c FROM cand)",
        f"""seedsrc AS (
      SELECT vec_id, v, nrm, h FROM cand WHERE (SELECT c FROM nslice) >= {k}
      UNION ALL
      SELECT vec_id, v, nrm, h FROM mh WHERE (SELECT c FROM nslice) < {k}
    )""",
        f"""cent0 AS MATERIALIZED (
      SELECT cell,
             list_transform(v, x -> x / (CASE WHEN nrm = 0.0 THEN 1.0 ELSE nrm END)) AS w
      FROM (SELECT *, row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
            FROM seedsrc)
      WHERE cell < {k}
    )""",
        f"cells AS (SELECT unnest(range({k})) AS cell)",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""asg{r} AS MATERIALIZED (
      SELECT vec_id, v, nrm, cell FROM (
        SELECT m2.vec_id, m2.v, m2.nrm, c.cell,
               row_number() OVER (PARTITION BY m2.vec_id
                                  ORDER BY list_dot_product(m2.v, c.w) DESC,
                                           c.cell) AS rk
        FROM m2 CROSS JOIN cent{r - 1} c
      ) WHERE rk = 1
    )"""
        )
        ctes.append(
            f"""sums{r} AS (
      SELECT cell, dim, CAST(sum(CAST(x / nrm AS DECIMAL(38,28))) AS DOUBLE) AS s
      FROM (SELECT cell, nrm, unnest(range(len(v))) AS dim, unnest(v) AS x
            FROM asg{r})
      GROUP BY cell, dim
    )"""
        )
        ctes.append(
            f"""newc{r} AS (
      SELECT cell, vsum,
             sqrt(list_aggregate(list_transform(vsum, x -> x * x), 'sum')) AS nr
      FROM (SELECT cell, list(s ORDER BY dim) AS vsum FROM sums{r} GROUP BY cell)
    )"""
        )
        ctes.append(
            f"""cent{r} AS MATERIALIZED (
      SELECT cl.cell,
             CASE WHEN n.cell IS NULL THEN p.w
                  ELSE list_transform(n.vsum,
                         x -> x / (CASE WHEN n.nr = 0.0 THEN 1.0 ELSE n.nr END))
             END AS w
      FROM cells cl
      LEFT JOIN newc{r} n USING (cell)
      LEFT JOIN cent{r - 1} p USING (cell)
    )"""
        )
    ctes.append(
        f"""massign AS MATERIALIZED (
      SELECT vec_id, label, v, nrm, cell AS cluster_id, bd AS bestdot FROM (
        SELECT m2.vec_id, m2.label, m2.v, m2.nrm, c.cell,
               list_dot_product(m2.v, c.w) AS bd,
               row_number() OVER (PARTITION BY m2.vec_id
                                  ORDER BY list_dot_product(m2.v, c.w) DESC,
                                           c.cell) AS rk
        FROM m2 CROSS JOIN cent{iters} c
      ) WHERE rk = 1
    )"""
    )
    sql = ",\n    ".join(ctes if include_base else ctes[1:])
    if prefix:
        # rename every chain-local CTE so the chain composes with the PQ
        # codebook chain inside one statement (ext_ivfpq_topk's oracle);
        # m2 is the shared base relation and keeps its name
        import re as _re

        sql = _re.sub(
            r"\b(mh|cand|nslice|seedsrc|cells|massign|cent\d+|asg\d+|sums\d+|newc\d+)\b",
            prefix + r"\1",
            sql,
        )
    return sql


@query(
    "ext_kmeans_centroids",
    f"""
    WITH {kmeans_cent_sql()}
    SELECT CAST(cluster_id AS INT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(CAST(bestdot / nrm AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*), 4) AS mean_cos_to_centroid
    FROM massign GROUP BY 1 ORDER BY 1
    """,
)
def ext_kmeans_centroids(spark, sf_dir):
    """Trained coarse quantizer for the embedding column: {_KM_K} spherical
    k-means cells after {KM_ITERS} Lloyd iterations. Emits per cell its
    member count and mean member-to-centroid cosine (the spherical
    analogue of inertia) — the health dashboard of an IVF index build.

    Oracle-gated since r10: the mean numerators are decimal-exact
    (order-invariant, unlike MLlib's float treeAggregate), so the fixed
    Lloyd round count unrolls into the kmeans_cent_sql oracle chain;
    cluster-quality invariants are asserted in tests/test_vectors2.py."""
    centroids = kmeans_fit(spark, sf_dir)
    m = prepped_embeddings(spark, sf_dir)
    cell = argmax_cell_expr(centroids)
    # cosine to own centroid = max dot / row norm (centroids are unit)
    sim_to_own = F.expr(f"array_max({dots_sql(centroids)})") / F.col("nrm")
    return (
        m.select(cell.alias("cluster_id"), sim_to_own.alias("sim"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            # decimal-exact mean (rule 1) — avg over doubles would be
            # partition-order dependent and break the oracle
            F.round(
                F.sum(F.col("sim").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_cos_to_centroid"),
        )
        .orderBy("cluster_id")
    )


@query(
    "ext_semantic_dedup",
    f"""
    WITH {kmeans_cent_sql()},
    pairs AS (
      SELECT x.vec_id AS va, y.vec_id AS vb,
             list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
      FROM massign x JOIN massign y
        ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
    ),
    dup AS (
      SELECT vb AS vec_id, max(cos) AS mc FROM pairs
      WHERE cos >= {_SEM_THRESHOLD} GROUP BY 1
    )
    SELECT m.vec_id, m.label, CAST(m.cluster_id AS INT) AS cluster_id,
           d.mc IS NOT NULL AS is_dup,
           round(coalesce(d.mc, 0.0), 4) AS max_cos_lower
    FROM massign m LEFT JOIN dup d USING (vec_id)
    ORDER BY m.vec_id
    """,
)
def ext_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings with the trained
    quantizer, then search near-duplicates ONLY within each cluster —
    the clustering is what makes embedding dedup subquadratic at 100 TB
    (the quadratic pair scan runs over N/k-sized cells, and k grows with
    N to hold cell size constant; the paper uses k=50k on LAION).

    Per vector: its cell, whether it is a semantic duplicate (some
    LOWER-id member of the same cell has cosine >= {_SEM_THRESHOLD} —
    the deterministic keep-first policy, one pass, no iterative
    clustering), and its max within-cell cosine. Dropping is a filter on
    ``is_dup``. Precision vs the exact cosine-pairs op is 1.0 by
    construction (every flagged pair is exactly scored); recall is bounded
    by cell purity and asserted in tests/test_vectors2.py."""
    centroids = kmeans_fit(spark, sf_dir)
    m = prepped_embeddings(spark, sf_dir).select(
        "vec_id", "label", "v", "nrm", argmax_cell_expr(centroids).alias("cluster_id")
    )
    a = m.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    b = m.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    dot = fold_dot(F.col("v_a"), F.col("v_b"))
    cos = dot / (F.col("n_a") * F.col("n_b"))
    pair_sims = (
        b.join(a, "cluster_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("cluster_id", "vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= _SEM_THRESHOLD)
    )
    # is_dup(vec_b): exists a lower-id in-cell neighbor over threshold
    dup_flags = pair_sims.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.max("cos").alias("max_cos_lower")
    )
    return (
        m.join(dup_flags, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cluster_id",
            F.col("max_cos_lower").isNotNull().alias("is_dup"),
            F.round(F.coalesce(F.col("max_cos_lower"), F.lit(0.0)), 4).alias(
                "max_cos_lower"
            ),
        )
        .orderBy("vec_id")
    )


# --- Incremental IVF maintenance (r12) ---------------------------------
# A real vector index is never retrained per batch: the coarse quantizer
# is fit once on the standing corpus, new vectors route into existing
# cells, and a per-cell health report decides when a refit is worth a
# 100 TB re-shuffle. The delta split is a deterministic md5 hash of the
# vec_id (1-in-_IVFD_MOD), so both engines agree on which rows are "new".
_IVFD_MOD = 10
_IVFD_DUCK_DELTA = (
    "CAST(('0x' || substr(md5('ivfd:' || CAST(vec_id AS VARCHAR)), 1, 8))"
    f" AS BIGINT) % {_IVFD_MOD} = 0"
)


def _ivfd_delta_col() -> F.Column:
    h = md5_int("ivfd:", F.col("vec_id").cast("string"))
    return F.pmod(h, F.lit(_IVFD_MOD)) == 0


@query(
    "ext_ivf_delta_maintenance",
    f"""
    WITH {kmeans_cent_sql(src_where=f"WHERE NOT ({_IVFD_DUCK_DELTA})")},
    all2 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm,
             {_IVFD_DUCK_DELTA} AS is_delta
      FROM embeddings
    ),
    dass AS (
      SELECT vec_id, nrm, is_delta, cell, bd FROM (
        SELECT a.vec_id, a.nrm, a.is_delta, c.cell,
               list_dot_product(a.v, c.w) AS bd,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY list_dot_product(a.v, c.w) DESC,
                                           c.cell) AS rk
        FROM all2 a CROSS JOIN cent{KM_ITERS} c
      ) WHERE rk = 1
    ),
    rep AS (
      SELECT CAST(cell AS INT) AS cell_id,
             CAST(count(*) FILTER (NOT is_delta) AS BIGINT) AS n_base,
             CAST(count(*) FILTER (is_delta) AS BIGINT) AS n_delta,
             round(CAST(sum(CAST(bd / nrm AS DECIMAL(28,12)))
                          FILTER (NOT is_delta) AS DOUBLE)
                   / count(*) FILTER (NOT is_delta), 4) AS mean_base_cos,
             round(CAST(sum(CAST(bd / nrm AS DECIMAL(28,12)))
                          FILTER (is_delta) AS DOUBLE)
                   / count(*) FILTER (is_delta), 4) AS mean_delta_cos
      FROM dass GROUP BY 1
    )
    SELECT cell_id, n_base, n_delta, mean_base_cos, mean_delta_cos,
           round(mean_delta_cos - mean_base_cos, 4) AS cos_drift,
           (n_delta * {_IVFD_MOD} >= n_base * 2
            OR coalesce(round(mean_delta_cos - mean_base_cos, 4) <= -0.05,
                        FALSE)) AS refit
    FROM rep ORDER BY cell_id
    """,
)
def ext_ivf_delta_maintenance(spark, sf_dir):
    """Incremental IVF index maintenance: the coarse quantizer is
    trained ONLY on the standing corpus (vectors outside the md5
    1-in-{_IVFD_MOD} delta split), the delta batch routes into the
    existing cells as a pure broadcast-literal map (no refit, no
    shuffle), and the output is the per-cell health report a real
    deployment gates refits on — base/delta member counts, mean
    member-to-centroid cosine for each side, their drift, and the
    refit flag (delta overgrowth >= 2x its expected share, or
    delta-side fit degrading by > 0.05 cosine).

    Scale: this is the operation that makes a vector index maintainable
    at 100 TB — assignment of arrivals is embarrassingly parallel
    against k broadcast centroid literals, while the expensive fit
    re-runs only when a cell's report says so. The fit itself is
    memoized per (session, sf_dir) like every trained model here
    (build-the-index-once), and reuses the shared normed base relation.
    Oracle: the unrolled decimal-exact Lloyd chain (kmeans_cent_sql)
    parameterized by the same hash split via ``src_where``, plus a
    final full-corpus assignment CTE — cross-engine parity leans on the
    same md5-seed / sequential-fold / DECIMAL-sum pins as
    ext_kmeans_centroids (hash-green there since r10). Reference
    parity: [E] extension (BASELINE north-star similarity-search
    family); no reference twin."""
    m = normed_base_cached(spark, sf_dir)
    base = shared_cache(
        spark,
        f"embeddings/normed_ivf_base::{sf_dir}",
        lambda: m.filter(~_ivfd_delta_col()),
    )
    cents = memo_fit(
        ("ivf_delta_fit", sf_dir, _KM_K, KM_ITERS),
        lambda: _spherical_lloyd(base, _KM_K, KM_ITERS),
    )
    dots = F.expr(dots_sql(cents))
    assigned = (
        m.select("vec_id", "nrm", _ivfd_delta_col().alias("is_delta"), "v")
        .withColumn("__dots", dots)
        .select(
            "vec_id",
            "nrm",
            "is_delta",
            F.expr("array_position(__dots, array_max(__dots)) - 1")
            .cast("int")
            .alias("cell_id"),
            F.expr("array_max(__dots)").alias("bd"),
        )
    )
    dsum = lambda cond: F.sum(  # noqa: E731 — local decimal-filtered sum
        F.when(cond, (F.col("bd") / F.col("nrm")).cast("decimal(28,12)"))
    ).cast("double")
    rep = assigned.groupBy("cell_id").agg(
        F.count_if(~F.col("is_delta")).cast("bigint").alias("n_base"),
        F.count_if(F.col("is_delta")).cast("bigint").alias("n_delta"),
        F.round(
            dsum(~F.col("is_delta")) / F.count_if(~F.col("is_delta")), 4
        ).alias("mean_base_cos"),
        F.round(
            dsum(F.col("is_delta")) / F.count_if(F.col("is_delta")), 4
        ).alias("mean_delta_cos"),
    )
    drift = F.round(F.col("mean_delta_cos") - F.col("mean_base_cos"), 4)
    return rep.select(
        "cell_id",
        "n_base",
        "n_delta",
        "mean_base_cos",
        "mean_delta_cos",
        drift.alias("cos_drift"),
        (
            (F.col("n_delta") * _IVFD_MOD >= F.col("n_base") * 2)
            | F.coalesce(drift <= -0.05, F.lit(False))
        ).alias("refit"),
    ).orderBy("cell_id")
