"""Spherical k-means + SemDeDup: Lloyd improvement, precision vs the exact
cosine-pairs op, and recall through the cluster partition."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from habits_etl_spark.operators.lloyd import argmax_cell_expr, dots_sql, hash_seeds
from habits_etl_spark.plans.bases import prepped_embeddings
from habits_etl_spark.plans.common import QUERIES
from habits_etl_spark.plans.ext_vectors2 import (
    _SEM_THRESHOLD,
    ext_kmeans_centroids,
    ext_semantic_dedup,
    kmeans_fit,
)


def _objective(spark, sf_dir, centroids):
    """Spherical k-means objective: total member-to-own-centroid cosine."""
    m = prepped_embeddings(spark, sf_dir)
    sim = F.expr(f"array_max({dots_sql(centroids)})") / F.col("nrm")
    return m.select(F.sum(sim).alias("obj")).collect()[0].obj


def test_lloyd_iterations_improve_objective(spark, sf_dir):
    init = kmeans_fit(spark, sf_dir, iters=0)
    fitted = kmeans_fit(spark, sf_dir, iters=3)
    assert _objective(spark, sf_dir, fitted) >= _objective(spark, sf_dir, init) - 1e-9


def test_kmeans_centroids_partition(spark, sf_dir):
    rows = ext_kmeans_centroids(spark, sf_dir).collect()
    total = prepped_embeddings(spark, sf_dir).count()
    assert sum(r.n_members for r in rows) == total  # every vector in one cell
    for r in rows:
        assert -1.0 <= r.mean_cos_to_centroid <= 1.0


def test_fitted_centroids_are_unit(spark, sf_dir):
    for c in kmeans_fit(spark, sf_dir, iters=1):
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9


def test_semantic_dedup_precision_and_recall(spark, sf_dir):
    sem = ext_semantic_dedup(spark, sf_dir).collect()
    exact = QUERIES["ext_embedding_cosine_pairs"](spark, sf_dir).collect()
    # exact pairs at the same threshold, keyed by the higher (dropped) id
    exact_dropped = {r.vec_b for r in exact if r.cos >= _SEM_THRESHOLD}
    flagged = {r.vec_id for r in sem if r.is_dup}
    # precision 1.0: every within-cell flagged vec is a true exact near-dup
    assert flagged <= exact_dropped, flagged - exact_dropped
    # recall through the partition: the fixture's exact pairs all sit in
    # cos [0.4, 0.6) — moderately similar, not planted clones — so the
    # right bar is not absolute recall but beating the random-partition
    # baseline E[recall | random cells] = sum_c (n_c/N)^2 (~0.125 for 8
    # balanced cells; measured recall 0.42 = 3.4x that).
    if exact_dropped:
        recall = len(flagged) / len(exact_dropped)
        from collections import Counter

        n = len(sem)
        cell_n = Counter(r.cluster_id for r in sem)
        random_baseline = sum((c / n) ** 2 for c in cell_n.values())
        assert recall >= max(0.25, 2 * random_baseline), (recall, random_baseline)
    # flagged rows carry an over-threshold cosine; clean rows carry 0
    for r in sem:
        if r.is_dup:
            assert r.max_cos_lower >= _SEM_THRESHOLD - 1e-4
        else:
            assert r.max_cos_lower == 0.0


def test_assignment_is_shuffle_free(spark, sf_dir):
    """The per-vector cell assignment must be a pure map: centroids ride
    as plan literals, so the plan has no join/exchange below the scan."""
    centroids = kmeans_fit(spark, sf_dir, iters=0)
    m = prepped_embeddings(spark, sf_dir).select(
        "vec_id", argmax_cell_expr(centroids).alias("cell")
    )
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan[:1500]


def test_ivf_delta_maintenance_report_is_consistent(spark, sf_dir):
    """The incremental-IVF health report must account for every vector
    exactly once (base + delta partition the corpus), report means on
    the cosine scale, agree with its own refit rule, and train on a
    base that EXCLUDES the delta (the point of the op: arrivals route
    into an index fit before they existed)."""
    from habits_etl_spark.plans.ext_vectors2 import (
        _IVFD_MOD,
        _ivfd_delta_col,
        ext_ivf_delta_maintenance,
    )

    rows = ext_ivf_delta_maintenance(spark, sf_dir).collect()
    e = QUERIES["ext_topk_sim_search"].__globals__["t"](spark, sf_dir, "embeddings")
    total = e.count()
    n_delta_true = e.filter(_ivfd_delta_col()).count()
    assert sum(r.n_base + r.n_delta for r in rows) == total
    assert sum(r.n_delta for r in rows) == n_delta_true
    # md5 split should put roughly 1/_IVFD_MOD in the delta
    assert 0.3 / _IVFD_MOD < n_delta_true / total < 3.0 / _IVFD_MOD
    for r in rows:
        for m in (r.mean_base_cos, r.mean_delta_cos):
            if m is not None:
                assert -1.0 <= m <= 1.0
        want_refit = (r.n_delta * _IVFD_MOD >= r.n_base * 2) or (
            r.cos_drift is not None and r.cos_drift <= -0.05
        )
        assert r.refit == want_refit, r


def _md5_prefix(salt, vec_id):
    return int(hashlib.md5(f"{salt}{vec_id}".encode()).hexdigest()[:8], 16)


def test_hash_seeds_slice_and_shortfall_paths(spark):
    """The kernel's seed pick on a small in-memory relation, both paths,
    against Python's hashlib: the first k rows by (md5-prefix int,
    vec_id), taken from the 2-in-step hash slice when it holds k rows
    and from the whole relation when it comes up short."""
    salt = "kmeans:"

    def h(i):
        return _md5_prefix(salt, i)

    def rel(ids):
        rows = [(i, [float(i), 1.0], math.sqrt(i * i + 1.0)) for i in ids]
        return spark.createDataFrame(rows, "vec_id bigint, v array<double>, nrm double")

    def unit(i):
        n = math.sqrt(i * i + 1.0)
        return [float(i) / n, 1.0 / n]

    # slice path: 200 rows, k = 8 -> step 25, ~16 rows in the slice
    ids, k = list(range(200)), 8
    sliced = sorted((h(i), i) for i in ids if h(i) % (len(ids) // k) < 2)
    assert len(sliced) >= k
    want = [i for _, i in sliced[:k]]
    assert want != [i for _, i in sorted((h(i), i) for i in ids)[:k]]
    assert hash_seeds(rel(ids), salt, k) == [unit(i) for i in want]

    # shortfall path: 12 rows, k = 4 -> step 3, built so only 3 rows land
    # in the slice (h % 3 < 2); the pick must widen to all 12
    near = [i for i in range(1000) if h(i) % 3 < 2][:3]
    far = [i for i in range(1000) if h(i) % 3 == 2][:9]
    ids, k = near + far, 4
    want = [i for _, i in sorted((h(i), i) for i in ids)[:k]]
    assert not set(want) <= set(near)  # the widened pick reaches past the slice
    assert hash_seeds(rel(ids), salt, k) == [unit(i) for i in want]
