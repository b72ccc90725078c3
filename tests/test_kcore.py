"""Exact-semantics tests for wave 10: coreness (operators/kcore.py)
against a Python peeling reference, embedding outliers, and kNN-graph
triangles."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from habits_etl_spark.operators.kcore import coreness
from habits_etl_spark.plans.common import t
from habits_etl_spark.plans.ext_curation6 import KNN_K, ext_knn_graph_blocked
from habits_etl_spark.plans.ext_curation7 import (
    _OUT_FACTOR,
    ext_embedding_outliers,
    ext_kcore_dupgraph,
    ext_knn_triangles,
)


def _py_coreness(nodes, edges):
    """Textbook Batagelj–Zaveršnik peeling: remove min-degree vertices,
    coreness = the running max of removal degrees."""
    adj = {v: set() for v in nodes}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(adj[v]) for v in nodes}
    core = {}
    remaining = set(nodes)
    k = 0
    while remaining:
        v = min(remaining, key=lambda u: (deg[u], u))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in adj[v]:
            if u in remaining:
                deg[u] -= 1
    return core


def _sym(spark, edges):
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges], "src long, dst long"
    )
    return e


def test_coreness_known_graph(spark):
    """K4 (coreness 3) + a triangle (2) + a tail vertex (1) + isolated (0)."""
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    tri = [(4, 5), (5, 6), (4, 6)]
    tail = [(3, 7)]
    nodes = spark.createDataFrame([(i,) for i in range(9)], "node long")
    got = {
        r.node: r.coreness
        for r in coreness(nodes, _sym(spark, k4 + tri + tail)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 2, 5: 2, 6: 2, 7: 1, 8: 0}


def test_coreness_matches_python_on_dupgraph(spark, sf_dir):
    from habits_etl_spark.plans.ext_text import ext_near_dedup_minhash

    pairs = [
        (r.doc_a, r.doc_b)
        for r in ext_near_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").collect()
    ]
    nodes = [r.doc_id for r in t(spark, sf_dir, "documents").select("doc_id").collect()]
    expect = _py_coreness(nodes, pairs)
    got = {r.doc_id: r.coreness for r in ext_kcore_dupgraph(spark, sf_dir).collect()}
    assert got == expect


def test_embedding_outliers_flag_and_expectation(spark, sf_dir):
    rows = ext_embedding_outliers(spark, sf_dir).collect()
    n = len(rows)
    assert n == t(spark, sf_dir, "embeddings").count()
    dims = {r.n_dims for r in rows}
    assert dims == {64}
    # E[md2] = n_dims for standardized coordinates; the per-label
    # standardization makes the corpus mean exact up to biased-variance
    # scaling (sum over a label of z² per dim = n_label exactly).
    mean_md2 = sum(r.md2 for r in rows) / n
    assert abs(mean_md2 - 64.0) < 1.0
    for r in rows:
        assert r.is_outlier == (r.md2 > _OUT_FACTOR * r.n_dims)


def test_knn_triangles_are_closed_mutual_edges(spark, sf_dir):
    knn = defaultdict(set)
    for r in ext_knn_graph_blocked(spark, sf_dir).collect():
        assert r.rk <= KNN_K
        knn[r.src_id].add(r.nbr_id)
    mutual = {
        (a, b)
        for a, nbrs in knn.items()
        for b in nbrs
        if a < b and a in knn.get(b, set())
    }
    tris = ext_knn_triangles(spark, sf_dir).collect()
    got = {(r.vec_a, r.vec_b, r.vec_c) for r in tris}
    assert len(got) == len(tris), "duplicate triangles"
    expect = {
        (a, b, c)
        for (a, b) in mutual
        for c in knn
        if b < c and (b, c) in mutual and (a, c) in mutual
    }
    assert got == expect
