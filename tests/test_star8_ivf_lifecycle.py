"""Invariant + brute-force equivalence tests for the r14 additions:
the TPC-H Q2 family (star8) and the IVF index lifecycle decide/audit
pair (ext_vectors4)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from habits_etl_spark.plans.common import t
from habits_etl_spark.plans.ext_vectors import IVF_N_PROBE, N_QUERIES, TOP_K
from habits_etl_spark.plans.ext_vectors4 import (
    _IVF_SIM_LAYOUTS,
    ext_ivf_partition_sim,
    ext_ivf_recall_audit,
)
from habits_etl_spark.plans.star8 import (
    _Q2_REGION,
    _Q2_SIZE_HI,
    _Q2_SIZE_LO,
    _Q2_TYPE,
    join_q2_min_cost_supplier,
)


def test_q2_against_python(spark, sf_dir):
    """Every returned row must carry the true minimum derived supply cost
    among region suppliers for its part, and the result must equal the
    brute-force top-100 under the same ordering."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_quantity"
    ).collect()
    ps = {}
    for r in li:
        unit = r.l_extendedprice * (1.0 - r.l_discount) / r.l_quantity
        k = (r.l_partkey, r.l_suppkey)
        ps[k] = min(ps.get(k, float("inf")), unit)

    nat = {r.n_nationkey: (r.n_name, r.n_regionkey)
           for r in t(spark, sf_dir, "nation").collect()}
    reg = {r.r_regionkey: r.r_name for r in t(spark, sf_dir, "region").collect()}
    sup = {
        r.s_suppkey: (r.s_name, r.s_acctbal, nat[r.s_nationkey][0])
        for r in t(spark, sf_dir, "supplier").collect()
        if reg[nat[r.s_nationkey][1]] == _Q2_REGION
    }
    parts = {
        r.p_partkey: (r.p_type, r.p_size)
        for r in t(spark, sf_dir, "part").collect()
        if r.p_type == _Q2_TYPE and _Q2_SIZE_LO <= r.p_size <= _Q2_SIZE_HI
    }

    best = defaultdict(lambda: float("inf"))
    for (pk, sk), cost in ps.items():
        if pk in parts and sk in sup:
            best[pk] = min(best[pk], cost)
    rows = []
    for (pk, sk), cost in ps.items():
        if pk in parts and sk in sup and cost == best[pk]:
            s_name, s_acctbal, n_name = sup[sk]
            rows.append((s_acctbal, s_name, n_name, pk, sk, round(cost, 4)))
    expect = sorted(rows, key=lambda x: (-x[0], x[2], x[1], x[3], x[4]))[:100]

    got = [
        (r.s_acctbal, r.s_name, r.n_name, r.p_partkey, r.s_suppkey, r.supplycost)
        for r in join_q2_min_cost_supplier(spark, sf_dir).collect()
    ]
    assert got == expect


def test_ivf_partition_sim_structure(spark, sf_dir):
    """Per-layout sanity: one row per candidate nlist, occupancy bounded
    by the layout, probe scan bounded by (queries x corpus), scan cost
    shrinking as cells get finer (fixed n_probe over smaller cells), and
    quantization quality a valid cosine."""
    total = t(spark, sf_dir, "embeddings").count()
    rep = {r.n_cells: r for r in ext_ivf_partition_sim(spark, sf_dir).collect()}
    assert sorted(rep) == sorted(_IVF_SIM_LAYOUTS)
    for c, r in rep.items():
        assert 1 <= r.occupied_cells <= c
        assert 1 <= r.max_cell <= total
        assert r.probe_scan_rows <= N_QUERIES * total
        assert -1.0 <= r.mean_cos_to_centroid <= 1.0
    lo, hi = min(_IVF_SIM_LAYOUTS), max(_IVF_SIM_LAYOUTS)
    assert rep[hi].probe_scan_rows < rep[lo].probe_scan_rows, (
        f"finer partition should scan fewer rows at fixed n_probe={IVF_N_PROBE}: "
        f"{rep[hi].probe_scan_rows} vs {rep[lo].probe_scan_rows}"
    )


def test_ivf_retuned_probe_semantics(spark, sf_dir):
    """The retuned probe must be the same pipeline under a finer layout:
    per-query top-k shape intact, every returned neighbor's cosine equal
    to the exact score, and recall above the family floor (finer cells
    at fixed n_probe scan less, so recall may dip but not collapse)."""
    from habits_etl_spark.plans import QUERIES
    from habits_etl_spark.plans.ext_vectors4 import ext_ann_ivf_probe_retuned

    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos
        for r in QUERIES["ext_topk_sim_search"](spark, sf_dir).collect()
    }
    rows = ext_ann_ivf_probe_retuned(spark, sf_dir).collect()
    per_q = defaultdict(list)
    for r in rows:
        per_q[r.query_id].append(r.rk)
    assert len(per_q) == N_QUERIES
    for q, rks in per_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= TOP_K
    hits = [r for r in rows if (r.query_id, r.neighbor_id) in exact_cos]
    for r in hits:
        assert r.cos == exact_cos[(r.query_id, r.neighbor_id)]
    recall = len(hits) / (len(exact_cos) or 1)
    assert recall >= 0.2, f"retuned IVF recall collapsed: {recall}"


import pytest


@pytest.mark.parametrize(
    "audit_id,probe_id,floor",
    [
        ("ext_ivf_recall_audit", "ext_ann_ivf_probe", 0.3),
        ("ext_pq_recall_audit", "ext_pq_topk", 0.3),
        ("ext_lsh_recall_audit", "ext_ann_lsh_bucketed", 0.3),
    ],
)
def test_recall_audit_matches_direct_join(spark, sf_dir, audit_id, probe_id, floor):
    """Each family's audit found flags must equal a direct membership
    check of that probe's pairs inside the exact top-k, and recall@k
    must stay above the family floor (the long-standing
    test_ivf_recall/test_vectors3 levels)."""
    from habits_etl_spark.plans import QUERIES

    exact = [
        (r.query_id, r.neighbor_id, r.rk)
        for r in QUERIES["ext_topk_sim_search"](spark, sf_dir).collect()
    ]
    probe_pairs = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES[probe_id](spark, sf_dir).collect()
    }
    audit = QUERIES[audit_id](spark, sf_dir).collect()
    assert len(audit) == N_QUERIES * TOP_K
    got = {(r.query_id, r.neighbor_id): (r.exact_rk, r.found) for r in audit}
    assert len(got) == len(audit)
    for qid, nid, rk in exact:
        assert got[(qid, nid)] == (rk, (qid, nid) in probe_pairs)
    recall = sum(1 for r in audit if r.found) / len(audit)
    assert recall >= floor, f"audited {probe_id} recall collapsed: {recall}"
