"""PageRank operator: exact agreement with a Python power-iteration
reference on a known graph, mass conservation, and hub ordering."""

from __future__ import annotations

from habits_etl_spark.operators.pagerank import DAMPING, ITERS, pagerank


def _py_pagerank(nodes, edges, damping=DAMPING, iters=ITERS):
    out = {}
    outdeg = {}
    for s, d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, d in edges:
            contrib[d] += ranks[s] / outdeg[s]
        dm = sum(r for v, r in ranks.items() if v not in outdeg)
        ranks = {
            v: (1 - damping) / n + damping * (contrib[v] + dm / n) for v in nodes
        }
    return ranks


def test_matches_python_reference_with_dangling_mass(spark):
    # star around 1, a 2-cycle (4,5), and an isolated dangling node 6
    nodes = [1, 2, 3, 4, 5, 6]
    edges = [(2, 1), (3, 1), (1, 2), (4, 5), (5, 4)]
    # node 3 has an out-edge; 6 has none at all -> pure dangling
    vdf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(vdf, edf).collect()}
    want = _py_pagerank(nodes, edges)
    assert set(got) == set(want)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    # connected nodes out-rank the isolated dangling node, which sits at
    # the (1-d)/n + d*dm/n floor (1 vs 2 oscillate in the cycle — no
    # ordering claim between them at a finite iteration count)
    assert got[1] > got[6] and got[2] > got[6] and got[4] > got[6]


def test_dupgraph_query_shape(spark, sf_dir):
    from habits_etl_spark.plans.ext_curation5 import ext_pagerank_dupgraph
    from habits_etl_spark.plans.common import t

    out = ext_pagerank_dupgraph(spark, sf_dir).collect()
    n_docs = t(spark, sf_dir, "documents").count()
    assert len(out) == n_docs  # every doc ranked, including isolated ones
    total = sum(r.rank for r in out)
    assert abs(total - 1.0) < 1e-3  # 9dp rounding on |docs| rows
    assert all(r.rank > 0 for r in out)


def test_decimal_cast_cross_engine_parity(spark):
    """Pin the rule-1 cross-engine assumption (operators/pagerank.py):
    Spark casts double->decimal(38,28) by quantizing the double's
    SHORTEST decimal repr (BigDecimal HALF_UP); DuckDB rounds the EXACT
    binary value. On adversarial doubles the two decimals may differ —
    but never by more than ~1 ulp of the double, which is what keeps an
    unrolled decimal-sum oracle inside round(..., 9) except on knife-edge
    rounding ties."""
    import math
    from decimal import Decimal

    import duckdb

    adversarial = [
        0.1,                       # classic shortest-repr vs binary gap
        0.2,
        0.3,
        1.0 / 3.0,
        1.0 / 7.0,
        0.30000000000000004,       # 0.1 + 0.2
        1e-5 + 1e-12,              # rank-magnitude with a tiny tail
        0.12345678944999999,       # near a 9-dp rounding knife edge
        # values engineered midway between 28-digit decimal grid points
        float(Decimal("0.00000000000000000000000000005")),
        float(Decimal("0.12500000000000000000000000005")),
    ]
    rows = [(i, d) for i, d in enumerate(adversarial)]
    sdf = spark.createDataFrame(rows, "i int, d double").selectExpr(
        "i", "CAST(CAST(d AS DECIMAL(38,28)) AS STRING) AS dec"
    )
    got_spark = {r.i: Decimal(r.dec) for r in sdf.collect()}
    con = duckdb.connect()
    got_duck = {}
    for i, d in rows:
        # bind the float as a parameter: a bare SQL literal would parse as
        # DECIMAL(18,17) and break the exact double round-trip
        (s,) = con.execute(
            "SELECT CAST(CAST(? AS DOUBLE) AS DECIMAL(38,28))::VARCHAR", [d]
        ).fetchone()
        got_duck[i] = Decimal(s)
    for i, d in rows:
        gap = abs(got_spark[i] - got_duck[i])
        # the documented bound: per-term divergence <= 1 ulp of the double
        assert gap <= Decimal(repr(math.ulp(d))), (d, got_spark[i], got_duck[i])
    # and the divergence is REAL (the assumption is not vacuous): at
    # least one adversarial double quantizes differently across engines
    assert any(got_spark[i] != got_duck[i] for i, _ in rows)
