"""PageRank by power iteration — centrality over document graphs.

Training-data pipelines use PageRank-style centrality for source/host
quality weighting (the CommonCrawl host-rank idea) and for picking the
canonical member of a near-duplicate cluster (most-connected doc instead
of min-id). The graph here is whatever edge list the caller brings —
near-dup candidate pairs, citation links, host links.

Execution shape (the round loop of operators/iterate.py, which
materializes every generation so the plan stays O(1) deep instead of
O(iters)): the loop invariants are materialized once — each node carries
its out-degree and the node count — so each power iteration is one
shuffle-join of the rank vector with the edge list plus one aggregation
by destination. Dangling mass (nodes with no out-edges, a null
out-degree) is redistributed uniformly via a broadcast scalar — summed
over those nodes and cross-joined, never collected to the driver.

At 100 TB: the edge list of a near-dup graph is collision-scale (pairs
that actually banded together), orders of magnitude smaller than the
corpus; the rank vector is |nodes| rows hash-partitioned by node id.
Each iteration shuffles edges once on src and once on dst — with edges
pre-partitioned by src the first shuffle disappears.

Driver check: since r10 the dup-graph query unrolls the fixed iteration
count into a DuckDB oracle (decimal-exact sums make the iterate order-
invariant); semantics are additionally pinned in tests/test_pagerank.py
against an exact Python reference on a known graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from habits_etl_spark.operators.iterate import fixpoint, materialize, release

DAMPING = 0.85
ITERS = 8


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    damping: float = DAMPING,
    iters: int = ITERS,
) -> DataFrame:
    """Power-iteration PageRank.

    nodes: one row per vertex (isolated vertices allowed — they become
    dangling mass). edges: DIRECTED (src, dst) rows; symmetrize first
    for an undirected graph. Returns (node, rank) with sum(rank) == 1.
    """
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    v = nodes.select(F.col(node_col).alias("node")).distinct()
    n_df = v.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )
    ranks = materialize(
        v.join(outdeg, "node", "left")
        .crossJoin(F.broadcast(n_df))
        .select("node", "outdeg", "n", (F.lit(1.0) / F.col("n")).alias("rank"))
    )

    def step(ranks):
        # DECIMAL(38,28)-exact sums (plans/common.py rule 1): the iterate
        # is then parallelism- and order-invariant, which is what lets
        # ext_pagerank_dupgraph state the unrolled iteration as a DuckDB
        # oracle. The 1e-28 quantization is 19 orders below the 1e-9
        # agreement the python-reference test pins.
        # Cross-engine caveat (pinned by tests/test_pagerank.py::
        # test_decimal_cast_cross_engine_parity): cast(double AS
        # decimal(38,28)) is engine-defined — Spark quantizes the double's
        # SHORTEST decimal repr (BigDecimal HALF_UP) while DuckDB rounds
        # the EXACT binary value, so per-term decimals may differ by up to
        # ~1 ulp of the double (~1e-17 at rank magnitudes). The sums are
        # therefore identical only to ~n_terms x 1e-17, and the final
        # round(..., 9) absorbs that everywhere except knife-edge rounding
        # ties — the residual tie class the sf0.1 ledger exists to catch.
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .groupBy("dst")
            .agg(
                F.sum((F.col("rank") / F.col("outdeg")).cast("decimal(38,28)"))
                .cast("double")
                .alias("contrib")
            )
        )
        dangling = ranks.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(38,28)")).cast("double"),
                F.lit(0.0),
            ).alias("dm")
        )
        rank = (1.0 - damping) / F.col("n") + damping * (
            F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dm") / F.col("n")
        )
        return (
            ranks.join(contrib, ranks["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select("node", "outdeg", "n", rank.alias("rank"))
        )

    ranks = fixpoint(ranks, step, rounds=iters)
    release(e)
    return ranks.select("node", "rank")
