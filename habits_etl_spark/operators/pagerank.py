"""PageRank by power iteration — centrality over document graphs.

Training-data pipelines use PageRank-style centrality for source/host
quality weighting (the CommonCrawl host-rank idea) and for picking the
canonical member of a near-duplicate cluster (most-connected doc instead
of min-id). The graph here is whatever edge list the caller brings —
near-dup candidate pairs, citation links, host links.

Execution shape (the iterative-DataFrame pattern, like
operators/clusters.py): each power iteration is one shuffle-join of the
rank vector with the edge list plus one aggregation by destination;
``localCheckpoint(eager=True)`` truncates lineage every iteration so the
plan stays O(1) deep instead of O(iters). Dangling mass (nodes with no
out-edges) is redistributed uniformly via a broadcast scalar — computed
as an aggregate and cross-joined, never collected to the driver.

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
    v = nodes.select(F.col(node_col).alias("node")).distinct().localCheckpoint(True)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(True)
    )
    n_df = v.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))

    ranks = v.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(iters):
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
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("rank") / F.col("outdeg")).cast("decimal(38,28)"))
                .cast("double")
                .alias("contrib")
            )
        )
        dangling = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.col("rank").cast("decimal(38,28)")).cast("double"),
                    F.lit(0.0),
                ).alias("dm")
            )
        )
        ranks = (
            v.join(contrib, v["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dm") / F.col("n"))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
