"""Core decomposition (coreness) by distributed h-index iteration.

Near-duplicate graphs have a characteristic pathology: template/boilerplate
farms form dense cores (every page near-duplicates every other), while
legitimate re-posts form thin chains. Coreness — the largest k such that a
node survives in the k-core — separates the two far more sharply than raw
degree, so curation pipelines use it to route "dense-core" clusters to
aggressive dedup and thin ones to keep-one policies. PageRank
(operators/pagerank.py) ranks WITHIN a neighborhood; coreness classifies
the neighborhood itself.

Algorithm: the h-index fixpoint of Lü, Zhou, Zhang & Stanley, "The
H-index of a network node and its relation to degree and coreness"
(Nature Communications 7:10168, 2016 — public): start from c0 = degree,
then repeatedly set c(v) to the h-index of its neighbors' current values;
the sequence is monotonically non-increasing and converges to coreness
exactly. Each iteration is pure DataFrame algebra:

  join edges with the current labels  →  per-node neighbor-value list
  h-index = max over neighbors of min(row_number by value desc, value)

so one shuffle on dst plus one window per iteration, run by the round
loop of operators/iterate.py until no label changes (the same loop as
operators/clusters.py and pagerank.py). There is no round cap: labels
are non-negative integers that never increase, so the loop terminates,
and a cap would return labels that have not converged (a 60-node path
needs 29 rounds).

At 100 TB: the edge list is collision-scale (banded candidate pairs), the
label vector is |nodes| rows hash-partitioned by id; convergence needs
O(graph diameter-ish) rounds in theory but single digits in practice on
near-dup graphs (their cores are shallow); each generation carries its
previous label, so the stop check is one job over the materialized
generation, never a data collect.

Driver check: ext_kcore_dupgraph is hash-gated against a DuckDB
recursive CTE that runs the same update to its fixpoint
(plans/ext_curation7.py); semantics pinned in tests/test_kcore.py
against an exact Python peeling reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from habits_etl_spark.operators.iterate import fixpoint, materialize, release


def coreness(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact coreness per node via the h-index fixpoint.

    nodes: one row per vertex (isolated vertices get coreness 0).
    edges: UNDIRECTED graph given as a symmetrized directed edge list —
    both (a,b) and (b,a) present; self-loops are dropped. Returns
    (node, coreness) with coreness a bigint.
    """
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # c0 = degree (isolated nodes: 0).
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    labels = materialize(
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(deg, "node", "left")
        .select("node", F.coalesce(F.col("c"), F.lit(0).cast("bigint")).alias("c"))
    )

    def step(labels):
        # Neighbor values arrive at dst; h-index = max(min(rank, value))
        # over neighbors sorted by value desc — at most degree(v) rows per
        # node, one user-keyed window, no per-node collect.
        nbr = (
            e.join(labels, e["src"] == labels["node"])
            .select(F.col("dst").alias("node"), F.col("c").alias("nc"))
        )
        w = Window.partitionBy("node").orderBy(F.col("nc").desc())
        h = (
            nbr.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .groupBy("node")
            .agg(F.max(F.least(F.col("rn"), F.col("nc"))).alias("h"))
        )
        return labels.join(h, "node", "left").select(
            "node",
            F.least(
                F.col("c"), F.coalesce(F.col("h"), F.lit(0).cast("bigint"))
            ).alias("c"),
            F.col("c").alias("prev"),
        )

    labels = fixpoint(labels, step, changed=F.col("c") != F.col("prev"))
    release(e)
    return labels.select("node", F.col("c").alias("coreness"))
