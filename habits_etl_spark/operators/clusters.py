"""Connected components over near-duplicate pairs — duplicate CLUSTERS.

Pair lists (from MinHash/embedding dedup) aren't directly actionable: a
keep-one-per-cluster policy needs the transitive closure (a~b, b~c => one
cluster). This is the canonical iterative Spark algorithm: alternating
small-star / large-star label propagation until no label changes — each
iteration is one join + one aggregation, converging in O(log n) rounds,
run by the round loop of operators/iterate.py. Labels are vertex ids
that never increase, so the loop terminates without a round cap.

At 100 TB: edges are the (tiny) near-dup pair set, not the corpus, so the
loop runs on collision-scale data; each round is a shuffle on vertex id.
(Driver check: the five ids built on it, ext_dup_clusters first, are
hash-gated against DuckDB recursive CTEs; semantics are also asserted in
tests/test_clusters.py against known components.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from habits_etl_spark.operators.iterate import fixpoint, materialize, release


def _driver_union_find(rows) -> list[tuple]:
    """Min-label union-find over a BOUNDED collected edge list (path
    compression; roots keep the minimum member id). O(E α(E)) on the
    driver — microseconds at the collect budget."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        if a == b:  # self-loop: vertex registered, nothing to unite
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root, so every root IS its component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(v, find(v)) for v in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    driver_solve_max_edges: int = 1_000_000,
    broadcast_edges_max: int = 2_000_000,
) -> DataFrame:
    """Every vertex converges to the minimum vertex id reachable from it.
    Returns (vertex, component).

    Strategy is picked from the MEASURED edge count (free once the
    symmetric edge list is materialized):

    - ≤ ``driver_solve_max_edges``: collect the undirected edges and run
      min-label union-find on the driver. The collect is bounded by the
      constant, never by data — near-dup pair graphs are collision-scale,
      and at this size the distributed loop is pure job-latency (each
      O(log n) round costs fixed scheduler time on a handful of rows).
    - larger: the canonical alternating label-propagation / pointer-jump
      loop, one join + one agg per round, converging in O(log n) rounds.
      Joins take explicit broadcasts while the edge list is still small
      (≤ ``broadcast_edges_max``; drops ~6 exchange stages per round);
      above that the shuffle path stands and AQE converts per-stage when
      runtime stats allow — a 100 TB corpus can emit billions of pairs."""
    sym = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        # null endpoints carry no connectivity: drop them up front so the
        # driver union-find's min-id comparison never sees None and both
        # strategies agree (the distributed join path drops them anyway)
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    # Gate on the UNDIRECTED edge count, measured directly: self-loops
    # appear once (not twice) in the symmetrized-distinct list, so
    # n_sym/2 would under-count them and a self-loop-heavy graph could
    # slip past the collect budget at up to 2x the documented bound.
    # Counts run on materialized data: no recompute, collision-scale rows.
    und_df = sym.filter(F.col("a") <= F.col("b"))
    n_und = und_df.count()
    if n_und <= driver_solve_max_edges:
        vt = sym.schema["a"].dataType
        labeled = _driver_union_find(und_df.collect())
        release(sym)
        schema = T.StructType(
            [T.StructField("vertex", vt, False), T.StructField("component", vt, False)]
        )
        return edges.sparkSession.createDataFrame(labeled, schema)
    hint = F.broadcast if n_und <= broadcast_edges_max else (lambda df: df)
    labels = materialize(
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )

    def step(labels):
        # step 1: each vertex adopts the min(label) among itself + neighbors
        # (left join + least instead of union+groupBy: a self-referencing
        # union plan trips Catalyst's Union constraint propagation).
        # NOT materialized: its lineage is one join off two already-
        # materialized inputs, so letting the pointer jump's self-join
        # evaluate it twice costs two tiny joins instead of an extra
        # checkpoint job per round (the loop is job-latency bound —
        # collision-scale data, fixed cost per Spark job).
        neighbor_min = (
            sym.join(hint(labels), sym["b"] == labels["vertex"])
            .groupBy(F.col("a").alias("nv"))
            .agg(F.min("component").alias("ncomp"))
        )
        stepped = labels.join(
            hint(neighbor_min), labels["vertex"] == neighbor_min["nv"], "left"
        ).select(
            "vertex",
            # least skips a null ncomp: a vertex with no neighbors keeps its label
            F.least(F.col("component"), F.col("ncomp")).alias("component"),
            F.col("component").alias("prev"),
        )
        # step 2: pointer jumping — follow the label's own label
        # (component ids are vertex ids, so the self-join always hits);
        # together the two steps halve path lengths => O(log n) rounds.
        # `prev` (the label at round start) rides along for the loop's
        # convergence check.
        l1 = stepped.alias("l1")
        l2 = stepped.alias("l2")
        return l1.join(hint(l2), F.col("l1.component") == F.col("l2.vertex")).select(
            F.col("l1.vertex").alias("vertex"),
            F.col("l2.component").alias("component"),
            F.col("l1.prev").alias("prev"),
        )

    labels = fixpoint(labels, step, changed=F.col("component") != F.col("prev"))
    release(sym)
    return labels.select("vertex", "component")
