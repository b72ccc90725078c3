"""Lloyd's algorithm as DataFrame ops: the one seed pick and the one
update round behind every trained quantizer (spherical k-means, PQ
codebooks, the incremental-IVF fit).

Input is a (vec_id, v, nrm) relation: a float64 vector with its L2 norm
as a scalar column, never a pre-divided unit vector (dividing inside an
array lambda re-evaluates the norm fold per element). The caller keeps
the model-specific parts: the assignment expression (centroids ride into
the task as plan literals; ``argmax_cell_expr`` for unit centroids) and
the centroid update applied to the collected per-cell sums.

Determinism is the contract that lets every fit be restated as a DuckDB
oracle: seeds come from a salted md5 order (no RNG state, no density
assumption on vec_id), and the per-(cell, dim) mean numerators are
DECIMAL-exact sums, so a round's result is independent of partitioning
and task order (what MLlib's float treeAggregate cannot promise).

At 100 TB: fit on a hash sample of the relation (the estimator
converges on a fraction of the corpus) and run the final assignment map
over everything. The sample would be taken here, before the seed pick.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import md5_int


def lit_array_sql(vals) -> str:
    """A float64 array literal as ONE parsed SQL expression (a Column-tree
    build of 64 lits per centroid costs hundreds of py4j round trips —
    the lesson recorded in PERF_r3_minhash.md #2)."""
    return "array(" + ", ".join(f"{x!r}D" for x in vals) + ")"


def dots_sql(centroids: list[list[float]], vcol: str = "v") -> str:
    """SQL for array(dot(vcol, c_0), ..., dot(vcol, c_{k-1}))."""
    return "array(" + ", ".join(
        f"aggregate(zip_with({vcol}, {lit_array_sql(c)}, (x, y) -> x * y),"
        " 0.0D, (acc, x) -> acc + x)"
        for c in centroids
    ) + ")"


def argmax_cell_expr(centroids: list[list[float]]) -> Column:
    """cluster id of the nearest centroid for embedding column ``v``, ties
    to the lowest cell id — a pure map over the corpus, no shuffle, no
    join: the centroid set rides into the task as plan literals. Because
    centroids are unit vectors, argmax of the raw dot product IS argmax
    of the cosine (the row's 1/nrm factor is a positive constant)."""
    dots = dots_sql(centroids)
    return F.expr(f"array_position({dots}, array_max({dots})) - 1").cast("int")


def hash_seeds(rel: DataFrame, salt: str, k: int) -> list[list[float]]:
    """k UNIT seed vectors: the first k rows of ``rel`` in (md5(salt ||
    vec_id) prefix int, vec_id) order, read from a slice that keeps ~2k
    rows of the hash space (oversampled 2x against shortfall). If the
    slice comes up short of k rows (binomial shortfall on a tiny
    relation), the pick widens to hash-ordering the whole relation —
    only reachable when the relation is small enough for that to be
    cheap. ``rel`` should be cached by the caller: the count, the pick
    and every later round re-read it."""
    step = max(rel.count() // k, 1)
    hsh = md5_int(salt, F.col("vec_id").cast("string"))

    def pick(cand: DataFrame):
        # orderBy(...).limit(k) -> TakeOrderedAndProject: the same first-k
        # rows as a row_number window, but a per-partition bounded-heap
        # merge instead of a single-partition WindowExec
        return cand.orderBy("__h", "vec_id").limit(k).select("v", "nrm").collect()

    seeds = pick(rel.withColumn("__h", hsh).filter(F.pmod(F.col("__h"), F.lit(step)) < 2))
    if len(seeds) < k:
        seeds = pick(rel.withColumn("__h", hsh))
    return [[x / (r.nrm or 1.0) for x in r.v] for r in seeds]


def lloyd_round(
    rel: DataFrame, cell: Column, vec: str = "v", keys: Sequence[str] = ()
) -> dict[tuple, tuple[list[float], int]]:
    """One Lloyd update: ``cell`` (the caller's nearest-centroid
    expression) assigns each row, then ONE hash aggregate keyed
    (keys..., cell, dim) with map-side partials over the posexploded
    ``vec`` sums each element divided by the row's scalar ``nrm`` —
    the division is scalar-per-exploded-row, never inside an array
    lambda. Returns {(key values..., cell): (vsum, n)}: the dim-ordered
    sum of the members' unit vectors and the member count, for the cells
    that have members. The k x dim collect is the only driver traffic, a
    few KB regardless of relation size."""
    rows = (
        rel.select(*keys, "nrm", cell.alias("cell"), F.posexplode(vec).alias("dim", "x"))
        .groupBy(*keys, "cell", "dim")
        .agg(
            F.sum((F.col("x") / F.col("nrm")).cast("decimal(38,28)"))
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy(*keys, "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda st: st.getField("s"),
            ).alias("vsum"),
            F.first("n").alias("n"),
        )
        .collect()
    )
    return {tuple(r[c] for c in (*keys, "cell")): (r.vsum, r.n) for r in rows}
