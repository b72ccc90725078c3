"""Waves 31-32 — shuffle-guard machinery: explicit Bloom-filter join
pruning, a relational (mergeable) count-min sketch, the
interval x interval overlap join, and the salted hot-key join.

These are the "don't move the data (or move it evenly)" primitives a
100 TB join pipeline leans on: prune the fact scan before the shuffle
with a bounded-size filter built from the dim side; answer frequency
questions from a fixed-size mergeable sketch instead of a full groupBy
over raw keys; join time ranges to time ranges with cost proportional
to temporal density rather than |A| x |B|; and spread a whale key over
n reducers without changing the join's result.

All are pure built-in-expression DataFrame plans (no UDF of any kind);
the Bloom, overlap, and salted queries are exact and
DuckDB-oracle-gated, the CMS audit is rows-only (xxhash64 has no DuckDB
equivalent) with its guarantees pytest-asserted in
tests/test_sketchjoin.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.operators.bloom import bloom_build, bloom_prune
from habits_etl_spark.operators.cms import cms_build, cms_estimate, cms_merge
from habits_etl_spark.operators.range_join import interval_overlap_join
from habits_etl_spark.operators.skew import salted_join
from habits_etl_spark.plans.common import query, t

# Bloom sizing for the urgent-orders key set: ~16 bits per expected key
# at sf1-ish dim cardinality keeps the false-positive rate far below
# the residual join's noise floor; at larger SF you grow num_bits
# linearly with the expected distinct keys (the build stays a
# bounded <= num_bits/64-row aggregate either way).
_BLOOM_BITS = 1 << 16
_BLOOM_HASHES = 5

_CMS_DEPTH = 4
_CMS_WIDTH = 512


@query(
    "join_bloom_prune",
    f"""
    SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS wk,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6)))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0
    GROUP BY wk ORDER BY wk
    """,
)
def join_bloom_prune(spark, sf_dir):
    """Weekly revenue of a selective order subset, with the lineitem
    scan Bloom-pruned BEFORE the join shuffle (operators/bloom.py).

    The dim filter (1-URGENT, orderkey%7) keeps ~3% of orders — too
    selective to justify shuffling all of lineitem, while at full scale
    the surviving key set may still exceed a comfortable broadcast. The
    Bloom filter is the middle path: the key set compresses to a
    <= num_bits/64-word map built by one bounded aggregation, broadcast
    as ONE row, and applied as a map-side codegen filter on the fact
    scan, so the join shuffle moves only (true matches + epsilon false
    positives). The final equi join restores exactness — a Bloom filter
    has no false negatives — which is why this query can carry a plain
    relational oracle.

    This is the explicit, always-on form of Spark's runtime row-level
    bloomFilter rewrite; making it an operator means ANY join can opt
    in regardless of the optimizer's creation-side heuristics."""
    o = t(spark, sf_dir, "orders")
    dim = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 7 == 0)
    ).select("o_orderkey", "o_orderdate")
    bloom = bloom_build(dim, "o_orderkey", _BLOOM_BITS, _BLOOM_HASHES)
    fact = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prune(fact, "l_orderkey", bloom, _BLOOM_BITS, _BLOOM_HASHES)
    joined = pruned.join(dim, pruned["l_orderkey"] == dim["o_orderkey"])
    return (
        joined.groupBy(
            F.date_format(F.date_trunc("WEEK", F.col("o_orderdate")), "yyyy-MM-dd").alias("wk")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            # exact decimal revenue: cast FACTORS (not the double product),
            # and round the DECIMAL sum BEFORE the double cast — rounding
            # the double instead hits engine-divergent ties when the exact
            # cent value has no exact binary representation (observed: one
            # week at sf0.1 off by $0.01 the other way)
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (
                        F.lit(1).cast("decimal(12,6)")
                        - F.col("l_discount").cast("decimal(12,6)")
                    )
                ),
                2,
            ).cast("double").alias("revenue"),
        )
        .orderBy("wk")
    )


@query(
    "join_interval_overlap",
    """
    WITH iva AS (
      SELECT o_orderkey AS a_id, o_orderdate AS a_start,
             o_orderdate + (1 + o_orderkey % 28) * INTERVAL 1 DAY AS a_end
      FROM orders WHERE o_orderkey % 293 = 0
    ), ivb AS (
      SELECT o_orderkey AS b_id, o_orderdate AS b_start,
             o_orderdate + (1 + o_orderkey % 14) * INTERVAL 1 DAY AS b_end
      FROM orders WHERE o_orderkey % 307 = 0
    )
    SELECT a_id, CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(date_diff('day', greatest(a_start, b_start),
                              least(a_end, b_end))) AS BIGINT) AS overlap_days
    FROM iva JOIN ivb ON a_start < b_end AND b_start < a_end
    GROUP BY a_id ORDER BY a_id
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (binned): which promo windows
    (sample A) collide with which ops-freeze windows (sample B), with
    total overlapping days per A window.

    A naive ``a_start < b_end AND b_start < a_end`` join has no equi
    key -> BroadcastNestedLoopJoin, O(|A| x |B|). The rewrite
    (operators/range_join.py interval_overlap_join) explodes BOTH sides
    to 7-day time bins and equi-joins on the bin; a pair that overlaps
    shares every bin its overlap region touches, so the residual keeps
    it only in the bin containing greatest(a_start, b_start) — each
    true pair survives exactly once with NO dedup shuffle.

    Scale: exploded rows ~ sum(len/bin) per side into one AQE-balanced
    hash join; candidate pairs are those sharing a time bin, so cost
    tracks temporal density, never the cross product."""
    o = t(spark, sf_dir, "orders")
    iva = o.filter(F.col("o_orderkey") % 293 == 0).select(
        F.col("o_orderkey").alias("a_id"),
        F.col("o_orderdate").alias("a_start"),
        F.expr(
            "timestampadd(DAY, CAST(1 + o_orderkey % 28 AS INT), o_orderdate)"
        ).alias("a_end"),
    )
    ivb = o.filter(F.col("o_orderkey") % 307 == 0).select(
        F.col("o_orderkey").alias("b_id"),
        F.col("o_orderdate").alias("b_start"),
        F.expr(
            "timestampadd(DAY, CAST(1 + o_orderkey % 14 AS INT), o_orderdate)"
        ).alias("b_end"),
    )
    pairs = interval_overlap_join(
        iva, ivb, "a_start", "a_end", "b_start", "b_end", bin_days=7
    )
    return (
        pairs.groupBy("a_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
            F.sum(
                F.datediff(
                    F.least(F.col("a_end"), F.col("b_end")).cast("date"),
                    F.greatest(F.col("a_start"), F.col("b_start")).cast("date"),
                )
            ).cast("bigint").alias("overlap_days"),
        )
        .orderBy("a_id")
    )


@query("agg_cms_heavy_hitters")  # no oracle: xxhash64 cells are not SQL-portable
def agg_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch frequency audit over event users
    (operators/cms.py): per-event-type PARTIAL sketches built in one
    bounded groupBy each, merged by cell-wise re-aggregation (the CMS
    mergeability property — the same partial/final shape as Spark's own
    aggregates), then probed for the exact top-10 users so the
    guaranteed-overestimate property is visible row by row.

    Output per candidate: exact_n (ground truth), est_n (sketch
    estimate from the MERGED sketch), overcount = est_n - exact_n
    (>= 0 always; <= eps*N w.p. 1-delta with eps=e/width,
    delta=e^-depth). Rows-only by design — the cell layout depends on
    xxhash64, which DuckDB cannot reproduce; the estimate bounds and
    the merge==direct-build equivalence are asserted in
    tests/test_sketchjoin.py instead.

    Scale: raw events never leave their partitions unreduced — each
    partial sketch is <= depth*width rows regardless of user
    cardinality, so per-source/per-day sketches roll up over any time
    range without re-reading raw data. That rollup-reuse is the whole
    reason to keep a sketch table next to a 100 TB event log."""
    e = t(spark, sf_dir, "events")
    partials = cms_build(
        e, "user_id", _CMS_DEPTH, _CMS_WIDTH, group_cols=["event_type"]
    )
    merged = cms_merge(partials)
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )
    est = cms_estimate(merged, exact, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    return est.select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
    ).orderBy("user_id")


@query(
    "join_skew_salted",
    """
    WITH big AS (
      SELECT event_id, value,
             CASE WHEN event_id % 10 < 7 THEN 'organic'
                  ELSE 'ch_' || CAST(event_id % 23 AS VARCHAR) END AS channel
      FROM events
    ),
    dim AS (SELECT DISTINCT channel FROM big)
    SELECT b.channel, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(b.value AS DECIMAL(18,6))
                 * CAST(length(d.channel) AS DECIMAL(6,0))) AS DOUBLE), 4) AS wsum
    FROM big b JOIN dim d ON b.channel = d.channel
    GROUP BY b.channel ORDER BY b.channel
    """,
)
def join_skew_salted(spark, sf_dir):
    """Hot-key join through the SALTED plan (operators/skew.py), result
    exact and oracle-gated — the correctness half of the bench's
    skew-stress section (which measures the same machinery's partition
    balance; BENCH_DETAIL.json skew_stress).

    The derived channel key puts ~70% of all events on one value
    ('organic') — the classic whale key that would pin a vanilla
    shuffled join to one reducer. salted_join spreads it: the big side
    salts by hash(event_id) into 16 buckets, the dim side replicates
    16x, and the join key becomes (channel, salt). The oracle knows
    nothing of salts — same rows either way, which is exactly the claim
    this query gates.

    Scale: the 16-way spread caps any reducer at ~hot_share/16 of rows
    (bench-measured max-partition share 0.515 -> 0.079); AQE skew
    splitting is the adaptive alternative, salting the deterministic
    one — this registry exercises both (session.py enables AQE)."""

    e = t(spark, sf_dir, "events")
    big = e.select(
        "event_id",
        "value",
        F.when(F.col("event_id") % 10 < 7, F.lit("organic"))
        .otherwise(F.concat(F.lit("ch_"), (F.col("event_id") % 23).cast("string")))
        .alias("channel"),
    )
    dim = big.select("channel").distinct()
    joined = salted_join(
        big, dim, key="channel", n_salts=16, how="inner", salt_source="event_id"
    )
    return (
        joined.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(
                    F.col("value").cast("decimal(18,6)")
                    * F.length("channel").cast("decimal(6,0)")
                ).cast("double"),
                4,
            ).alias("wsum"),
        )
        .orderBy("channel")
    )


def _bloom_ab_inputs(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    dim = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 7 == 0)
    ).select("o_orderkey")
    fact = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return dim, fact


def bloom_ab_plain(spark, sf_dir):
    """Bench-only A/B baseline (not registered): the same selective join
    as join_bloom_prune with the dim pinned to a MERGE (shuffle) join —
    the plan shape a 100 TB dim forces once it exceeds the broadcast
    threshold.

    Measured nuance (r6, execution-level shuffle metrics): the fact side
    does NOT shuffle whole even here — Catalyst's constraint propagation
    infers ``l_orderkey % 7 = 0`` from the equi-key plus the dim's
    deterministic mod predicate and pushes it to the fact scan, a 7x
    prune for free. What the Bloom adds on top is the NON-INFERABLE half
    of the dim filter (o_orderpriority = '1-URGENT' has no fact-side
    expression), which is exactly the general case: most dim filters are
    on dim attributes no constraint rule can transpose. The recorded
    bloom_ab bytes therefore compare inferred-predicate-only (plain) vs
    inferred + Bloom (pruned) — the honest denominator."""
    dim, fact = _bloom_ab_inputs(spark, sf_dir)
    joined = fact.join(
        dim.hint("merge"), fact["l_orderkey"] == dim["o_orderkey"]
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("q"),
    )


def bloom_ab_pruned(spark, sf_dir):
    """Bench-only A/B treatment (not registered): identical MERGE join,
    but the fact side is Bloom-pruned BEFORE the shuffle — only
    (matches + epsilon fp) rows shuffle instead of the whole table. The
    delta between this and bloom_ab_plain is the pruning's value in the
    can't-broadcast regime; recorded in BENCH_DETAIL.json bloom_ab."""
    dim, fact = _bloom_ab_inputs(spark, sf_dir)
    bloom = bloom_build(dim, "o_orderkey", _BLOOM_BITS, _BLOOM_HASHES)
    pruned = bloom_prune(fact, "l_orderkey", bloom, _BLOOM_BITS, _BLOOM_HASHES)
    joined = pruned.join(
        dim.hint("merge"), pruned["l_orderkey"] == dim["o_orderkey"]
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("q"),
    )
