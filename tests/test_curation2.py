"""Bounds and invariants for the wave-4 curation ops (dup n-gram coverage,
domain mixing) plus plan-level evidence for the scale machinery they lean
on at 100 TB: runtime Bloom-filter join pruning and CBO statistics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from habits_etl_spark.plans.ext_curation2 import (
    _COV_MAX_FRAC,
    _MIX_MAX_WEIGHT,
    ext_domain_mix,
    ext_dup_ngram_coverage,
)
from habits_etl_spark.session import conf_scope


def test_dup_ngram_coverage_bounds(spark, sf_dir):
    rows = ext_dup_ngram_coverage(spark, sf_dir).collect()
    assert rows, "expected at least one doc with >= 8 tokens"
    for r in rows:
        assert 0 <= r.dup_grams <= r.n_grams
        assert 0.0 <= r.dup_frac <= 1.0
        assert r.flagged == (r.dup_frac > _COV_MAX_FRAC) or (
            # rounding of dup_frac may disagree with the unrounded flag
            # only within 5e-5 of the threshold
            abs(r.dup_frac - _COV_MAX_FRAC) < 5e-4
        )


def test_dup_ngram_coverage_symmetry(spark, sf_dir):
    # A gram counted as duplicated for one doc is duplicated for >= 2 docs
    # in total: the corpus-wide dup_grams sum can never be 1 occurrence.
    agg = ext_dup_ngram_coverage(spark, sf_dir).agg(
        F.sum("dup_grams").alias("dup"), F.sum("n_grams").alias("tot")
    ).collect()[0]
    assert agg.dup != 1
    assert agg.dup <= agg.tot


def test_domain_mix_invariants(spark, sf_dir):
    rows = ext_domain_mix(spark, sf_dir).collect()
    assert len(rows) >= 2
    share_sum = sum(r.token_share for r in rows)
    assert share_sum == pytest.approx(1.0, abs=1e-3)
    for r in rows:
        assert 0.0 < r.sample_weight <= _MIX_MAX_WEIGHT
        assert r.n_docs > 0 and r.n_tokens > 0
    # weights move toward uniform: over-represented sources get weight < 1,
    # under-represented get > 1 (unless capped).
    n_src = len(rows)
    for r in rows:
        if r.token_share > 1.0 / n_src:
            assert r.sample_weight < 1.0 + 1e-9


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """At 100 TB the cheapest join is the one that never shuffles the
    non-matching rows: Spark's runtime Bloom-filter injection (SPARK-32268)
    builds a bloom filter from the selective side and semi-filters the scan
    of the big side. Local datasets are far below the default 10 GiB
    application-side threshold, so lower the thresholds and assert the
    rewrite actually fires (plan contains bloom_filter_might_contain)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:2000]
        assert j.collect()  # and it still executes correctly


def test_cbo_stats_drive_broadcast(spark, sf_dir, tmp_path):
    """Cost-based optimization needs table/column statistics; on a real
    deployment ANALYZE TABLE runs after each batch load. Register two
    external parquet tables, ANALYZE them, and assert (a) rowCount stats
    are visible to the planner and (b) a stats-sized small table is chosen
    as the broadcast side without an explicit hint."""
    # (The catalog tables are two small dims: cheap to ANALYZE, and the
    # planner must pick nation as the broadcast side from its stats.)
    spark.sql("DROP TABLE IF EXISTS _cbo_customer")
    spark.sql("DROP TABLE IF EXISTS _cbo_nation")
    spark.sql(
        f"CREATE TABLE _cbo_customer USING parquet LOCATION '{sf_dir}/customer.parquet'"
    )
    spark.sql(
        f"CREATE TABLE _cbo_nation USING parquet LOCATION '{sf_dir}/nation.parquet'"
    )
    try:
        spark.sql("ANALYZE TABLE _cbo_customer COMPUTE STATISTICS")
        spark.sql("ANALYZE TABLE _cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
        stats = spark.sql("DESC EXTENDED _cbo_nation").filter(
            F.col("col_name") == "Statistics"
        ).collect()
        assert stats and "rows" in stats[0].data_type, stats
        with conf_scope(spark, {"spark.sql.cbo.enabled": "true"}):
            cust = spark.table("_cbo_customer")
            nat = spark.table("_cbo_nation")
            j = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
            plan = j._jdf.queryExecution().sparkPlan().toString()
            assert "BroadcastHashJoin" in plan, plan[:2000]
    finally:
        spark.sql("DROP TABLE IF EXISTS _cbo_customer")
        spark.sql("DROP TABLE IF EXISTS _cbo_nation")
