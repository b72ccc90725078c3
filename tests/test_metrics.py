"""Execution-level shuffle-metrics reader (habits_etl_spark/metrics.py):
the instrument behind the bench's bloom_ab byte story."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from habits_etl_spark.metrics import (
    _metric_total,
    codegen_compiles,
    run_with_shuffle_metrics,
    time_noop,
)


def test_metric_total_parses_plain_and_human_forms():
    assert _metric_total("776") == 776
    assert _metric_total("8,704") == 8704
    assert (
        _metric_total(
            "total (min, med, max (stageId: taskId))\n"
            "20.4 KiB (2.5 KiB, 2.5 KiB, 2.6 KiB (stage 0.0: task 7))"
        )
        == 20.4 * 1024
    )
    assert _metric_total("size total (min, med, max)\n3.0 MiB (1.0 MiB, ...)") == 3 * 1024**2
    assert _metric_total("84.0 B") == 84.0


def test_shuffle_metrics_of_a_groupby(spark):
    df = (
        spark.range(0, 100_000, 1, 8)
        .select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    m = run_with_shuffle_metrics(spark, df)
    assert m["elapsed_sec"] > 0
    # one exchange on k: 8 map tasks x 97 keys of partials
    assert m["shuffle_records_written"] is not None
    assert 97 <= m["shuffle_records_written"] <= 8 * 97
    assert m["shuffle_bytes_written"] > 0


def test_bloom_prune_reduces_shuffle_bytes_and_records(spark):
    """The A/B's cluster-scale claim, now asserted in measured bytes:
    the Bloom-pruned variant of the pinned merge join must move fewer
    shuffle records AND fewer shuffle bytes than the plain one, even
    though Catalyst already infers the deterministic mod predicate onto
    the fact side of the plain plan (see bloom_ab_plain docstring).

    Pinned to sf0.01, not the sf0.001 unit fixture: the Bloom build's
    own bounded shuffle (~num_bits/64 words) is a fixed cost that can
    exceed the byte savings when the fact table is only 6k rows — the
    operator's contract is amortization at fact scale, so assert where
    the fact side dominates."""
    from habits_etl_spark.plans.sketchjoin import bloom_ab_plain, bloom_ab_pruned

    sf_dir = "/root/testdata/sf0.01"
    plain = run_with_shuffle_metrics(spark, bloom_ab_plain(spark, sf_dir))
    pruned = run_with_shuffle_metrics(spark, bloom_ab_pruned(spark, sf_dir))
    assert plain["shuffle_records_written"] is not None
    assert pruned["shuffle_records_written"] is not None
    assert pruned["shuffle_records_written"] < plain["shuffle_records_written"]
    assert pruned["shuffle_bytes_written"] < plain["shuffle_bytes_written"]


def _group_jobs(sc, label: str, at_least: int) -> set[int]:
    """Job ids of ``label``, polled because the listener bus is async."""
    deadline = time.monotonic() + 30
    while True:
        jobs = set(sc.statusTracker().getJobIdsForGroup(label))
        if len(jobs) >= at_least or time.monotonic() > deadline:
            return jobs
        time.sleep(0.1)


def test_time_noop_labels_build_and_write_jobs(spark):
    sc = spark.sparkContext
    label = f"test_time_noop:{uuid.uuid4().hex}"
    seen = {}

    def build():
        spark.range(0, 1000, 1, 2).count()  # a job run while building
        seen["build"] = _group_jobs(sc, label, 1)
        return spark.range(0, 1000, 1, 2).selectExpr("sum(id) as s")

    build_s, exec_s = time_noop(spark, build, label)
    assert build_s > 0 and exec_s > 0
    assert seen["build"]
    # the write's jobs join the build's under the same group
    assert seen["build"] < _group_jobs(sc, label, len(seen["build"]) + 1)


def test_time_noop_clears_its_label_when_build_raises(spark):
    sc = spark.sparkContext

    def build():
        spark.range(0, 10).count()
        raise ValueError("plan build failed")

    with pytest.raises(ValueError):
        time_noop(spark, build, "test_time_noop:raises")
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None


def test_codegen_compiles_counts_new_code_and_not_a_warm_rerun(spark):
    """A literal inlined into generated code makes the plan new code; the
    same plan run again hits the codegen cache and compiles nothing."""
    seed = uuid.uuid4().int % 1_000_000_007
    df = spark.range(0, 1000, 1, 2).selectExpr(f"sum(id * {seed} % 7919) as s")
    n0, ms0 = codegen_compiles(spark)
    df.collect()
    n1, ms1 = codegen_compiles(spark)
    assert n1 > n0 and ms1 > ms0
    df.collect()
    assert codegen_compiles(spark) == (n1, ms1)
