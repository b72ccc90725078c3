"""Execution-environment robustness: the driver harness builds its own
session, so queries must survive ANSI mode; join strategy must respond to
the broadcast threshold; and the LM scorer must produce sane buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.plans.common import QUERIES
from habits_etl_spark.plans.ext_curation2 import ext_unigram_lm_score
from habits_etl_spark.session import conf_scope

# A cast-heavy / parse-heavy sample: the queries most likely to differ
# between ANSI and legacy modes (overflow, bad casts, lookups).
_ANSI_SAMPLE = (
    "op_number_coerce",
    "op_parse_date_multi",
    "agg_daily_rollup",
    "fn_json_extract",
    "ext_event_funnel",
    "win_retention_cohort",
)


def test_queries_survive_ansi_mode(spark, sf_dir):
    with conf_scope(spark, {"spark.sql.ansi.enabled": "true"}):
        for name in _ANSI_SAMPLE:
            assert QUERIES[name](spark, sf_dir).count() >= 0, name


def test_broadcast_threshold_flips_join_strategy(spark, sf_dir):
    def strategy(threshold):
        with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": threshold}):
            # build inside the conf scope: queryExecution is memoized per
            # DataFrame, so a shared plan would ignore the second setting
            cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
            orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
            j = orders.join(cust, orders.o_custkey == cust.c_custkey)
            return j._jdf.queryExecution().sparkPlan().toString()

    assert "BroadcastHashJoin" in strategy("100MB")
    no_bcast = strategy("-1")
    assert "BroadcastHashJoin" not in no_bcast
    assert "SortMergeJoin" in no_bcast or "ShuffledHashJoin" in no_bcast


def test_unigram_lm_buckets(spark, sf_dir):
    rows = ext_unigram_lm_score(spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        assert r.nll > 0  # -ln(p) of any non-certain token is positive
        assert r.ppl_bucket in ("head", "middle", "tail")
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        if len(rs) >= 3:
            assert {r.ppl_bucket for r in rs} == {"head", "middle", "tail"}, lang
            # terciles order by nll: every head nll <= every tail nll
            head_max = max(r.nll for r in rs if r.ppl_bucket == "head")
            tail_min = min(r.nll for r in rs if r.ppl_bucket == "tail")
            assert head_max <= tail_min, (lang, head_max, tail_min)


def test_results_invariant_to_shuffle_parallelism(spark, sf_dir):
    """The cross-engine determinism rules (decimal-exact sums, rule 1 in
    plans/common.py) also promise run-to-run stability WITHIN Spark: the
    same query at different shuffle parallelism must produce identical
    values, or partial-aggregation order would leak into results at
    cluster scale. Exercised on value-heavy aggregate/window queries."""
    sample = (
        "agg_daily_rollup",
        "agg_q1_pricing",
        "win_analytic",
        "ext_dataset_card",
        "win_cumulative_uniques",
    )

    def snapshot(n_part):
        out = {}
        with conf_scope(spark, {"spark.sql.shuffle.partitions": str(n_part)}):
            for name in sample:
                rows = QUERIES[name](spark, sf_dir).collect()
                out[name] = sorted(tuple(r) for r in rows)
        return out

    a, b = snapshot(1), snapshot(17)
    for name in sample:
        assert a[name] == b[name], f"{name} differs across parallelism"
