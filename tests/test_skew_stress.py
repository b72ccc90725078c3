"""Skew machinery earns its keep: with a 50%-hot key and broadcast
disabled, the naive shuffled join concentrates the hot key's rows in one
partition (max-task straggler); salted_join spreads them by construction."""

from __future__ import annotations

from habits_etl_spark.plans.skew_stress import skew_stress_report

SF_DIR = "/root/testdata/sf0.01"


def test_salting_collapses_max_partition_share(spark):
    conf = spark.conf.getAll
    report = skew_stress_report(spark, SF_DIR, n_salts=16)
    # its AQE and broadcast overrides end with the report
    assert spark.conf.getAll == conf

    # naive: the whale user's ~50% of rows sit in a single partition
    assert report["plain_noaqe"]["max_share"] > 0.4, report
    # salted: hot rows spread over 16 (key, salt) reducers
    assert report["salted"]["max_share"] < 0.25, report
    # and salting must beat the naive plan's imbalance by a wide margin
    assert (
        report["salted"]["max_share"] < report["plain_noaqe"]["max_share"] / 2
    ), report


def test_salted_join_matches_plain_result(spark):
    from pyspark.sql import functions as F

    from habits_etl_spark.operators.skew import salted_join
    from habits_etl_spark.plans.skew_stress import skewed_inputs

    facts, dim = skewed_inputs(spark, SF_DIR)
    plain = (
        facts.join(dim, "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(facts, dim, "user_id", n_salts=8, salt_source="event_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_skew_agg_sketch_matches_holistic_on_hot_key(spark, sf_dir):
    from habits_etl_spark.plans.skew_stress import skew_agg_report

    rep = skew_agg_report(spark, sf_dir)
    assert set(rep) >= {"holistic_percentile", "sketch_percentile_approx"}
    # the sketch's whale-key median is within 5% of the exact one
    # (percentile_approx accuracy=1000 on a smooth value distribution)
    assert rep["hot_key_p50_rel_err"] < 0.05
