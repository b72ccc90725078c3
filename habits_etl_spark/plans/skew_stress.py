"""Skew-stress harness: a deliberately hot-keyed join, measured three ways.

50% of event rows are remapped onto one whale user, then joined to a
per-user dim whose broadcast is disabled (at 100 TB the dim side of this
join would not fit a broadcast, so the shuffle path is the one under
test). Variants:

- ``plain_noaqe``: the naive shuffled join — the hot key lands in one
  reducer which does half the work while the rest idle (the classic
  straggler).
- ``plain_aqe``: same plan under AQE. Note AQE's OptimizeSkewedJoin only
  splits partitions beyond ``skewedPartitionThresholdInBytes`` (256 MB
  default), so at bench scale it measures AQE's coalescing, not skew
  splitting — which is exactly the point: a threshold-dependent rescue
  is not a substitute for a deterministic one.
- ``salted``: operators/skew.py ``salted_join`` — the hot key spreads
  over ``n_salts`` reducers by construction, at any scale and threshold.

Per variant we report wall seconds and ``max_share``: the largest
fraction of join-output rows observed in a single partition
(``spark_partition_id`` histogram) — the deterministic, noise-free proxy
for max-task time (tasks are ~linear in rows here).

``bench.py`` runs this as a non-headline section; tests/test_skew_stress.py
asserts the share collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.metrics import time_noop
from habits_etl_spark.operators.skew import salted_join
from habits_etl_spark.session import conf_scope
from habits_etl_spark.sources import load_table

HOT_USER = 0


def skewed_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(facts with 50% of rows on HOT_USER, per-user dim).

    The dim is derived from the events' own user domain (NOT a hardcoded
    range: user_id cardinality scales with sf, and a dim that covers only
    part of the domain silently drops fact rows in the inner join,
    distorting the measured skew)."""
    e = load_table(spark, sf_dir, "events")
    hot = (
        F.when(F.col("event_id") % 2 == 0, F.lit(HOT_USER))
        .otherwise(F.col("user_id"))
        .cast("long")
    )
    facts = e.select(hot.alias("user_id"), "event_id", "value")
    # dim domain = the REMAPPED facts' domain (original users + HOT_USER):
    # deriving from the original user_id alone would drop every hot row if
    # the generator ever stopped emitting user 0
    dim = (
        facts.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.concat(
                F.lit("segment_"), F.pmod(F.col("user_id"), F.lit(7)).cast("string")
            ).alias("segment"),
        )
    )
    return facts, dim


def _max_partition_share(df: DataFrame) -> float:
    """Largest single-partition fraction of ``df``'s rows, measured with
    AQE partition COALESCING off: at bench scale AQE happily merges the
    whole (tiny) shuffle into one partition, which would report
    max_share=1.0 for every variant and hide the skew spread — the thing
    under test is reducer balance at a fixed partition count, the
    regime a 100 TB shuffle is always in."""
    with conf_scope(
        df.sparkSession, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ):
        counts = [
            r["cnt"]
            for r in df.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ]
    return max(counts) / sum(counts)


def skew_stress_report(
    spark: SparkSession, sf_dir: str, n_salts: int = 16
) -> dict[str, dict[str, float]]:
    """Run the three variants; return {variant: {sec, max_share}}."""
    out: dict[str, dict[str, float]] = {}
    for label, aqe, salted in (
        ("plain_noaqe", "false", False),
        ("plain_aqe", "true", False),
        ("salted", "true", True),
    ):
        # the 100 TB dim would not broadcast; test the shuffle path
        with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1",
                                "spark.sql.adaptive.enabled": aqe}):
            facts, dim = skewed_inputs(spark, sf_dir)
            joined = (
                salted_join(
                    facts, dim, "user_id", n_salts=n_salts, salt_source="event_id"
                )
                if salted
                else facts.join(dim, "user_id")
            )
            agg = joined.groupBy("user_id", "segment").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
            )
            _, sec = time_noop(spark, lambda: agg, f"skew_stress:{label}")
            out[label] = {
                "sec": round(sec, 3),
                "max_share": round(_max_partition_share(joined), 4),
            }
    return out


def skew_agg_report(spark: SparkSession, sf_dir: str) -> dict[str, dict[str, float]]:
    """Aggregation-skew section: holistic vs sketch aggregate on the same
    hot-keyed facts.

    Spark's built-in rewrite already makes count_distinct skew-proof (the
    Expand puts (key, value) on the shuffle key), so the aggregation that
    genuinely straggles under a hot key is a HOLISTIC one — exact
    ``percentile`` buffers every value of the key in one reducer, so the
    whale user's half of the table lands on a single task (rows shuffled
    ~ table size). The scale answer is not salting (medians of salted
    sub-groups do not compose) but a MERGEABLE SKETCH: percentile_approx
    partials fold map-side and the shuffle carries one sketch per
    (partition, key) — constant bytes per key regardless of skew, the
    same replace-holistic-with-mergeable move as the HLL/space-saving
    paths. Reported per variant: wall seconds and the exact/approx p50
    agreement on the whale key (the accuracy price of the balanced plan).
    """
    facts, _ = skewed_inputs(spark, sf_dir)
    out: dict[str, dict[str, float]] = {}
    p50 = {}
    for label, expr in (
        ("holistic_percentile", "percentile(value, 0.5)"),
        ("sketch_percentile_approx", "percentile_approx(value, 0.5, 1000)"),
    ):
        agg = facts.groupBy("user_id").agg(F.expr(expr).cast("double").alias("p50"))
        _, sec = time_noop(spark, lambda: agg, f"skew_agg:{label}")
        hot = agg.filter(F.col("user_id") == HOT_USER).collect()
        p50[label] = hot[0]["p50"] if hot else None
        out[label] = {"sec": round(sec, 3)}
    if p50.get("holistic_percentile") and p50.get("sketch_percentile_approx"):
        exact, approx = p50["holistic_percentile"], p50["sketch_percentile_approx"]
        out["hot_key_p50_rel_err"] = round(abs(approx - exact) / max(abs(exact), 1e-12), 6)
    return out
