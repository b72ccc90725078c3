"""Bucketed co-located join: correct results AND no shuffle in the plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.session import conf_scope
from habits_etl_spark.sinks.bucketing import bucketed_join, write_bucketed
from habits_etl_spark.sources import load_table


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    # warehouse dir is static conf (/tmp/spark-warehouse, session.py); the
    # in-memory catalog forgets tables across sessions but their managed
    # locations persist — clear both before re-creating.
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(lineitem, "lineitem_b", "o_orderkey", n_buckets=8)

    # broadcast would dodge the point at this size — force the merge path
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = bucketed_join(spark, "lineitem_b", "orders_b", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"

        expected = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == expected
