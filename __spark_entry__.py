"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The actual surface lives in ``habits_etl_spark.plans`` — every implemented
operator id from SURVEY.md §2 registers its (spark, sf_dir) callable and,
where SQL-expressible, its DuckDB oracle. Queries without an oracle
(approximate ops: agg_approx_distinct, ext_ann_lsh_bucketed) get the
driver's rows-only check; their correctness is asserted in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _use_session_conf(spark: SparkSession) -> None:
    """The driver builds its own session: give it the conf every query
    assumes (UTC tz and LTZ parquet timestamps, so the fact tables' naive
    timestamps read as the same instants DuckDB sees; plans/common.py
    rule 2)."""
    from habits_etl_spark.session import SESSION_CONF

    for k, v in SESSION_CONF.items():
        spark.conf.set(k, v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the daily rollup
    (reference continuous aggregate habit_daily, sql/001_schema.sql:31-40)."""
    _use_session_conf(spark)
    from habits_etl_spark.plans import QUERIES

    return QUERIES["agg_daily_rollup"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from habits_etl_spark.plans import QUERIES

    wrapped = {}
    for name, fn in QUERIES.items():
        def run(spark, sf_dir, _fn=fn):
            _use_session_conf(spark)
            return _fn(spark, sf_dir)

        wrapped[name] = run
    return wrapped


def oracle_sql() -> dict[str, str]:
    from habits_etl_spark.plans import ORACLES

    return dict(ORACLES)
