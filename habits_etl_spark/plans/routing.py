"""Rollup query routing — the engine's version of "dashboards read
habit_daily instead of habit_events" (reference README.md:13,208 +
sql/001_schema.sql:31-40; SURVEY §4 'aggregate pushdown to pre-computed
rollup').

v1 policy is explicit routing (SURVEY §7.2): ``daily_series`` answers a
day-grain aggregate question from the maintained rollup when the requested
measures are derivable from it, and falls back to the raw fact table
otherwise. A custom Catalyst rule could do this transparently; an explicit
router keeps the decision observable and testable, which is what a serving
layer wants anyway.

Scale: the rollup is smaller than raw events by the events-per-(user,
habit, day) factor; at 100 TB raw that's typically 100-1000x less I/O for
dashboard queries — the entire reason the reference maintains it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# measures answerable from the rollup (reference sql/001_schema.sql:36-38)
ROLLUP_MEASURES = {"count_done", "avg_value", "sum_meditation"}


@dataclass(frozen=True)
class DailyQuery:
    measures: tuple[str, ...]
    users: tuple[str, ...] = ()  # empty = all
    habits: tuple[str, ...] = ()
    day_start: str | None = None  # ISO date, half-open range
    day_end: str | None = None


def can_route_to_rollup(q: DailyQuery) -> bool:
    return set(q.measures) <= ROLLUP_MEASURES


def daily_series(
    spark: SparkSession,
    q: DailyQuery,
    rollup_path: str | None = None,
    events: DataFrame | None = None,
) -> DataFrame:
    """Answer a per-(day, user, habit) series, routed to the rollup when
    possible. Returns columns (day, user_email, habit, *measures)."""
    if rollup_path is not None and can_route_to_rollup(q):
        df = spark.read.parquet(rollup_path)
    else:
        if events is None:
            raise ValueError("raw-path routing needs the events DataFrame")
        # call-time import: streaming.rollup imports plans.common (a cycle)
        from habits_etl_spark.streaming.rollup import batch_daily_rollup

        df = batch_daily_rollup(events)

    if q.users:
        df = df.filter(F.col("user_email").isin(*q.users))
    if q.habits:
        df = df.filter(F.col("habit").isin(*q.habits))
    if q.day_start:
        df = df.filter(F.col("day") >= F.lit(q.day_start).cast("date"))
    if q.day_end:
        df = df.filter(F.col("day") < F.lit(q.day_end).cast("date"))
    return df.select("day", "user_email", "habit", *q.measures)
