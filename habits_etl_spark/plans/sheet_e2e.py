"""End-to-end wide-sheet ingestion as a REGISTERED, oracle-backed query.

This is the reference's signature scan path (etl/etl_habits.py:44 —
``ws.get_all_records()`` → transform → rollup) run through the real Spark
data source: ``spark.read.format("wide_sheet")`` (sources/sheet_source.py)
over a deterministic CSV fixture, then the normalize cascade (required-
field filter → email normalize → multi-format date parse incl. Google
serials → unpivot → blank-cell skip → bool/number coercion) and the
daily-rollup aggregate (reference sql/001_schema.sql:31-40).

The DuckDB oracle reads THE SAME CSV via ``read_csv`` and mirrors every
stage in SQL, so the whole pipeline — source partitioning included — is
hash-gated by the driver, not just pytest-checked.

Fixture: 600 rows, pure arithmetic (no randomness), covering the edge
rows FIXTURES.md F1 lists — missing email/date (row dropped), blank habit
cells (event skipped), non-numeric habit values (event skipped), three
date encodings (M/d/yyyy, ISO, Google serial number).

Scale note: the fixture is small because the driver gate runs at sf0.01,
but the plan is the production shape — a partitioned source scan (8 range
partitions; a sheets API connector maps these to ranged values.get
calls), per-row maps in whole-stage codegen after the Python source
boundary, one hash-agg shuffle on (day, habit). At 100 TB the sheet scan
is replaced by the landing table written by sinks/landing.py and the agg
topology is unchanged (see agg_daily_rollup).
"""

from __future__ import annotations

import csv
import os
import tempfile
from datetime import date, timedelta

from pyspark.sql import functions as F

from habits_etl_spark.functions.coerce import (
    blank_cell_filter_expr,
    bool_coerce_expr,
    email_normalize_expr,
    number_coerce_expr,
)
from habits_etl_spark.functions.datetime_ops import parse_report_date_expr
from habits_etl_spark.plans.common import davg, query, sql_davg
from habits_etl_spark.sources.sheet_source import WideSheetDataSource

_FIXTURE_DIR = "/tmp/spark_graft_fixtures"
FIXTURE_PATH = os.path.join(_FIXTURE_DIR, "wide_sheet_e2e.csv")
_SERIAL_EPOCH = date(1899, 12, 30)
_N_ROWS = 600


def _fixture_rows():
    base = date(2024, 1, 1)
    for i in range(_N_ROWS):
        d = base + timedelta(days=i % 30)
        email = "" if i % 97 == 0 else f"User{i % 25}@Example.COM "
        if i % 89 == 0:
            rd = ""
        elif i % 3 == 0:
            rd = f"{d.month}/{d.day}/{d.year}"
        elif i % 3 == 1:
            rd = d.isoformat()
        else:
            rd = str((d - _SERIAL_EPOCH).days)
        workout = ("Yes", "no", "TRUE", "0", "")[i % 5]
        mood = ("7", "3.5", "", "n/a", "10")[i % 5]
        notes = "" if i % 4 == 0 else f"note {i}"
        yield email, rd, workout, mood, notes


def ensure_wide_sheet_fixture() -> str:
    """Write the fixture CSV if absent (atomic rename — a concurrent
    oracle/Spark run never sees a partial file). Deterministic content, so
    an existing file is always current."""
    if not os.path.exists(FIXTURE_PATH):
        os.makedirs(_FIXTURE_DIR, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=_FIXTURE_DIR, suffix=".csv.tmp")
        with os.fdopen(fd, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["Email Address", "Report Date", "Workout", "Mood", "Notes"])
            w.writerows(_fixture_rows())
        os.replace(tmp, FIXTURE_PATH)
    return FIXTURE_PATH


# Materialize at import: the DuckDB oracle reads this CSV path directly,
# and a harness is free to run oracle SQL before (or without) the Spark
# query — collecting oracle_sql() imports this module, so the file is
# guaranteed present first. Idempotent, atomic, ~30 KB.
ensure_wide_sheet_fixture()

_REGISTERED: set[str] = set()


def _register_source(spark) -> None:
    app = spark.sparkContext.applicationId
    if app not in _REGISTERED:
        spark.dataSource.register(WideSheetDataSource)
        _REGISTERED.add(app)


@query(
    "src_wide_sheet_rollup",
    f"""
    WITH src AS (
      SELECT * FROM read_csv('{FIXTURE_PATH}', header=true, all_varchar=true)
    ),
    kept AS (
      SELECT lower(trim("Email Address")) AS user_email,
             trim("Report Date") AS rd, "Workout" AS workout, "Mood" AS mood
      FROM src
      WHERE trim(coalesce("Email Address", '')) <> ''
        AND trim(coalesce("Report Date", '')) <> ''
    ),
    dated AS (
      SELECT user_email,
             strftime(CASE WHEN regexp_matches(rd, '^[0-9]+(\\.[0-9]+)?$')
                           THEN CAST(DATE '1899-12-30'
                                     + CAST(rd AS INTEGER) AS TIMESTAMP)
                           ELSE coalesce(try_strptime(rd, '%-m/%-d/%Y'),
                                         try_strptime(rd, '%Y-%m-%d'))
                      END, '%Y-%m-%d') AS day,
             workout, mood
      FROM kept
    ),
    ev AS (
      SELECT user_email, day, 'mood_score' AS habit,
             try_cast(trim(mood) AS DOUBLE) AS value
      FROM dated WHERE trim(coalesce(mood, '')) <> ''
      UNION ALL
      SELECT user_email, day, 'workout',
             CASE WHEN lower(trim(workout))
                       IN ('yes', 'true', '1', 'y', 't', 'on')
                  THEN 1.0 ELSE 0.0 END
      FROM dated WHERE trim(coalesce(workout, '')) <> ''
    )
    SELECT day, habit,
           count(*) AS n_events,
           count(*) FILTER (WHERE value >= 1) AS count_done,
           CAST(count(DISTINCT user_email) AS BIGINT) AS n_users,
           {sql_davg('value')} AS avg_value
    FROM ev WHERE value IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def src_wide_sheet_rollup(spark, sf_dir):
    """wide_sheet source → normalize → daily rollup, end-to-end.

    ``sf_dir`` is unused: the input is the deterministic sheet fixture
    (the reference's form-responses tab), not a star-schema table."""
    path = ensure_wide_sheet_fixture()
    _register_source(spark)
    sheet = (
        spark.read.format("wide_sheet")
        .option("path", path)
        .option("numPartitions", "8")
        .load()
    )
    # required fields: reference etl/transform.py:77-78 drops the row
    kept = sheet.filter(
        blank_cell_filter_expr(F.col("Email Address"))
        & blank_cell_filter_expr(F.col("Report Date"))
    )
    ts = parse_report_date_expr(F.col("Report Date"), "UTC")
    base = kept.select(
        email_normalize_expr(F.col("Email Address")).alias("user_email"),
        F.date_format(ts, "yyyy-MM-dd").alias("day"),
        "Workout",
        "Mood",
    )
    stacked = base.select(
        "user_email",
        "day",
        F.expr(
            "stack(2, 'workout', Workout, 'mood_score', Mood) AS (habit, raw)"
        ),
    ).filter(blank_cell_filter_expr(F.col("raw")))  # blank cell => no event
    value = F.when(
        F.col("habit") == "workout", bool_coerce_expr(F.col("raw"))
    ).otherwise(number_coerce_expr(F.col("raw")))
    events = stacked.select(
        "user_email", "day", "habit", value.alias("value")
    ).filter(F.col("value").isNotNull())  # non-numeric number cell => skipped
    return (
        events.groupBy("day", "habit")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("value") >= 1, 1)).alias("count_done"),
            F.count_distinct("user_email").cast("bigint").alias("n_users"),
            davg("value").alias("avg_value"),
        )
        .orderBy("day", "habit")
    )
