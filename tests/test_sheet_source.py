"""Wide-sheet Python Data Source: schema discovery, partitioned reads,
filter pushdown into the source, and composition with the normalize
layer (the reference's sheet → tidy-events path on a custom source)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from habits_etl_spark.sources.sheet_source import (
    WideSheetDataSource,
    WideSheetReader,
    _RangePartition,
)

HEADER = "Email Address,Report Date,Workout,Mood,Notes"
ROWS = [
    "a@x.com,1/5/2024,TRUE,4,good",
    "b@x.com,1/5/2024,FALSE,3,",
    "a@x.com,1/6/2024,yes,5,great",
    "b@x.com,1/6/2024,no,2,meh",
    "c@x.com,1/7/2024,TRUE,1,",
]


@pytest.fixture()
def sheet_path(tmp_path):
    p = tmp_path / "sheet.csv"
    p.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    return str(p)


def _load(spark, path, n_parts=2):
    spark.dataSource.register(WideSheetDataSource)
    return (
        spark.read.format("wide_sheet")
        .option("path", path)
        .option("numPartitions", str(n_parts))
        .load()
    )


def test_schema_discovery_and_full_read(spark, sheet_path):
    df = _load(spark, sheet_path)
    assert df.columns == ["Email Address", "Report Date", "Workout", "Mood", "Notes"]
    assert all(t == "string" for _, t in df.dtypes)
    rows = df.collect()
    assert len(rows) == 5
    # empty cells arrive as NULL (the get_all_records blank-cell analog)
    assert sum(1 for r in rows if r["Notes"] is None) == 2


def test_partitioned_read_covers_all_rows_once(spark, sheet_path):
    df = _load(spark, sheet_path, n_parts=3)
    assert df.rdd.getNumPartitions() == 3
    assert sorted(r["Email Address"] for r in df.collect()) == sorted(
        r.split(",")[0] for r in ROWS
    )


def test_filters_push_into_source(spark, sheet_path):
    df = _load(spark, sheet_path).filter(
        (F.col("Email Address") == "a@x.com") & F.col("Notes").isNotNull()
    )
    got = [(r["Report Date"], r["Mood"]) for r in df.collect()]
    assert sorted(got) == [("1/5/2024", "4"), ("1/6/2024", "5")]
    # the reader itself honors the pushed filters (unit level): only
    # matching rows leave Python
    rdr = WideSheetReader(
        _load(spark, sheet_path).schema, {"path": sheet_path, "numPartitions": "1"}
    )
    unsupported = list(
        rdr.pushFilters(
            [  # mirror of the query's filters, as the API delivers them
                __import__("pyspark.sql.datasource", fromlist=["EqualTo"]).EqualTo(
                    ("Email Address",), "a@x.com"
                ),
                __import__("pyspark.sql.datasource", fromlist=["IsNotNull"]).IsNotNull(
                    ("Notes",)
                ),
            ]
        )
    )
    assert unsupported == []
    out = list(rdr.read(_RangePartition(0, 5)))
    assert len(out) == 2 and all(r[0] == "a@x.com" and r[4] is not None for r in out)


def test_normalize_layer_composes_on_custom_source(spark, sheet_path):
    from habits_etl_spark.config import PipelineConfig
    from habits_etl_spark.operators.unpivot import normalize_wide_rows

    cfg = PipelineConfig.from_dict(
        {
            "email_column": "Email Address",
            "date_column": "Report Date",
            "timezone": "America/Chicago",
            "notes_columns": ["Notes"],
            "habits": {
                "Workout": {"id": "workout", "type": "bool"},
                "Mood": {"id": "mood", "type": "number"},
            },
        }
    )
    events = normalize_wide_rows(_load(spark, sheet_path), cfg)
    rows = events.collect()
    # 5 sheet rows x 2 habits, minus blank cells (none here for these cols)
    assert len(rows) == 10
    workout = {(r.user_email, r.ts.day): r.value for r in rows if r.habit == "workout"}
    assert workout[("a@x.com", 5)] == 1.0  # TRUE
    assert workout[("b@x.com", 6)] == 0.0  # no


def test_streaming_sheet_ingests_only_appended_rows(spark, sheet_path, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_batch():
        q = (
            _load_stream(spark, sheet_path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    first = spark.read.parquet(out).count()
    assert first == 5  # initial sheet contents

    with open(sheet_path, "a") as fh:
        fh.write("d@x.com,1/8/2024,TRUE,5,new\n")
    run_batch()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 6  # exactly ONE new row ingested, no re-reads
    assert sum(1 for r in rows if r["Email Address"] == "d@x.com") == 1


def _load_stream(spark, path):
    spark.dataSource.register(WideSheetDataSource)
    return spark.readStream.format("wide_sheet").option("path", path).load()


def test_range_and_in_filters_push_into_source(spark, sheet_path):
    """Round-4 pushdown widening: In and string-range comparisons applied
    inside the Python reader; null-ful In sets and non-string bounds are
    yielded back to Spark."""
    from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThan

    df = _load(spark, sheet_path).filter(
        F.col("Email Address").isin("a@x.com", "c@x.com") & (F.col("Mood") >= "2")
    )
    got = sorted(r["Mood"] for r in df.collect())
    assert got == ["4", "5"]  # c@x.com has mood "1" (string-compared)

    rdr = WideSheetReader(
        _load(spark, sheet_path).schema, {"path": sheet_path, "numPartitions": "1"}
    )
    unsupported = list(
        rdr.pushFilters(
            [
                In(("Email Address",), ("a@x.com", "c@x.com")),
                GreaterThanOrEqual(("Mood",), "2"),
                LessThan(("Mood",), "9"),
                In(("Notes",), ("good", None)),  # null-ful: NOT pushed
                GreaterThanOrEqual(("Mood",), 2),  # non-string: NOT pushed
            ]
        )
    )
    assert len(unsupported) == 2
    out = list(rdr.read(_RangePartition(0, 5)))
    assert sorted(r[3] for r in out) == ["4", "5"]


def test_streaming_sheet_shrink_does_not_regress_offset(spark, sheet_path, tmp_path):
    """ADVICE r3: a sheet REWRITE that drops rows must not move the
    streaming offset backwards (which wedges the query). The reader
    clamps to the committed offset, emits nothing for the shrunken state,
    and resumes cleanly once the sheet grows past it again."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_batch():
        q = (
            _load_stream(spark, sheet_path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    assert spark.read.parquet(out).count() == 5

    # truncate: keep header + first 2 rows (3 rows gone)
    lines = open(sheet_path).read().splitlines()
    with open(sheet_path, "w") as fh:
        fh.write("\n".join(lines[:3]) + "\n")
    run_batch()  # must neither crash nor re-emit anything
    assert spark.read.parquet(out).count() == 5

    # grow back past the committed offset: only rows BEYOND it are new
    with open(sheet_path, "a") as fh:
        for i in range(4):
            fh.write(f"n{i}@x.com,1/9/2024,TRUE,{i},back\n")
    run_batch()
    rows = spark.read.parquet(out).collect()
    # committed offset was 5; sheet now has 6 data rows -> exactly 1 new
    assert len(rows) == 6
    assert sum(1 for r in rows if r["Notes"] == "back") == 1
