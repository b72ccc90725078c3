"""Scan-reduction evidence on the partitioned landing layout: static
partition pruning, dynamic partition pruning (DPP) through a join, and
schema evolution on the append-only landing table."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.session import conf_scope
from habits_etl_spark.sinks.landing import write_events


def _events_fixture(spark, n_days=10, rows_per_day=200):
    return (
        spark.range(n_days * rows_per_day)
        .select(
            (F.to_timestamp(F.lit("2024-03-01 12:00:00"))
             + F.make_interval(days=(F.col("id") % n_days).cast("int"))).alias("ts"),
            F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("user_email"),
            F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("habit"),
            (F.col("id") % 100).cast("double").alias("value"),
        )
    )


def test_static_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "events")
    write_events(_events_fixture(spark), path)
    q = spark.read.parquet(path).filter(F.col("event_date") == "2024-03-04")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1][:200], plan[:2000]
    assert q.count() == 200  # exactly one day's rows read


def test_dynamic_partition_pruning_through_join(spark, tmp_path):
    """The dashboard shape at 100 TB: fact partitioned by day, joined to a
    small filtered dim on the partition column. Spark's DPP turns the
    dim's filter into a runtime partition filter on the fact scan
    (dynamicpruning expression) so only matching partitions are read."""
    path = str(tmp_path / "events")
    write_events(_events_fixture(spark), path)
    dim = spark.createDataFrame(
        [("2024-03-04", "target"), ("2024-03-05", "target"), ("2024-03-06", "other")],
        "event_date string, tag string",
    ).select(F.col("event_date").cast("date").alias("event_date"), "tag")
    with conf_scope(
        spark, {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "true"}
    ):
        j = (
            spark.read.parquet(path)
            .join(dim.filter(F.col("tag") == "target"), "event_date")
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2500]
        rows = {str(r.event_date): r.n for r in j.collect()}
        assert rows == {"2024-03-04": 200, "2024-03-05": 200}


def test_landing_schema_evolution(spark, tmp_path):
    """Append-only landing tables outlive their writers: a later batch may
    carry new columns. mergeSchema reads the union; old rows surface the
    new column as NULL."""
    path = str(tmp_path / "land")
    spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(
        path + "/b1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, x string, score double"
    ).write.parquet(path + "/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/b1", path + "/b2"
    )
    assert set(merged.columns) == {"id", "x", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_pruned_fact_scan_lists_only_the_asked_dates(spark, tmp_path, jobs_run_by):
    """Past ``parallelPartitionDiscovery.threshold`` (32) dates, listing
    the whole table launches a listing job on every read. The pruned scan
    hands the reader only the asked dates' directories, and its declared
    schema needs no footer job: building it runs no Spark job at all."""
    import datetime as dt

    from habits_etl_spark.catalog import EVENTS_SCHEMA
    from habits_etl_spark.sinks.landing import pruned_fact_scan

    path = str(tmp_path / "events")
    events = _events_fixture(spark, n_days=40, rows_per_day=2)
    write_events(events.select("*", F.lit(None).cast("string").alias("notes"),
                               F.lit("sheet").alias("source")), path)
    days = [dt.date(2024, 3, 4), dt.date(2024, 3, 30)]
    scans = []
    assert jobs_run_by(lambda: scans.append(pruned_fact_scan(spark, path, days))) == []
    scan = scans[0]
    dirs = {f.split("/")[-2] for f in scan.inputFiles()}
    assert dirs == {"event_date=2024-03-04", "event_date=2024-03-30"}
    assert [f.name for f in scan.schema.fields] == [f.name for f in EVENTS_SCHEMA.fields]
    assert scan.count() == 4


def test_pruned_fact_scan_of_absent_dates_is_empty(spark, tmp_path):
    import datetime as dt

    from habits_etl_spark.sinks.landing import pruned_fact_scan

    path = str(tmp_path / "events")
    write_events(_events_fixture(spark, n_days=2, rows_per_day=2), path)
    scan = pruned_fact_scan(spark, path, [dt.date(2030, 1, 1)])
    assert scan.count() == 0
    assert "event_date" in scan.columns
