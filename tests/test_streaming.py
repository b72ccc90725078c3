"""Continuous-rollup semantics tests (reference sql/001_schema.sql:43-46):
late data must be folded into already-materialized buckets on the next
refresh (Timescale re-fold), and re-processing must be idempotent."""

from __future__ import annotations

import collections
import csv
import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from habits_etl_spark.streaming.rollup import batch_daily_rollup, start_continuous_rollup

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_email", T.StringType()),
        T.StructField("habit", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

KEYS = ["user_email", "habit", "ts"]  # the fact table's upsert key


def ev(day, hour, user, habit, value):
    return (dt.datetime(2024, 1, day, hour), user, habit, float(value))


@pytest.fixture()
def dirs(tmp_path):
    return {
        "source": str(tmp_path / "incoming"),
        "events": str(tmp_path / "events"),
        "rollup": str(tmp_path / "rollup"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def run_once(spark, dirs):
    q = start_continuous_rollup(
        spark,
        source_dir=dirs["source"],
        source_schema=SCHEMA,
        events_path=dirs["events"],
        rollup_path=dirs["rollup"],
        checkpoint_path=dirs["ckpt"],
        trigger={"availableNow": True},
        backfill_horizon_days=100_000,  # test events are dated 2024
    )
    q.awaitTermination(120)


def rollup_state(spark, dirs):
    df = spark.read.parquet(dirs["rollup"])
    return {
        (str(r.day), r.user_email, r.habit): (r.count_done, r.avg_value, r.sum_meditation)
        for r in df.collect()
    }


def test_rollup_matches_batch_and_folds_late_data(spark, dirs, tmp_path):
    import os

    os.makedirs(dirs["source"], exist_ok=True)
    batch1 = [
        ev(5, 9, "a@x.com", "workout", 1.0),
        ev(5, 10, "a@x.com", "meditation_minutes", 20.0),
        ev(6, 9, "b@x.com", "workout", 0.0),
    ]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    run_once(spark, dirs)
    state1 = rollup_state(spark, dirs)
    assert state1[("2024-01-05", "a@x.com", "workout")] == (1, 1.0, None)
    assert state1[("2024-01-05", "a@x.com", "meditation_minutes")] == (1, 20.0, 20.0)
    assert state1[("2024-01-06", "b@x.com", "workout")] == (0, 0.0, None)

    # Late event for an ALREADY-MATERIALIZED bucket (2024-01-05) arrives in
    # a later micro-batch — Timescale semantics: the bucket is re-folded.
    late = [ev(5, 23, "a@x.com", "meditation_minutes", 10.0), ev(7, 8, "b@x.com", "workout", 1.0)]
    spark.createDataFrame(late, SCHEMA).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    run_once(spark, dirs)
    state2 = rollup_state(spark, dirs)
    assert state2[("2024-01-05", "a@x.com", "meditation_minutes")] == (2, 15.0, 30.0)
    assert state2[("2024-01-07", "b@x.com", "workout")] == (1, 1.0, None)
    # untouched buckets unchanged
    assert state2[("2024-01-06", "b@x.com", "workout")] == (0, 0.0, None)

    # the maintained rollup must equal a from-scratch batch rollup
    events = spark.read.parquet(dirs["events"])
    batch = {
        (str(r.day), r.user_email, r.habit): (r.count_done, r.avg_value, r.sum_meditation)
        for r in batch_daily_rollup(events).collect()
    }
    assert state2 == batch


def test_processing_time_trigger_folds_late_data(spark, dirs):
    """One LIVE query under a processingTime trigger across 2+ micro-batches
    (the reference's schedule_interval mode, not the cron-style
    availableNow): a late row for an already-materialized bucket must be
    re-folded, and the maintained rollup must equal the batch recompute."""
    import os

    os.makedirs(dirs["source"], exist_ok=True)
    spark.createDataFrame(
        [
            ev(5, 9, "a@x.com", "workout", 1.0),
            ev(5, 10, "a@x.com", "meditation_minutes", 20.0),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(dirs["source"])

    q = start_continuous_rollup(
        spark,
        source_dir=dirs["source"],
        source_schema=SCHEMA,
        events_path=dirs["events"],
        rollup_path=dirs["rollup"],
        checkpoint_path=dirs["ckpt"],
        trigger={"processingTime": "1 seconds"},
        backfill_horizon_days=100_000,  # test events are dated 2024
    )
    try:
        q.processAllAvailable()  # micro-batch 1 fully applied
        state1 = rollup_state(spark, dirs)
        assert state1[("2024-01-05", "a@x.com", "meditation_minutes")] == (1, 20.0, 20.0)

        # late row lands while the query is still running; the closed
        # 2024-01-05 bucket must be recomputed in a later micro-batch
        spark.createDataFrame(
            [ev(5, 23, "a@x.com", "meditation_minutes", 10.0)], SCHEMA
        ).coalesce(1).write.mode("append").parquet(dirs["source"])
        q.processAllAvailable()
        state2 = rollup_state(spark, dirs)
        assert state2[("2024-01-05", "a@x.com", "meditation_minutes")] == (2, 15.0, 30.0)
        assert state2[("2024-01-05", "a@x.com", "workout")] == (1, 1.0, None)
    finally:
        q.stop()

    # maintained rollup == from-scratch batch recompute over the fact table
    events = spark.read.parquet(dirs["events"])
    batch = {
        (str(r.day), r.user_email, r.habit): (r.count_done, r.avg_value, r.sum_meditation)
        for r in batch_daily_rollup(events).collect()
    }
    assert rollup_state(spark, dirs) == batch


def test_restart_is_idempotent(spark, dirs):
    import os

    os.makedirs(dirs["source"], exist_ok=True)
    spark.createDataFrame(
        [ev(5, 9, "a@x.com", "workout", 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    run_once(spark, dirs)
    s1 = rollup_state(spark, dirs)
    # re-run with no new data: checkpoint skips processed files; state identical
    run_once(spark, dirs)
    assert rollup_state(spark, dirs) == s1


def test_stream_rollup_e2e_query_converges_to_batch(spark, sf_dir):
    """The registered oracle-gated e2e query: two cron runs over one
    checkpoint with interleaved (late) drops must converge to the exact
    batch rollup — same keys, same counts, same decimal-exact stats."""
    from habits_etl_spark.plans.habits import agg_daily_rollup
    from habits_etl_spark.plans.streaming_e2e import stream_rollup_e2e

    key = lambda r: (r.day, r.user_id, r.event_type)  # noqa: E731
    got = {key(r): (r.count_done, r.avg_value, r.sum_purchase)
           for r in stream_rollup_e2e(spark, sf_dir).collect()}
    want = {key(r): (r.count_done, r.avg_value, r.sum_purchase)
            for r in agg_daily_rollup(spark, sf_dir).collect()}
    assert got == want


def test_e2e_harness_restarts_on_one_checkpoint(spark, tmp_path):
    """Three drops through the stream_*_e2e run loop: every availableNow
    run restarts on the one shared checkpoint, so the commit log holds
    consecutive batch ids and the sink holds each input row exactly once
    (a run that re-read an earlier drop would duplicate it)."""
    import os
    import shutil

    from habits_etl_spark.plans.streaming_e2e import _run_drops

    schema = "id long, drop string"
    drops = [
        {"incoming": spark.createDataFrame([(10 * d + i, f"d{d}") for i in range(5)], schema)}
        for d in range(3)
    ]

    def start(base, ckpt):
        return (
            spark.readStream.schema(schema)
            .parquet(os.path.join(base, "incoming"))
            .writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    base = _run_drops(spark, str(tmp_path), "harness_test", drops, start)
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts
        commits = sorted(
            int(f) for f in os.listdir(os.path.join(base, "checkpoint", "commits")) if f.isdigit()
        )
        assert len(commits) >= 3 and commits == list(range(len(commits)))
        got = sorted(map(tuple, spark.read.parquet(os.path.join(base, "out")).collect()))
        want = sorted(tuple(r) for d in drops for r in d["incoming"].collect())
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_refresh_read_prunes_fact_partitions(spark, dirs):
    """The 100 TB property the design pays for: the fact table lands
    day-partitioned and the refresh READ filters on the partition column,
    so the scan shows PartitionFilters (directory pruning) instead of
    re-reading the whole history every 15-minute refresh."""
    import os

    from habits_etl_spark.sinks.landing import pruned_fact_scan

    os.makedirs(dirs["source"], exist_ok=True)
    spark.createDataFrame(
        [
            ev(5, 9, "a@x.com", "workout", 1.0),
            ev(6, 9, "b@x.com", "workout", 0.0),
            ev(7, 8, "b@x.com", "workout", 1.0),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    run_once(spark, dirs)

    # fact table layout: one directory per day
    parts = sorted(p for p in os.listdir(dirs["events"]) if p.startswith("event_date="))
    assert parts == ["event_date=2024-01-05", "event_date=2024-01-06", "event_date=2024-01-07"]

    scan = pruned_fact_scan(spark, dirs["events"], [dt.date(2024, 1, 5)])
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:2000]
    assert "event_date" in plan.split("PartitionFilters")[1][:200], plan[:2000]
    # and the pruned read touches exactly one day's rows
    assert scan.count() == 1


def test_refresh_does_not_mutate_session_overwrite_mode(spark, dirs):
    """Dynamic partition overwrite is a per-write option, not a session-wide
    conf flip — later partitioned overwrites in the same session must keep
    their own (default: static) semantics."""
    import os

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    os.makedirs(dirs["source"], exist_ok=True)
    spark.createDataFrame(
        [ev(5, 9, "a@x.com", "workout", 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    run_once(spark, dirs)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before


def test_legacy_unpartitioned_fact_table_is_refused(spark, dirs):
    """r8 changed the fact layout from root-level parquet files to
    event_date= partition directories; starting the stream against a
    path still holding the OLD layout must fail loudly (mixing layouts
    breaks partition discovery and silently defeats refresh pruning)
    instead of appending on top."""
    import os

    # a pre-r8 events_path: data files at the table ROOT, no partition dirs
    spark.createDataFrame(
        [ev(5, 9, "a@x.com", "workout", 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirs["events"])
    os.makedirs(dirs["source"], exist_ok=True)
    with pytest.raises(ValueError, match="UNPARTITIONED"):
        run_once(spark, dirs)

    # the partitioned layout (and a nonexistent path) start cleanly
    spark.createDataFrame(
        [ev(5, 9, "a@x.com", "workout", 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    fresh = dict(dirs, events=dirs["events"] + "_v2")
    run_once(spark, fresh)
    parts = [p for p in os.listdir(fresh["events"]) if p.startswith("event_date=")]
    assert parts  # day-partitioned from the first append


def _by_bucket(rollup):
    return {
        (str(r.day), r.user_email, r.habit): (r.count_done, r.avg_value, r.sum_meditation)
        for r in rollup.collect()
    }


def _write_drop(path, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Report Date", "Email Address", "Workout", "Mood", "Notes"])
        w.writerows(rows)


def test_resent_and_edited_rows_update_the_stream_facts(spark, dirs, tmp_path):
    """Two CronJob cycles as perfbench's cron_ingest runs them: ``run_ingest``
    upserts a CSV drop into habit_events, and the same drop, normalized,
    lands in the watched directory for one availableNow run of the
    stream. The second drop re-sends one row verbatim and edits another
    row's value and note. The stream upserts them as habit_events does
    (reference UNIQUE(user_email, habit, ts)), so each key holds one fact,
    the re-sent row counts once and the rollup folds habit_events."""
    from habits_etl_spark.operators.unpivot import normalize_wide_rows
    from habits_etl_spark.pipeline import read_events_table, run_ingest
    from habits_etl_spark.sources import read_wide_csv
    from tests.test_pipeline import CFG

    schema = T.StructType([*SCHEMA.fields, T.StructField("notes", T.StringType()),
                           T.StructField("source", T.StringType())])
    wh = str(tmp_path / "wh")
    drops = [
        [("08/20/2025", "a@x.com", "Yes", "8", "first"),
         ("08/20/2025", "b@x.com", "No", "3", ""),
         ("08/21/2025", "a@x.com", "Yes", "5", "x")],
        [("08/20/2025", "a@x.com", "Yes", "8", "first"),  # re-sent verbatim
         ("08/21/2025", "a@x.com", "No", "7", "edited"),  # value and note edited
         ("08/22/2025", "b@x.com", "Yes", "2", "")],
    ]
    for i, rows in enumerate(drops):
        drop = str(tmp_path / f"drop{i}.csv")
        _write_drop(drop, rows)
        run_ingest(spark, drop, CFG, wh)
        events = normalize_wide_rows(read_wide_csv(spark, drop), CFG)
        events.coalesce(1).write.mode("append").parquet(dirs["source"])
        q = start_continuous_rollup(
            spark, dirs["source"], schema, dirs["events"], dirs["rollup"], dirs["ckpt"],
            backfill_horizon_days=100_000, trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    facts = spark.read.parquet(dirs["events"])
    upserted = read_events_table(spark, wh)
    assert facts.count() == facts.select(*KEYS).distinct().count()
    cols = [*KEYS, "value", "notes", "source"]
    assert collections.Counter(facts.select(cols).collect()) == collections.Counter(
        upserted.select(cols).collect()
    )
    state = rollup_state(spark, dirs)
    assert state == _by_bucket(batch_daily_rollup(upserted))
    assert state[("2025-08-20", "a@x.com", "workout")][0] == 1  # the re-sent row


def test_batch_replayed_after_a_crash_leaves_one_fact_per_key(spark, dirs, monkeypatch):
    """foreachBatch is at-least-once: a trigger that dies after the merge
    has written, before the rollup refresh, replays its batch when the
    stream restarts on the same checkpoint. The replay upserts the same
    rows again, so the fact table keeps one row per key and the rollup
    matches it."""
    import os

    import habits_etl_spark.streaming.rollup as rollup_mod

    def drop(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
            dirs["source"]
        )

    def crash_once(*args, **kwargs):
        if not calls:
            calls.append(1)
            raise RuntimeError("crash before the rollup refresh")
        return real(*args, **kwargs)

    real, calls = rollup_mod.refresh_rollup_days, []
    os.makedirs(dirs["source"], exist_ok=True)
    drop([ev(5, 9, "a@x.com", "workout", 1.0), ev(6, 9, "b@x.com", "workout", 0.0)])
    run_once(spark, dirs)
    drop([ev(5, 23, "a@x.com", "meditation_minutes", 10.0), ev(7, 8, "b@x.com", "workout", 1.0)])
    with monkeypatch.context() as m:
        m.setattr(rollup_mod, "refresh_rollup_days", crash_once)
        with pytest.raises(Exception, match="crash before the rollup refresh"):
            run_once(spark, dirs)
    assert spark.read.parquet(dirs["events"]).count() == 4  # the merge had written
    run_once(spark, dirs)  # the restart replays the crashed batch

    facts = spark.read.parquet(dirs["events"])
    assert facts.count() == facts.select(*KEYS).distinct().count() == 4
    assert rollup_state(spark, dirs) == _by_bucket(batch_daily_rollup(facts))


def test_rows_without_a_ts_do_not_stop_the_stream(spark, dirs):
    """The watched directory is read with the caller's schema, whose ``ts``
    can be NULL. Such a row has no key and no day, so the merge drops it,
    on the first write and on a later one, and the next batch still
    refreshes its day."""
    import os

    def drop(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
            dirs["source"]
        )

    os.makedirs(dirs["source"], exist_ok=True)
    drop([(None, "a@x.com", "workout", 1.0), ev(5, 9, "a@x.com", "workout", 1.0)])
    run_once(spark, dirs)
    drop([(None, "b@x.com", "workout", 1.0), ev(6, 9, "b@x.com", "workout", 1.0)])
    run_once(spark, dirs)
    drop([ev(7, 9, "b@x.com", "workout", 0.0)])
    run_once(spark, dirs)

    facts = spark.read.parquet(dirs["events"])
    assert sorted(str(r.event_date) for r in facts.collect()) == [
        "2024-01-05", "2024-01-06", "2024-01-07"
    ]
    state = rollup_state(spark, dirs)
    assert state == _by_bucket(batch_daily_rollup(facts))
    assert state[("2024-01-07", "b@x.com", "workout")] == (0, 0.0, None)
