"""End-to-end ingest tests: idempotency (reference README.md:106 'safe
re-runs') and upsert semantics (reference etl/etl_habits.py:31-38)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from habits_etl_spark.config import PipelineConfig
from habits_etl_spark.pipeline import read_events_table, run_ingest

CFG = PipelineConfig.from_dict(
    {
        "date_column": "Report Date",
        "email_column": "Email Address",
        "timezone": "America/Chicago",
        "habits": {
            "Workout": {"id": "workout", "type": "bool"},
            "Mood": {"id": "mood_score", "type": "number"},
        },
        "notes_columns": ["Notes"],
    }
)

SCHEMA = "`Report Date` string, `Email Address` string, Workout string, Mood string, Notes string"


def wide(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def snapshot(spark, wh):
    df = read_events_table(spark, wh)
    return sorted(
        (r.user_email, r.habit, str(r.ts), r.value, r.notes, r.source) for r in df.collect()
    )


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "warehouse")


def test_ingest_idempotent(spark, wh):
    batch = wide(
        spark,
        [
            ("08/20/2025", "A@x.com", "Yes", "8", "good day"),
            ("08/21/2025", "a@x.com", "no", "5", None),
        ],
    )
    conf = spark.conf.getAll
    run_ingest(spark, batch, CFG, wh)
    s1 = snapshot(spark, wh)
    assert len(s1) == 4  # 2 rows x 2 habits
    run_ingest(spark, batch, CFG, wh)  # re-run: must be a no-op
    assert snapshot(spark, wh) == s1
    # the ingest's write options stay on its writes, not on the session
    assert spark.conf.getAll == conf


def test_upsert_overwrites_value_keeps_notes(spark, wh):
    run_ingest(
        spark, wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "original note")]), CFG, wh
    )
    # resubmission: new value, no notes -> value updated, old notes survive
    run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "No", "3", None)]), CFG, wh)
    s = {(r[1]): r for r in snapshot(spark, wh)}
    assert s["workout"][3] == 0.0
    assert s["mood_score"][3] == 3.0
    assert s["workout"][4] == "Notes: original note"  # COALESCE(new, old)


def test_intra_batch_last_writer_wins(spark, wh):
    batch = wide(
        spark,
        [
            ("08/20/2025", "a@x.com", "Yes", "8", None),
            ("08/20/2025", "a@x.com", "No", "2", "later row"),
        ],
    )
    run_ingest(spark, batch, CFG, wh)
    s = {r[1]: r for r in snapshot(spark, wh)}
    assert s["workout"][3] == 0.0  # last row in file order won
    assert s["mood_score"][3] == 2.0


def test_partition_scoped_merge_preserves_other_days(spark, wh):
    run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", None)]), CFG, wh)
    run_ingest(spark, wide(spark, [("08/21/2025", "a@x.com", "No", "1", None)]), CFG, wh)
    s1 = snapshot(spark, wh)
    # third ingest touches only 08/21; 08/20 rows must be byte-identical
    run_ingest(spark, wide(spark, [("08/21/2025", "a@x.com", "Yes", "9", None)]), CFG, wh)
    s2 = snapshot(spark, wh)
    day1 = [r for r in s1 if "2025-08-20" in r[2]]
    assert [r for r in s2 if "2025-08-20" in r[2]] == day1
    assert {r[3] for r in s2 if "2025-08-21" in r[2]} == {1.0, 9.0}


def _cached_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cold_ingest_runs_five_jobs_and_caches_nothing(spark, wh, jobs_run_by):
    """The first ingest reads the deduped drop once (straight into the
    write), so it persists nothing: caching it there only added a job
    (6 instead of 5 for an in-memory drop; a CSV drop adds its header
    read)."""
    batch = wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "n1")])
    cached = _cached_rdds(spark)
    assert len(jobs_run_by(lambda: run_ingest(spark, batch, CFG, wh))) == 5
    assert _cached_rdds(spark) <= cached


def test_merge_ingest_leaves_nothing_cached(spark, wh):
    """The merge route persists the drop it reads twice, and drops it."""
    run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", None)]), CFG, wh)
    cached = _cached_rdds(spark)
    run_ingest(spark, wide(spark, [("08/20/2025", "a@x.com", "No", "3", None)]), CFG, wh)
    assert _cached_rdds(spark) <= cached


def test_landing_append_once(spark, wh):
    import os

    batch = wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "n1")])
    run_ingest(spark, batch, CFG, wh)
    run_ingest(spark, batch, CFG, wh)
    landing = spark.read.parquet(os.path.join(wh, "habits_raw"))
    assert landing.count() == 1  # duplicate payload landed once
    assert set(landing.columns) == {"row_hash", "ingested_at", "payload"}


def test_ingest_through_manifest_table(spark, wh):
    """table_format='manifest': the same reference upsert semantics, but
    every ingest is one atomic snapshot commit — a reader pinned before
    the second CronJob run keeps the first run's data."""
    from habits_etl_spark.sinks import manifest as M

    run_ingest(
        spark,
        wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", "original note")]),
        CFG,
        wh,
        table_format="manifest",
    )
    table = f"{wh}/habit_events"
    pinned = M.read_snapshot(spark, table)
    v1 = M.current_manifest(table)["version"]

    run_ingest(
        spark,
        wide(spark, [("08/20/2025", "a@x.com", "No", "3", None)]),
        CFG,
        wh,
        table_format="manifest",
    )
    # merge semantics identical to the parquet path
    df = read_events_table(spark, wh, table_format="manifest")
    s = {r.habit: r for r in df.collect()}
    assert s["workout"].value == 0.0
    assert s["mood_score"].value == 3.0
    assert s["workout"].notes == "Notes: original note"
    assert all(r.source == "sheets" for r in df.collect())
    # snapshot isolation across CronJob runs
    assert M.current_manifest(table)["version"] == v1 + 1
    assert {r.habit: r.value for r in pinned.collect()}["workout"] == 1.0


def test_upsert_keyed_null_key_contract(spark):
    """Pin the non-null-key contract of upsert_keyed (r14 rewrite to a
    FULL OUTER join, VERDICT r14 finding #3): NULL keys never satisfy a
    join's equality predicate, so a NULL-key row present on both sides
    surfaces as TWO rows — the documented behavior of the join form (the
    pre-r14 groupBy form merged them, since grouping treats NULLs as
    equal). Callers must enforce non-null keys upstream
    (flt_required_fields); this test makes a silent divergence at a
    future call site visible instead of latent."""
    from habits_etl_spark.sinks.upsert import upsert_keyed

    existing = spark.createDataFrame(
        [(None, "old", "old-note"), ("k1", "old", None)],
        "k string, v string, notes string",
    )
    incoming = spark.createDataFrame(
        [(None, "new", None), ("k1", "new", "n2")],
        "k string, v string, notes string",
    )
    out = upsert_keyed(existing, incoming, ["k"], ["v"], ["notes"])
    rows = [(r.k, r.v, r.notes) for r in out.collect()]
    # non-null key merges: set_col takes incoming, coalesce_col takes the
    # non-null incoming value
    assert rows.count(("k1", "new", "n2")) == 1
    # NULL keys do NOT merge: both sides' NULL-key rows survive separately
    null_rows = sorted((v, n) for k, v, n in rows if k is None)
    assert null_rows == [("new", None), ("old", "old-note")]
    assert len(rows) == 3


def test_upsert_keyed_duplicate_incoming_fans_out(spark):
    """Pin the second half of the contract: the join form FANS OUT when
    the incoming side has duplicate keys (the groupBy form collapsed
    them) — so callers that cannot guarantee uniqueness must run
    dedup_batch first, as the docstring requires."""
    from habits_etl_spark.sinks.upsert import upsert_keyed

    existing = spark.createDataFrame([("k1", "old", "keep")], "k string, v string, notes string")
    incoming = spark.createDataFrame(
        [("k1", "a", None), ("k1", "b", None)], "k string, v string, notes string"
    )
    out = upsert_keyed(existing, incoming, ["k"], ["v"], ["notes"])
    rows = sorted((r.k, r.v, r.notes) for r in out.collect())
    assert rows == [("k1", "a", "keep"), ("k1", "b", "keep")]


def _crash_in_merge(real_upsert):
    def boom(*args, **kwargs):
        raise RuntimeError("crash between landing and merge")

    return boom


def _crash_in_write(real_upsert):
    # the real merge, with one date's rows failing inside the write job
    def merge_then_fail(*args, **kwargs):
        merged = real_upsert(*args, **kwargs)
        doomed = F.col("ts").cast("date") == F.lit("2025-08-21").cast("date")
        fail = F.raise_error(F.lit("crash in the merge write"))
        return merged.withColumn("value", F.when(doomed, fail).otherwise(F.col("value")))

    return merge_then_fail


@pytest.mark.parametrize(
    "crash, message",
    [(_crash_in_merge, "between landing and merge"), (_crash_in_write, "crash in the merge write")],
    ids=["merge", "write"],
)
def test_crash_after_landing_then_rerun_matches_clean_run(
    spark, tmp_path, monkeypatch, crash, message
):
    """Crash-and-rerun (the CronJob restarts a failed run on the same
    drop): a run that dies after land_raw — while building the merge
    (``merge``) or inside the merge's write job (``write``) — leaves
    habit_events as it was, and re-run unpatched, leaves both tables
    equal to a clean two-drop run's. The write-job crash fails before the
    commit: dynamic partition overwrite writes under ``.spark-staging-*``
    and the aborted job removes that directory, so no partition changed."""
    import os

    import habits_etl_spark.pipeline as pipeline

    drop1 = wide(
        spark,
        [
            ("08/20/2025", "a@x.com", "Yes", "8", "first"),
            ("08/20/2025", "b@x.com", "No", "3", None),
        ],
    )
    drop2 = wide(
        spark,
        [
            ("08/20/2025", "a@x.com", "No", "2", None),  # upsert an existing key
            ("08/21/2025", "b@x.com", "Yes", "7", "second"),
        ],
    )

    def raw(wh):
        # ingested_at is the landing wall clock, so it differs run to run
        df = spark.read.parquet(os.path.join(wh, "habits_raw"))
        return sorted((r.row_hash, r.payload) for r in df.collect())

    clean = str(tmp_path / "clean")
    run_ingest(spark, drop1, CFG, clean)
    run_ingest(spark, drop2, CFG, clean)

    crashed = str(tmp_path / "crashed")
    run_ingest(spark, drop1, CFG, crashed)
    before = snapshot(spark, crashed)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "upsert_keyed", crash(pipeline.upsert_keyed))
        with pytest.raises(Exception, match=message):
            run_ingest(spark, drop2, CFG, crashed)
    # the crashed run landed drop2's payloads but changed no fact partition
    assert len(raw(crashed)) == len(raw(clean))
    assert snapshot(spark, crashed) == before != snapshot(spark, clean)
    events_dir = os.path.join(crashed, "habit_events")
    assert os.listdir(events_dir) == ["event_date=2025-08-20"]  # no staging dir left

    run_ingest(spark, drop2, CFG, crashed)
    assert snapshot(spark, crashed) == snapshot(spark, clean)
    assert raw(crashed) == raw(clean)


def test_flat_fact_table_is_refused_before_landing(spark, wh):
    """A habit_events dir in the flat pre-r8 layout (root-level parquet
    files, no event_date) is refused with the migration message before
    the drop lands, so habits_raw is never created."""
    import os

    flat = spark.createDataFrame(
        [("a@x.com", "workout", "2025-08-20 12:00:00", 1.0)],
        "user_email string, habit string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flat.write.parquet(os.path.join(wh, "habit_events"))
    batch = wide(spark, [("08/20/2025", "a@x.com", "Yes", "8", None)])
    with pytest.raises(ValueError, match="legacy UNPARTITIONED fact table"):
        run_ingest(spark, batch, CFG, wh)
    assert not os.path.exists(os.path.join(wh, "habits_raw"))
