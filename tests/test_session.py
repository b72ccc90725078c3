"""Session settings: the driver-heap default follows the host's memory,
and the generated-code cache holds a warm CronJob cycle."""

import csv
import datetime as dt
import os

from habits_etl_spark.metrics import codegen_compiles
from habits_etl_spark.session import default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_a_small_host():
    assert default_driver_memory(15 * GIB) == "7680m"


def test_driver_memory_is_capped_on_a_large_host():
    assert default_driver_memory(256 * GIB) == "24576m"


def _write_drop(path: str, cycle: int) -> None:
    """A sheet drop: three new report days of four users, plus a late
    edit of the previous drop's last day."""
    first = dt.date(2025, 8, 1) + dt.timedelta(days=3 * cycle)
    days = [first + dt.timedelta(days=d) for d in range(-1 if cycle else 0, 3)]
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Report Date", "Email Address", "Workout", "Mood", "Notes"])
        for i, day in enumerate(days):
            for u in range(4):
                w.writerow([day.strftime("%m/%d/%Y"), f"u{u}@x.com",
                            "Yes" if (i + u + cycle) % 2 else "No", str((u + cycle) % 9), f"c{cycle}"])


def test_codegen_cache_holds_a_warm_cron_cycle(spark, tmp_path):
    """Three CronJob cycles on fresh drops, shaped as perfbench's
    cron_ingest round: ``run_ingest`` upserts the drop, the normalized
    drop is upserted into the stream's fact table with ``merge_events``
    (as the stream's ``process_batch`` does) and the rollup refreshes
    its days. By the third cycle every plan is warm, so its compiles are
    the per-run literals only (``land_raw``'s ``current_timestamp()``).
    With Spark's default 100-entry cache (four LRU segments of 25) the
    cycle's working set does not fit and the same code is compiled again
    every cycle."""
    from habits_etl_spark.operators.unpivot import normalize_wide_rows
    from habits_etl_spark.pipeline import run_ingest
    from habits_etl_spark.sinks.landing import merge_events
    from habits_etl_spark.sources import read_wide_csv
    from habits_etl_spark.streaming.rollup import refresh_rollup_days
    from tests.test_pipeline import CFG

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    wh, stream_events, rollup = (str(tmp_path / n) for n in ("wh", "stream_events", "rollup"))
    compiles = []
    for cycle in range(3):
        drop = os.path.join(tmp_path, f"drop{cycle}.csv")
        _write_drop(drop, cycle)
        before, _ = codegen_compiles(spark)
        run_ingest(spark, drop, CFG, wh)
        batch = normalize_wide_rows(read_wide_csv(spark, drop), CFG)
        days = merge_events(spark, batch, stream_events)
        refresh_rollup_days(spark, stream_events, rollup, days, columns=batch.schema)
        compiles.append(codegen_compiles(spark)[0] - before)
    assert compiles[2] <= 3, compiles
