"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has finished.

``dashboard``   one viewer refreshes the reference's Grafana panels.
``cron_ingest`` the reference's 15-minute CronJob: upsert a sheet drop,
                refresh the continuous aggregate, read it as a panel does.

A workload builds its inputs from the seed, runs rounds (one refresh, or
one cron cycle), and checks its outputs once, outside the timed section.
"""

from __future__ import annotations

import os
import time

import gen
import spans as tr


def _checked(name: str, fn) -> tuple[str, bool, str]:
    try:
        detail = fn()
        return name, detail is None, detail or ""
    except Exception as exc:  # a crash in a check is a failed check
        return name, False, f"{type(exc).__name__}: {exc}"


class Workload:
    name = ""
    ops_per_round = 1
    warm_rounds = 1  # unmeasured rounds before the measured ones
    gate_first = False  # check before the rounds, when they cannot change the outputs
    csv_bytes = 0  # CSV bytes dropped, for workloads that write

    ROUND_S: float  # wall seconds of one warm round on 4 cores

    def measured_rounds(self, seconds: float) -> int:
        """The number of measured rounds: fixed by ``seconds`` alone, never
        by how fast the rounds run, so that every commit measures the same
        rounds at the same point of the JVM's warm-up (and, on cron_ingest,
        over the same warehouse). At least two, as the traced run needs a
        traced and an untraced round."""
        return max(2, round(seconds / self.ROUND_S))

    def __init__(self, spark, work: str, seed: int, smoke: bool, tracer: tr.Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.groups: list[str] = []  # job groups of traced ops, in order
        self.counts: dict[str, float] = {}  # per-layer counters of traced rounds

    def label(self, op: str, rep: int, suffix: str = "") -> None:
        """Job group ``<workload>:<op>:<rep>`` so per-op job, stage and task
        counts can be read back from the status tracker."""
        group = f"{self.name}:{op}:{rep}{suffix}"
        self.sc.setJobGroup(group, group)
        self.tracer.op = f"{op}:{rep}"
        if self.tracer.on:
            self.groups.append(group)

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def force(self, df) -> None:
        """Execute ``df`` with a noop write. Traced rounds first force the
        physical plan, to time planning on its own."""
        t = self.tracer
        if t.on:
            with t.span("executedPlan", "spark"):
                df._jdf.queryExecution().executedPlan()
        df.write.format("noop").mode("overwrite").save()

    def stored_bytes(self) -> int:
        return 0

    def conf_changes(self, before: dict) -> int:
        after = self.spark.conf.getAll
        return sum(1 for k in set(before) | set(after) if before.get(k) != after.get(k))


class Dashboard(Workload):
    """Nine panels over ``events`` (100k rows), forced one at a time."""

    name = "dashboard"
    ops_per_round = 9
    # after the gate, which is the cold round: the cost of a refresh still
    # falls over the first ones, and runs differ less once it has
    warm_rounds = 2
    ROUND_S = 4.5
    gate_first = True
    PANELS = ("agg_daily_rollup", "agg_sum_timeseries", "agg_conditional_pct",
              "join_cross_scalar_cte", "agg_distinct_dim", "pred_time_range",
              "sort_limit_topk", "win_streaks", "fn_time_bucket_gapfill")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from habits_etl_spark.plans import QUERIES

        self.queries = QUERIES
        self.rows = 1_000 if self.smoke else 100_000
        self.data = ""

    def build_inputs(self) -> None:
        self.data = os.path.join(self.work, "inputs")
        os.makedirs(self.data)
        gen.write_events(self.data, self.rows, self.seed, self.sc.defaultParallelism)

    def round(self, rep: int) -> dict:
        lat, cpu = [], []
        t = self.tracer
        for pid in self.PANELS:
            conf = self.spark.conf.getAll if t.on else None
            c0, t0 = tr.cpu_s(self.sc), time.perf_counter()
            with t.span(pid, "bench"):
                self.label(pid, rep, ":build")
                with t.span(pid, "plans"):
                    df = self.queries[pid](self.spark, self.data)
                self.label(pid, rep)
                self.force(df)
            lat.append(time.perf_counter() - t0)
            cpu.append(tr.cpu_s(self.sc) - c0)
            if t.on:
                self.count("session.conf_keys_changed", self.conf_changes(conf))
        return {"latencies": lat, "cpu": cpu}

    def gate(self) -> list[tuple[str, bool, str]]:
        """Each panel against its DuckDB oracle over the same files."""
        import duckdb

        from habits_etl_spark.plans import ORACLES
        from check_correctness import frame_fingerprint

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{self.data}/events.parquet/*.parquet')")

        def check(pid):
            got = frame_fingerprint(self.queries[pid](self.spark, self.data).toPandas())
            want = frame_fingerprint(con.sql(ORACLES[pid]).df())
            if got[0] != want[0] or got[2] != want[2]:
                return f"spark {got[0]} rows vs oracle {want[0]} rows, hashes differ"
            return None

        return [_checked(f"oracle:{pid}", lambda pid=pid: check(pid)) for pid in self.PANELS]


class CronIngest(Workload):
    """One cycle: a CSV drop is written, ``pipeline.run_ingest`` upserts it,
    the normalized drop lands in a watched directory, the continuous
    rollup runs once (trigger availableNow), and a panel reads it.

    The warehouse grows every cycle, so no two cycles do the same work."""

    name = "cron_ingest"
    USERS, DAYS = 100, 7  # a drop: USERS users x DAYS new report days
    ROUND_S = 7.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from pyspark.sql import types as T

        from habits_etl_spark.config import PipelineConfig

        self.cfg = PipelineConfig.from_dict(gen.PIPELINE_CONFIG)
        self.schema = T.StructType([
            T.StructField("ts", T.TimestampType()), T.StructField("user_email", T.StringType()),
            T.StructField("habit", T.StringType()), T.StructField("value", T.DoubleType()),
            T.StructField("notes", T.StringType()), T.StructField("source", T.StringType()),
        ])
        self.root = ""

    def build_inputs(self) -> None:
        self.root = os.path.join(self.work, "inputs")
        for d in ("drops", "watch"):
            os.makedirs(os.path.join(self.root, d))
        self.feed = gen.HabitFeed(self.seed, *((20, 2) if self.smoke else (self.USERS, self.DAYS)))

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def round(self, rep: int) -> dict:
        from pyspark.sql import functions as F

        from habits_etl_spark.operators.unpivot import normalize_wide_rows
        from habits_etl_spark.pipeline import run_ingest
        from habits_etl_spark.sources import read_wide_csv
        from habits_etl_spark.streaming.rollup import start_continuous_rollup

        t = self.tracer
        before = _tree(self.root) if t.on else None
        rows = self.feed.next_drop()
        drop = self.path(f"drops/drop{rep:05d}.csv")
        n_events = gen.count_events(rows)
        c0, t0 = tr.cpu_s(self.sc), time.perf_counter()
        with t.span(f"cycle{rep}", "bench"):
            self.label("write_drop", rep)
            with t.span("write_drop", "bench"):
                self.csv_bytes += self.feed.write_drop(drop, rows)
            self.label("run_ingest", rep)
            with t.span("run_ingest", "pipeline"):
                run_ingest(self.spark, drop, self.cfg, self.path("warehouse"))
            self.label("publish", rep)
            with t.span("publish", "bench"):
                with t.span("read_wide_csv", "sources"):
                    wide = read_wide_csv(self.spark, drop)
                with t.span("normalize_wide_rows", "operators"):
                    events = normalize_wide_rows(wide, self.cfg)
                with t.span("write_watch", "spark"):
                    events.coalesce(1).write.mode("append").parquet(self.path("watch"))
            self.label("refresh", rep)
            with t.span("start_continuous_rollup", "streaming"):
                q = start_continuous_rollup(
                    self.spark, self.path("watch"), self.schema, self.path("stream_events"),
                    self.path("rollup"), self.path("checkpoint"),
                    backfill_horizon_days=36_500, trigger={"availableNow": True})
                q.awaitTermination()
            fresh, fresh_cpu = time.perf_counter() - t0, tr.cpu_s(self.sc) - c0
            self.label("read", rep)
            with t.span("panel", "bench"):
                with t.span("read.parquet", "spark"):
                    panel = (self.spark.read.parquet(self.path("rollup"))
                             .filter(F.col("day") >= F.date_sub(F.lit(self.feed.last_day), 7))
                             .groupBy("day", "habit")
                             .agg(F.avg("avg_value").alias("avg"), F.sum("count_done").alias("done")))
                self.force(panel)
        if t.on:
            self._record(q, rows, n_events, before)
        return {"latencies": [fresh], "cpu": [fresh_cpu]}

    def _record(self, q, rows, n_events, before) -> None:
        after = _tree(self.root)
        changed = {p for p, size in after.items() if before.get(p) != size}
        self.count("sinks.bytes_written", sum(after[p] for p in changed))
        self.count("sinks.files_written", len(changed))
        self.count("sinks.partitions_rewritten", len({
            os.path.dirname(p) for p in changed
            if os.path.basename(os.path.dirname(p)).startswith(("event_date=", "day="))}))
        self.count("streaming.days_refreshed", len({gen.report_day(r[2]) for r in rows}))
        self.count("streaming.rows_dropped", n_events)
        for p in q.recentProgress:
            d = p["durationMs"]
            self.count("streaming.rows_read", p["numInputRows"])
            self.count("streaming.trigger_ms", d.get("triggerExecution", 0))
            self.count("streaming.add_batch_ms", d.get("addBatch", 0))
            self.count("streaming.wal_commit_ms", d.get("walCommit", 0))
        self.groups.append(str(q.runId))  # the stream's own job group

    def stored_bytes(self) -> int:
        return sum(size for p, size in _tree(self.root).items() if "/drops/" not in p
                   and "/checkpoint/" not in p)

    def gate(self) -> list[tuple[str, bool, str]]:
        from check_correctness import frame_fingerprint
        from pyspark.sql import functions as F

        from habits_etl_spark.streaming.rollup import batch_daily_rollup

        spark = self.spark

        def events_match_model():
            got = {
                (r.user_email, r.habit, r.day): (r.value, r.notes)
                for r in spark.read.parquet(self.path("warehouse/habit_events"))
                .select("user_email", "habit", F.to_date("ts").alias("day"), "value", "notes")
                .collect()
            }
            want = self.feed.model
            if got == want:
                return None
            missing = len(want.keys() - got.keys())
            extra = len(got.keys() - want.keys())
            wrong = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
            return f"{missing} missing, {extra} unexpected, {wrong} wrong of {len(want)} keys"

        def landing_is_append_once():
            got = spark.read.parquet(self.path("warehouse/habits_raw")).count()
            want = len({tuple(r) for r in self.feed.sent})
            return None if got == want else f"{got} landed rows, {want} distinct rows sent"

        def rollup_matches_batch():
            cols = ["day", "user_email", "habit", "count_done", "avg_value", "sum_meditation"]
            got = spark.read.parquet(self.path("rollup")).select(*cols).toPandas()
            facts = spark.read.parquet(self.path("stream_events")).drop("event_date")
            want = batch_daily_rollup(facts).select(*cols).toPandas()
            a, b = frame_fingerprint(got), frame_fingerprint(want)
            return None if a[0] == b[0] and a[2] == b[2] else (
                f"rollup {a[0]} rows vs batch {b[0]} rows, hashes differ")

        return [_checked("habit_events=model", events_match_model),
                _checked("habits_raw=distinct_rows", landing_is_append_once),
                _checked("rollup=batch_daily_rollup", rollup_matches_batch)]


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


WORKLOADS = {w.name: w for w in (Dashboard, CronIngest)}
