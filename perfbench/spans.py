"""Spans, job labels and Spark status readers for the traced run.

Everything is measured from outside the engine: spans wrap calls into the
package's public functions, and Spark's own numbers come from its public
status APIs (the status tracker and the SQL status store that
``habits_etl_spark.metrics`` reads).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time

# The package's layers that the workloads call. ``metrics`` is not among
# them: no workload's user calls it, so it is not traced (read_executions
# only borrows its accumulator helper).
LAYERS = ("session", "sources", "functions", "operators", "plans", "sinks",
          "pipeline", "streaming", "spark")

# Public functions wrapped in the traced run: (module whose namespace the
# caller looks the name up in, name, layer). A name imported with
# ``from x import f`` has to be patched where it is looked up, so the
# inner calls of run_ingest and normalize_wide_rows are patched in the
# pipeline and unpivot modules.
WRAPPED = (
    ("habits_etl_spark.pipeline", "read_wide_csv", "sources"),
    ("habits_etl_spark.pipeline", "land_raw", "sinks"),
    ("habits_etl_spark.pipeline", "dedup_batch", "sinks"),
    ("habits_etl_spark.pipeline", "upsert_keyed", "sinks"),
    ("habits_etl_spark.pipeline", "normalize_wide_rows", "operators"),
    ("habits_etl_spark.operators.unpivot", "parse_report_date_expr", "functions"),
    ("habits_etl_spark.operators.unpivot", "email_normalize_expr", "functions"),
    ("habits_etl_spark.operators.unpivot", "notes_concat_expr", "functions"),
    ("habits_etl_spark.operators.unpivot", "number_coerce_expr", "functions"),
    ("habits_etl_spark.operators.unpivot", "bool_coerce_expr", "functions"),
    ("habits_etl_spark.operators.unpivot", "blank_cell_filter_expr", "functions"),
    ("habits_etl_spark.streaming.rollup", "refresh_rollup_days", "streaming"),
    ("habits_etl_spark.streaming.rollup", "davg", "plans"),
    ("habits_etl_spark.streaming.rollup", "dsum", "plans"),
    ("habits_etl_spark.plans.common", "load_table", "sources"),
    ("habits_etl_spark.sources", "load_events_range", "sources"),
)


class Tracer:
    """In-memory spans: (name, layer, start, end, parent, op). ``on`` is
    False in untimed rounds of the traced run and in every timed run, and
    then ``span`` costs one attribute check."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "layer": layer, "start": time.time(), "end": None,
                           "parent": self._stack[-1] if self._stack else None, "op": self.op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def wrap_public_functions(self) -> None:
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)

            @functools.wraps(fn)
            def traced(*a, _fn=fn, _name=attr, _layer=layer, **kw):
                with self.span(_name, _layer):
                    return _fn(*a, **kw)

            setattr(mod, attr, traced)

    def add_child(self, name: str, layer: str, start: float, end: float) -> None:
        """Attach a span measured elsewhere (a Spark SQL execution, whose
        clock has millisecond resolution) under the innermost recorded
        span that contains it. One that no span contains ran in an
        untraced round and is dropped."""
        parent = None
        for i, s in enumerate(self.spans):
            if (s["start"] - 0.002 <= start and end <= s["end"] + 0.002
                    and s["layer"] != "spark"
                    and (parent is None or s["start"] >= self.spans[parent]["start"])):
                parent = i
        if parent is not None:
            p = self.spans[parent]
            self.spans.append({"name": name, "layer": layer, "start": max(start, p["start"]),
                               "end": min(max(start, end), p["end"]), "parent": parent,
                               "op": p["op"]})

    def self_times(self, keep=lambda span: True) -> dict[str, float]:
        """Seconds of self time per layer over the spans ``keep`` selects:
        a span's duration minus the part of it its children cover
        (children are sequential here, so their durations are summed)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if keep(s):
                out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, s["end"] - s["start"] - c)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# --- Spark status readers ------------------------------------------------

SQL_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "shuffle records written": "shuffle_records",
    "spill size": "spill_bytes",
    "number of files read": "files_scanned",
}


def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def drain_listeners(sc) -> None:
    """Block until Spark's listener bus has delivered every queued event,
    so the status stores have seen all executions that finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def last_execution_id(store) -> int:
    execs = store.executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def read_executions(store, lo: int, hi: int) -> list[dict]:
    """Executions with ``lo < id <= hi``: wall interval (epoch seconds),
    job ids and the SQL metrics above, totalled once per accumulator."""
    from habits_etl_spark.metrics import _metric_total

    out = []
    for exec_id in range(lo + 1, hi + 1):
        opt = store.execution(exec_id)
        if not opt.isDefined():
            continue
        ex = opt.get()
        done = ex.completionTime()
        rec = {"id": exec_id, "start": ex.submissionTime() / 1000.0,
               "end": (done.get().getTime() if done.isDefined() else ex.submissionTime()) / 1000.0,
               "jobs": ex.jobs().size(), **{v: 0.0 for v in SQL_METRICS.values()}}
        values = store.executionMetrics(exec_id)
        seen = set()
        it = ex.metrics().iterator()
        while it.hasNext():
            m = it.next()
            key = SQL_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                rec[key] += _metric_total(v.get())
        out.append(rec)
    return out


def union(execs: list[dict]) -> list[tuple[float, float]]:
    """The executions' wall intervals, overlapping ones merged."""
    merged: list[list[float]] = []
    for e in sorted(execs, key=lambda e: e["start"]):
        if merged and e["start"] <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e["end"])
        else:
            merged.append([e["start"], e["end"]])
    return [(a, b) for a, b in merged]


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and tasks completed under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def cached_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def cpu_s(sc) -> float:
    """CPU seconds the program has used so far: every thread of the
    driver JVM, ended ones included, plus this Python process. Left out
    are the JIT compiler threads, since how much they compile in a round
    depends on when methods cross their thresholds, not on the round's
    work, and time the hypervisor gave to other guests (steal)."""
    pid = sc._gateway.proc.pid
    if pid not in _JIT_TIDS:
        _JIT_TIDS[pid] = [tid for tid in os.listdir(f"/proc/{pid}/task")
                          if _comm(pid, tid).startswith(("C1 Compiler", "C2 Compiler"))]
    jit = sum(_ticks(f"/proc/{pid}/task/{tid}/stat") for tid in _JIT_TIDS[pid])
    return (_ticks(f"/proc/{pid}/stat") - jit) / _TICK + time.process_time()


_TICK = os.sysconf("SC_CLK_TCK")
_JIT_TIDS: dict[int, list[str]] = {}


def _comm(pid: int, tid: str) -> str:
    with open(f"/proc/{pid}/task/{tid}/comm") as f:
        return f.read()


def _ticks(path: str) -> int:
    """User plus system clock ticks of a /proc stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def jvm_peak_rss_mb(sc) -> float:
    """Peak resident set of the driver JVM (VmHWM of the gateway process)."""
    pid = sc._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
