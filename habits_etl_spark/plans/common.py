"""Shared helpers for the query surface + the query/oracle registries.

Cross-engine determinism rules (Spark result must value-hash-equal the
DuckDB oracle at sf0.01):

1. **No float summation.** ``sum``/``avg`` over doubles is summation-order
   dependent, so Spark (partial aggregates over 32 partitions) and DuckDB
   (single-threaded or vectorized) would differ in final ulps. Every
   aggregated measure is cast to DECIMAL first — decimal arithmetic is
   exact, so both engines produce bit-identical sums — then cast back to
   double and rounded for output.
2. **No raw timestamps in output.** Spark timestamps are session-tz-aware
   (Arrow ``timestamp[us, tz=UTC]``), DuckDB's are naive — a schema-level
   mismatch. Day/week grains are output as DATE (arrow date32 in both);
   instant-grain outputs are formatted strings with explicit microsecond
   patterns.
3. **Stable column names**: every computed column is aliased identically in
   the DataFrame plan and the oracle SQL.
4. **Deterministic top-k**: every LIMIT carries a total order (unique key
   tie-break).
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.sources import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Microsecond-explicit timestamp formatting (rule 2).
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def query(name: str, oracle: str | None = None):
    """Register a query callable (and optionally its DuckDB oracle SQL)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Scan plans are immutable and the parquet under a testdata/bench dir never
# mutates mid-session, so the query layer memoizes them: spark.read.parquet
# costs ~0.14s of py4j/schema-listing per call, paid by EVERY query build
# otherwise (bench calls each query function twice). Keyed by applicationId
# so a restarted session never sees another JVM's plan. Writers that
# rewrite files in place (sink tests, compaction) read via load_table /
# spark.read directly and are unaffected.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    with _REGISTRY_LOCK:
        df = _TABLE_MEMO.get(key)
    if df is None:
        df = load_table(spark, sf_dir, name)
        with _REGISTRY_LOCK:
            # evict plans of dead sessions: a long-lived process that
            # restarts Spark would otherwise pin one DataFrame per
            # (app, dir, table) per session generation forever
            for k in [k for k in _TABLE_MEMO if k[0] != key[0]]:
                del _TABLE_MEMO[k]
            _TABLE_MEMO[key] = df
    return df


def widened(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Under-split repartition guard, shared (r14). Single-row-group
    fixture parquet arrives as 1-2 splits; any HEAVY map stage built on
    it — an Arrow mapInPandas kernel, a shingle/signature build — runs
    on 1-2 of 32 cores, and a cache() built on it PINS that partitioning
    for every downstream pre-shuffle stage. The r13 scaling gate caught
    this in the vector block-matmul (105 s on one core); r14 profiling
    found it again in ext_containment_blocked and
    ext_ngram_jaccard_blocked (sf1 warm 37-42 s -> 13.3 s). At real
    scale input splits already provide width and the guard is a no-op;
    use it ONLY in front of heavy builds — a cheap scan is better left
    unshuffled for Catalyst to prune."""
    n_part = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < n_part:
        return df.repartition(n_part)
    return df


# Plan builders are lazy, so a try/finally around construction can't release
# caches (nothing has materialized yet). Instead each cached intermediate
# registers under a scope key; the NEXT invocation of the same operator
# unpersists the previous handle before caching anew. This bounds executor
# storage to one invocation's worth per operator in long-lived sessions
# (bench best-of-N, the driver's correctness loop, pytest) and silences
# Spark's "already cached" warnings on re-invocation.
_CACHE_REGISTRY: dict[str, DataFrame] = {}
# Registry mutations are lock-guarded so concurrent invocations (parallel
# pytest/bench threads in one session) cannot race the pop/put. Note the
# semantic limit the lock does NOT lift: two concurrent invocations of the
# SAME operator still evict each other's cache (the second unpersists the
# first's handle, forcing recomputation — correct, just slower). Operators
# are therefore documented as one-at-a-time per scope within a session.
_REGISTRY_LOCK = threading.Lock()


def managed_cache(df: DataFrame, scope: str) -> DataFrame:
    """Cache ``df``, releasing whatever was cached under ``scope`` before."""
    with _REGISTRY_LOCK:
        prev = _CACHE_REGISTRY.pop(scope, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session may be gone; a dead handle holds no memory
    cached = df.cache()
    with _REGISTRY_LOCK:
        _CACHE_REGISTRY[scope] = cached
    return cached


# Cached relations that are pure functions of an immutable input dir (the
# normalized embedding base every vector fit/search starts from): unlike
# managed_cache, which re-caches on every invocation so each operator holds
# at most one generation, these handles are REUSED across operators and
# bench repetitions. Keyed by applicationId so a restarted session never
# touches a dead handle (the _TABLE_MEMO discipline).
_RELATION_MEMO: dict[tuple[str, str], DataFrame] = {}


def shared_cache(spark: SparkSession, scope: str, builder: Callable[[], DataFrame]) -> DataFrame:
    """Get-or-build a session-lifetime cached relation under ``scope``.
    ``scope`` must encode everything the relation depends on (sf_dir,
    parameters) — the builder runs at most once per (session, scope)."""
    key = (spark.sparkContext.applicationId, scope)
    with _REGISTRY_LOCK:
        df = _RELATION_MEMO.get(key)
    if df is not None:
        return df
    df = builder().cache()
    with _REGISTRY_LOCK:
        # re-check under the lock: if a concurrent caller built the same
        # scope first, keep THEIR handle and unpersist ours — otherwise
        # the loser's cached DataFrame is overwritten and leaks executor
        # storage for the session lifetime
        winner = _RELATION_MEMO.get(key)
        if winner is None:
            for k in [k for k in _RELATION_MEMO if k[0] != key[0]]:
                del _RELATION_MEMO[k]  # evict handles of dead sessions
            _RELATION_MEMO[key] = df
            return df
    try:
        df.unpersist()
    except Exception:
        pass  # losing handle; holds no memory if unpersist fails
    return winner


# Trained model literals (k-means centroids, PQ codebooks) are
# deterministic pure functions of the parquet under an immutable input dir
# — one training serves EVERY query that composes the model, which is the
# build-the-index-once contract of a real vector index (at 100 TB the fit
# is a sampled offline job whose output ships as a broadcast artifact, not
# something each query re-runs). Values are plain Python lists with no
# Spark handles, so entries survive session restarts harmlessly.
_FIT_MEMO: dict[tuple, object] = {}


def memo_fit(key: tuple, builder: Callable[[], object]):
    """Get-or-train under ``key`` (must encode sf_dir + every fit param)."""
    with _REGISTRY_LOCK:
        if key in _FIT_MEMO:
            return _FIT_MEMO[key]
    val = builder()
    with _REGISTRY_LOCK:
        # keep the first published fit if a concurrent caller won the
        # race (values are plain Python data, so the loser's result is
        # simply garbage-collected)
        return _FIT_MEMO.setdefault(key, val)


def scratch_result(
    spark: SparkSession, prefix: str, build: Callable[[str], DataFrame]
) -> DataFrame:
    """Run ``build(tmp)`` in a fresh temp directory named ``prefix*`` and
    return its result as an in-memory DataFrame. The round-trip ids write
    files there and read them back, so the (small) result is collected
    before the directory goes; the directory is removed even when the
    build or the collect fails."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        out = build(tmp)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def fmt_ts(c: Column) -> Column:
    """Timestamp -> canonical string (pairs with strftime(%f) in DuckDB)."""
    return F.date_format(c, TS_FMT_SPARK)


def dec(c: Column | str, prec: int = 18, scale: int = 6) -> Column:
    """Exact-arithmetic cast for aggregation inputs (rule 1)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def dsum(c: Column | str, ndigits: int = 4) -> Column:
    """Order-independent exact sum of a double column, output as rounded double."""
    return F.round(F.sum(dec(c)).cast("double"), ndigits)


def davg(c: Column | str, ndigits: int = 6) -> Column:
    """avg as exact-sum / count — deterministic double division."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(
        F.sum(dec(col)).cast("double") / F.count(F.when(col.isNotNull(), 1)),
        ndigits,
    )


# The matching DuckDB SQL fragments (keep in sync with dec/dsum/davg).
def sql_dsum(expr: str, ndigits: int = 4) -> str:
    return f"round(CAST(sum(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE), {ndigits})"


def sql_davg(expr: str, ndigits: int = 6) -> str:
    return (
        f"round(CAST(sum(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count({expr}), {ndigits})"
    )


def day_of(c: Column) -> Column:
    """timestamp -> DATE at day grain (oracle: CAST(date_trunc('day', x) AS DATE))."""
    return F.date_trunc("DAY", c).cast("date")


def day_str(c: Column) -> Column:
    """timestamp -> 'yyyy-MM-dd' string at day grain. Calendar grains are
    output as ISO strings (rule 2): Spark DateType reaches pandas as
    datetime.date while DuckDB DATE arrives as datetime64 — strings are
    identical in every comparison channel. Oracle pair:
    strftime(date_trunc('day', x), '%Y-%m-%d')."""
    return F.date_format(F.date_trunc("DAY", c), "yyyy-MM-dd")
