"""Distributed exact global ranks and order statistics: bucketed
row_number / ntile / lag / running aggregates, plus shuffle-free
selection (quantile edges at exact ranks).

Spark's ``Window.orderBy(...)`` without a partition spec moves the whole
relation into ONE task — correct, but a single-machine bottleneck the
moment the input stops being k-bounded (Spark logs "No Partition Defined
for Window operation" and the plan pins an all-data sort on one core).
These helpers compute the IDENTICAL exact result with a bucket
decomposition:

1. **Boundary pass** (r9, numeric leading order key — every registered
   caller): ONE aggregation job collects row counts and
   percentile_approx candidate EDGES of the leading order column; a
   second map-side hash agg under the pinned literal edges yields each
   bucket's exact count and the operator's boundary value (last lag
   value / extremum / sum). No data shuffle anywhere in the pass —
   partial aggs only. Edges are approximate and only BALANCE bucket
   sizes (heavy leading-key ties coarsen them); every downstream
   quantity is an exact aggregate under those pinned edges, so results
   never depend on the sketch. Non-numeric leading keys fall back to
   the legacy ``repartitionByRange`` + spark_partition_id pass —
   _Buckets — which moves the relation once just to learn boundary
   state. Leading-key TIES the edges cannot split are guarded in every
   engine (per-row, selection, group-position): when the exact counts
   show one bucket past both _DEGENERATE_BUCKET_ROWS and 2x the fair
   total/nparts share, boundary state is rebuilt on the range pass,
   whose full (value, tiebreak) key splits ties — so a constant or
   low-cardinality leading key costs one extra shuffle instead of
   pinning a data-sized sort on one task.
2. Offsets / carries prefix-combined in plain Python over the
   collected bucket rows — at most ~n_partitions + |groups| of them,
   the registry's k-bounded-collect rule.
3. **Probe pass**: each row's bucket is a Σ-of-comparisons against the
   literal edges (codegen-friendly, no join, reproducible across
   evaluations — Spark's range sampler is not, which is why nothing
   re-runs ``repartitionByRange``).
4. A per-bucket window (parallel across buckets) combined with the
   broadcast offset/carry. This window's hash exchange is the ONLY
   time the relation moves in the whole operator.

The SELECTION helpers (global_order_statistics and friends) go
further: they never window every bucket — only the buckets holding a
requested rank are sorted, and exactly one row per target is
collected.

Exactness requires:
- a TOTAL order: a unique tie-break column (plans/common.py rule 4);
  equal keys could otherwise straddle a bucket boundary with an
  arbitrary tie order. Every caller orders by (value, unique_id).
- ASCENDING, NON-NULL order keys: bucket assignment compares keys
  field-wise ASC and a null field would void the comparison. Callers
  express DESC on numeric keys by negating the value.

``with_global_lag`` / ``with_global_running_agg`` exchange only the
partition-boundary value (each bucket's last/extremum), which is the
decomposition plans/opsaudit.py's docstrings promise.

At 100 TB: the boundary pass is two agg-only scans + a bucket-count
collect; the probe is map-side bucketing + the window's one hash
shuffle; everything after the offsets is embarrassingly parallel. No
step materializes the relation on one node. The price vs the
single-task window is extra evaluations of the input subtree —
callers with expensive upstreams cache the input first
(plans/common.py managed_cache).
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "with_global_row_number",
    "with_global_ntile",
    "with_global_lag",
    "with_global_running_agg",
    "with_group_position",
    "bounded_running_sum",
    "global_order_statistics",
    "with_global_ntile_by_selection",
    "grouped_ntile_by_selection",
]

_PID = "__dr_pid"
_CNT = "__dr_cnt"
_KEY = "__dr_key"
_AGG = "__dr_agg"
_RLOC = "__dr_rloc"


def _nparts(df: DataFrame, nparts: int | None) -> int:
    if nparts is not None:
        return nparts
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _order_cols(order: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order]


def _key_struct(order: Sequence[Column | str]) -> Column:
    cols = _order_cols(order)
    return F.struct(*[c.alias(f"_k{i}") for i, c in enumerate(cols)])


class _Buckets:
    """Pass-1 result: literal range boundaries + per-bucket stats (the
    range-shuffle fallback for NON-NUMERIC leading order keys; numeric
    keys take _EdgeBuckets' shuffle-free pass — see _buckets_for)."""

    def __init__(self, df: DataFrame, order, nparts: int, aggs: list[Column]):
        key = _key_struct(order)
        self.key_types = [f.dataType for f in df.select(key).schema[0].dataType]
        part = df.repartitionByRange(nparts, *_order_cols(order))
        grouped = (
            part.withColumn(_PID, F.spark_partition_id())
            .groupBy(_PID)
            .agg(F.count(F.lit(1)).alias(_CNT), F.max(key).alias(_KEY), *aggs)
            .collect()
        )
        # order buckets by their boundary KEY, not the (unstable) pid
        grouped.sort(key=lambda r: tuple(r[_KEY]))
        self.rows = grouped

    @property
    def empty(self) -> bool:
        return not self.rows

    def ids(self) -> list[int]:
        """Probe-side bucket ids, ascending in the total order. The
        when-chain in bucket_expr assigns positions in boundary-key
        order, so ids are just 0..n-1 here; _EdgeBuckets has gaps."""
        return list(range(len(self.rows)))

    def counts(self) -> list[int]:
        return [r[_CNT] for r in self.rows]

    def values(self, field: str) -> list:
        return [r[field] for r in self.rows]

    def bucket_expr(self, order) -> Column:
        """Row key -> bucket index, via the pinned literal boundaries.

        Bucket i holds keys in (boundary_{i-1}, boundary_i]; the last
        bucket also absorbs any key above the top boundary (none exist
        when probing the same data pass 1 saw)."""
        key = _key_struct(order)
        expr = None
        for i, r in enumerate(self.rows[:-1]):
            lit = F.struct(
                *[
                    F.lit(v).cast(t).alias(f"_k{j}")
                    for j, (v, t) in enumerate(zip(tuple(r[_KEY]), self.key_types))
                ]
            )
            arm = (key <= lit, F.lit(i))
            expr = F.when(*arm) if expr is None else expr.when(*arm)
        last = F.lit(len(self.rows) - 1)
        return last if expr is None else expr.otherwise(last)


class _EdgeBuckets:
    """_Buckets twin on the shuffle-free edge engine, for NUMERIC
    leading order keys (every registered caller): buckets are intervals
    of the total order delimited by pinned literal percentile_approx
    candidates of the first order column, and the per-bucket stats come
    from ONE map-side hash agg. _Buckets range-shuffles the whole
    relation just to learn boundary state and then throws that
    partitioning away — with edge buckets the relation moves exactly
    once in the whole operator, in the per-bucket window's own
    exchange. Edge placement is approximate and only balances bucket
    sizes; counts, carries and extrema are exact aggregates under the
    pinned edges, so results never depend on the sketch. Bucket indices
    may have gaps (empty intervals) — ids() is the probe-side contract.

    Edges compare the leading order column ONLY, so ties on it can
    never be split across buckets (degenerate worst case: a constant
    leading key collapses to one bucket and the per-bucket window
    single-tasks a data-sized sort). The exact counts expose that
    outcome, whatever its cause: ``degenerate`` is True when the
    largest bucket exceeds both the constant budget
    (_DEGENERATE_BUCKET_ROWS) and 2x the fair per-bucket share — the
    second bound keeps huge-but-balanced inputs (parallelism capped at
    nparts, no ties) off the fallback, where a range pass would yield
    the same bucket sizes for an extra shuffle. _buckets_for answers
    True by rebuilding on _Buckets, whose range pass splits ties via
    the full (value, tiebreak) key."""

    def __init__(self, df: DataFrame, order, nparts: int, aggs: list[Column]):
        totals, edges = _selection_edges(df, [], order, nparts, 4096, small_ok=False)
        c1 = _order_cols(order)[0]
        bexpr: Column = F.lit(0)
        for e in edges:
            bexpr = bexpr + (c1 > F.lit(e)).cast("int")
        self._bexpr = bexpr
        self.degenerate = False
        total = totals.get((), 0)
        if total == 0:
            self.rows = []
            return
        grouped = (
            df.groupBy(bexpr.alias(_PID))
            .agg(F.count(F.lit(1)).alias(_CNT), *aggs)
            .collect()
        )
        grouped.sort(key=lambda r: r[_PID])  # bucket index == order
        self.rows = grouped
        self.degenerate = max(r[_CNT] for r in grouped) > max(
            _DEGENERATE_BUCKET_ROWS, 2 * total // max(nparts, 1)
        )

    @property
    def empty(self) -> bool:
        return not self.rows

    def ids(self) -> list[int]:
        return [r[_PID] for r in self.rows]

    def counts(self) -> list[int]:
        return [r[_CNT] for r in self.rows]

    def values(self, field: str) -> list:
        return [r[field] for r in self.rows]

    def bucket_expr(self, order) -> Column:
        return self._bexpr


def _buckets_for(df: DataFrame, order, nparts: int, aggs: list[Column]):
    """Boundary-state provider dispatch: shuffle-free edge buckets when
    the leading order key is numeric (all registered callers), the
    range-shuffle pass otherwise (strings/timestamps lack a
    percentile_approx edge; correctness is identical either way).
    Numeric keys whose TIES defeat the edge split (low-cardinality /
    constant leading key — _EdgeBuckets.degenerate) also take the range
    pass: it buckets by the full (value, tiebreak) key, so per-task
    rows stay ~total/nparts no matter how heavy the ties."""
    from pyspark.sql.types import NumericType

    c1 = _order_cols(order)[0]
    if isinstance(df.select(c1.alias("__c1")).schema[0].dataType, NumericType):
        eb = _EdgeBuckets(df, order, nparts, aggs)
        if not eb.degenerate:
            return eb
    return _Buckets(df, order, nparts, aggs)


def _pid_case(pairs: list[tuple[int, object]], cast_to) -> Column:
    """Literal bucket → value lookup as a when-chain (≤ n_partitions
    arms). Pairs with a None value are omitted: the chain yields NULL
    for them — exactly the empty-prefix semantics callers need."""
    expr = None
    for pid, val in pairs:
        if val is None:
            continue
        arm = (F.col(_PID) == pid, F.lit(val).cast(cast_to))
        expr = F.when(*arm) if expr is None else expr.when(*arm)
    if expr is None:
        return F.lit(None).cast(cast_to)
    return expr


def _probe(df: DataFrame, order, buckets: _Buckets) -> DataFrame:
    return df.withColumn(_PID, buckets.bucket_expr(order))


def with_global_row_number(
    df: DataFrame,
    order: Sequence[Column | str],
    out: str = "rn",
    nparts: int | None = None,
) -> DataFrame:
    """df + column ``out`` (bigint) = 1-based row_number over the global
    total order."""
    b = _buckets_for(df, order, _nparts(df, nparts), [])
    if b.empty:  # empty input: nothing to rank
        return df.withColumn(out, F.lit(None).cast("bigint"))
    offs, acc = [], 0
    for pid, c in zip(b.ids(), b.counts()):
        offs.append((pid, acc))
        acc += c
    w_loc = Window.partitionBy(_PID).orderBy(*order)
    return (
        _probe(df, order, b)
        .withColumn(
            out,
            F.row_number().over(w_loc).cast("bigint") + _pid_case(offs, "bigint"),
        )
        .drop(_PID)
    )


def with_global_ntile(
    df: DataFrame,
    order: Sequence[Column | str],
    n: int,
    out: str = "tile",
    nparts: int | None = None,
) -> DataFrame:
    """df + column ``out`` (bigint) = exact SQL NTILE(n) over the global
    total order.

    Standard NTILE semantics: with N rows, the first N mod n tiles hold
    ceil(N/n) rows, the rest floor(N/n) — derived arithmetically from
    the distributed global row number; no single-task sort."""
    b = _buckets_for(df, order, _nparts(df, nparts), [])
    if b.empty:
        return df.withColumn(out, F.lit(None).cast("bigint"))
    offs, acc = [], 0
    for pid, c in zip(b.ids(), b.counts()):
        offs.append((pid, acc))
        acc += c
    total = acc
    q, rem = divmod(total, n)
    head = (q + 1) * rem  # rows living in the (q+1)-sized leading tiles
    w_loc = Window.partitionBy(_PID).orderBy(*order)
    rn = F.row_number().over(w_loc).cast("bigint") + _pid_case(offs, "bigint")
    tile = F.when(
        rn <= head, F.floor((rn - 1) / F.lit(q + 1)) + 1
    ).otherwise(F.lit(rem) + F.floor((rn - 1 - head) / F.lit(max(q, 1))) + 1)
    return _probe(df, order, b).withColumn(out, tile).drop(_PID)


def _ntile_ranks(n: int, total: int) -> list[int]:
    """The n-1 tile-boundary ranks of NTILE(n) over ``total`` rows: the
    cumulative tile sizes, the first ``total % n`` tiles one row larger."""
    q, rem = divmod(total, n)
    cums, acc = [], 0
    for i in range(1, n):
        acc += q + 1 if i <= rem else q
        cums.append(acc)
    return cums


def with_global_ntile_by_selection(
    df: DataFrame,
    order: Sequence[Column | str],
    n: int,
    out: str = "tile",
    nparts: int | None = None,
) -> DataFrame:
    """df + column ``out`` (bigint) = exact SQL NTILE(n), assigned
    MAP-SIDE: the n-1 tile-boundary keys are selected exactly with
    global_order_statistics, pinned as literals, and each row's tile is
    1 + |{boundaries strictly below its key}|. Identical output to
    with_global_ntile (rank r lies in tile i ⇔ exactly i-1 boundary
    ranks precede r, by the total order), but the per-row pass is pure
    whole-stage codegen with NO window and no per-row shuffle at all:
    with_global_ntile's probe pass must locally sort EVERY range
    bucket, while this sorts only the ≤ n-1 buckets holding a boundary
    and then streams. The price is O(n) struct comparisons per row —
    use it when n is a small domain constant (deciles/quintiles), the
    plain two-pass ntile for large n."""
    stats, total = global_order_statistics(df, order, partial(_ntile_ranks, n), nparts)
    if total == 0:
        return df.withColumn(out, F.lit(None).cast("bigint"))
    key = _key_struct(order)
    key_types = [f.dataType for f in df.select(key).schema[0].dataType]
    tile = F.lit(1).cast("bigint")
    for r in sorted(stats):
        boundary = F.struct(
            *[
                F.lit(v).cast(ty).alias(f"_k{j}")
                for j, (v, ty) in enumerate(zip(stats[r], key_types))
            ]
        )
        tile = tile + (key > boundary).cast("bigint")
    return df.withColumn(out, tile)


# Selection-engine tuning. Below _SMALL_PROBE_ROWS total rows the probe
# runs as ONE bucket per group (each group sorted whole — bounded by the
# constant, so never a data-sized single task) and the exact-bucket-count
# pass is skipped entirely; above it, candidate edges split the probe
# into ~_TARGET_BUCKET_ROWS-row buckets so no task ever sorts more.
_SMALL_PROBE_ROWS = 131_072
_TARGET_BUCKET_ROWS = 65_536
# A single (bucket, group) cell bigger than this (and bigger than 2x the
# fair total/nparts share) means the edge split failed — leading-key ties
# an edge comparison cannot separate, or a non-numeric key that never had
# edges — and the task that sorts it is data-sized. Both engines then
# fall back to the range boundary pass, which splits ties via the full
# (value, tiebreak) key.
_DEGENERATE_BUCKET_ROWS = 4 * _TARGET_BUCKET_ROWS


def _selection_edges(
    df: DataFrame,
    gnames: list[str],
    order: Sequence[Column | str],
    nparts: int,
    max_cells: int,
    small_ok: bool = True,
) -> tuple[dict[tuple, int], list]:
    """Pass A of the selection engine: per-group row counts plus pooled
    candidate bucket EDGES of the first order column — one aggregation
    job, NO data shuffle (partial aggs only; compare the per-row
    helpers' _Buckets, which must range-shuffle the whole relation
    because every row needs a stable bucket). Edges come from
    percentile_approx and only BALANCE the probe's bucket sizes; every
    exact quantity downstream comes from exact bucket counts and exact
    probe ranks, so edge placement (and the sketch's merge-order
    nondeterminism) can never affect results — only task sizing. Heavy
    ties on the first order key coarsen buckets (equal values can't be
    split without the tie-break); the probe still sorts only the
    affected buckets. Returns ({group key tuple: total}, ascending
    deduped edges — [] when the input is empty, below
    _SMALL_PROBE_ROWS (selection probes only; the per-row helpers pass
    ``small_ok=False`` because their window sorts EVERY bucket, so
    they always want the split), or the first order key is
    non-numeric)."""
    from pyspark.sql.types import NumericType

    c1 = _order_cols(order)[0]
    numeric = isinstance(
        df.select(c1.alias("__c1")).schema[0].dataType, NumericType
    )
    aggs = [F.count(F.lit(1)).alias(_CNT)]
    if numeric and nparts > 1:
        probs = [i / nparts for i in range(1, nparts)]
        aggs.append(F.percentile_approx(c1, probs).alias(_KEY))
    rows = df.groupBy(*gnames).agg(*aggs).collect()
    if len(rows) > max_cells:
        raise ValueError(
            f"order-statistics selection collected {len(rows)} group cells "
            f"(> {max_cells}): group cardinality is data-sized — use a "
            "plain partitioned window instead"
        )
    totals = {tuple(r[g] for g in gnames): r[_CNT] for r in rows}
    total = sum(totals.values())
    if not (numeric and nparts > 1 and total > 0):
        return totals, []
    if small_ok and total <= _SMALL_PROBE_ROWS:
        return totals, []
    pool = sorted({e for r in rows for e in (r[_KEY] or []) if e is not None})
    # Buckets target a CONSTANT row budget, so parallelism grows with the
    # data until it caps at nparts — at bench scale a couple of ~64k-row
    # buckets beat a 32-way split (fewer comparison arms, fewer tiny
    # tasks); past nparts·_TARGET_BUCKET_ROWS rows the split is full.
    want = min(nparts - 1, max(1, -(-total // _TARGET_BUCKET_ROWS) - 1))
    if not pool or not want:
        return totals, []
    # evenly spaced subset of the pooled per-group candidates (index
    # clamped: a small pool vs large want rounds to 0, and -1 would
    # silently pick the LARGEST candidate as a low edge)
    edges = sorted(
        {pool[max(0, round((i + 1) * len(pool) / (want + 1)) - 1)] for i in range(want)}
    )
    return totals, edges


def _order_statistics(
    df: DataFrame,
    gnames: list[str],
    order: Sequence[Column | str],
    ranks_of: Callable[[int], Sequence[int]],
    nparts: int,
    max_cells: int,
) -> tuple[dict[tuple, dict[int, tuple]], dict[tuple, int]]:
    """Shared engine behind global_order_statistics /
    grouped_order_statistics (global = the empty group list). Three
    passes, none of which shuffles the relation:

    A. _selection_edges — per-group totals + pooled approximate bucket
       edges of the first order key (one agg job, partial aggs only).
    B. EXACT per-(group, bucket) counts under the pinned literal edges
       (map-side bucket assign into a ≤ |groups|·|edges+1|-row hash
       agg). Buckets are intervals of each group's total order — an
       edge comparison depends only on the order key's leading field —
       so these counts give each bucket's exact starting rank. Skipped
       when pass A chose a single bucket (small input / non-numeric
       key): pass A's totals already are the bucket counts.
    C. Probe: rows get their bucket map-side (one Σ-of-comparisons
       expression — referenced ONCE in the pre-window prune, which
       collapses into the projection and would clone per reference),
       only the ≤ |groups|·k buckets holding a target rank are sorted,
       and exactly one row per (group, target) is collected.

    All three collects are domain-constant-bounded (``max_cells``
    guards the group cardinality; k = |ranks| is a domain constant).
    Exactness never depends on the approximate edges — they only bound
    how many rows the probe's per-bucket sorts see."""
    totals, edges = _selection_edges(df, gnames, order, nparts, max_cells)
    if not totals:
        return {}, {}
    c1 = _order_cols(order)[0]
    bucket: Column = F.lit(0)
    for e in edges:
        bucket = bucket + (c1 > F.lit(e)).cast("int")
    if edges:
        cells = [
            (tuple(r[g] for g in gnames), r[_PID], r[_CNT])
            for r in df.groupBy(*gnames, bucket.alias(_PID))
            .agg(F.count(F.lit(1)).alias(_CNT))
            .collect()
        ]
    else:
        cells = [(gkey, 0, cnt) for gkey, cnt in totals.items()]
    # Degeneracy guard (the selection twin of _EdgeBuckets.degenerate):
    # one (group, bucket) cell above both the constant budget and 2x the
    # fair total/nparts share means the edge split failed — leading-key
    # ties an edge comparison cannot separate, or a non-numeric leading
    # key that never had edges — and the probe would single-task a
    # data-sized sort on any target rank landing in that cell. Rebuild
    # boundary state with the range pass: it buckets by the FULL
    # (groups..., order...) key, so ties split via the tiebreak. Within a
    # group its buckets form a contiguous run ascending in the group's
    # own order (the full key leads with the group fields), which is all
    # the offset sweep below needs.
    total_rows = sum(totals.values())
    if cells and max(c[2] for c in cells) > max(
        _DEGENERATE_BUCKET_ROWS, 2 * total_rows // max(nparts, 1)
    ):
        raw, bexpr, bucket_of = _grouped_boundary_cells(
            df, gnames, order, nparts, max_cells, "order-statistics selection"
        )
        cells = [
            (tuple(r[g] for g in gnames), bucket_of[r[_PID]], r[_CNT]) for r in raw
        ]
        bucket = bexpr
    cells.sort(key=lambda c: (c[0], c[1]))  # (group, ascending bucket)
    ranks = {
        gkey: sorted({int(r) for r in ranks_of(tot) if 1 <= r <= tot})
        for gkey, tot in totals.items()
    }
    # (bucket, group) -> {local rank within bucket: global rank}
    run_off: dict[tuple, int] = {}
    local: dict[tuple[int, tuple], dict[int, int]] = {}
    for gkey, b, cnt in cells:
        off = run_off.get(gkey, 0)
        for gr in ranks[gkey]:
            if off < gr <= off + cnt:
                local.setdefault((b, gkey), {})[gr - off] = gr
        run_off[gkey] = off + cnt
    stats: dict[tuple, dict[int, tuple]] = {gkey: {} for gkey in totals}
    if not local:
        return stats, totals
    gtypes = {g: df.schema[g].dataType for g in gnames}
    okey = _key_struct(order)
    hit = None
    for (b, gkey), lr in local.items():
        cond: Column = F.col(_PID) == b
        for g, v in zip(gnames, gkey):
            cond = cond & (F.col(g) == F.lit(v).cast(gtypes[g]))
        arm = cond & F.col("__dr_rn").isin(*lr)
        hit = arm if hit is None else hit | arm
    # Pre-window prune: a SUPERSET of the exact (bucket, group) targets,
    # shaped so _PID (and each group column) is referenced exactly ONCE
    # — see pass C note above. Whole buckets survive, so local ranks
    # stay true; the extra (bucket, group) partitions are dropped by
    # `hit`, which is NOT pushable below the window (every disjunct
    # references the window output) and reads _PID materialized.
    prune = F.col(_PID).isin(sorted({b for b, _ in local}))
    for i, g in enumerate(gnames):
        prune = prune & F.col(g).isin(sorted({gkey[i] for _, gkey in local}))
    rn = F.row_number().over(
        Window.partitionBy(_PID, *gnames).orderBy(*_order_cols(order))
    )
    rows = (
        df.withColumn(_PID, bucket)
        .filter(prune)  # whole buckets: local rn below stays the true rank
        .withColumn("__dr_rn", rn)
        .filter(hit)
        .select(
            F.col(_PID).alias("__p"),
            *[F.col(g).alias(f"__g{i}") for i, g in enumerate(gnames)],
            F.col("__dr_rn").alias("__r"),
            okey.alias("__k"),
        )
        .collect()
    )
    for r in rows:
        gkey = tuple(r[f"__g{i}"] for i in range(len(gnames)))
        stats[gkey][local[(r["__p"], gkey)][r["__r"]]] = tuple(r["__k"])
    return stats, totals


def global_order_statistics(
    df: DataFrame,
    order: Sequence[Column | str],
    ranks_of: Callable[[int], Sequence[int]],
    nparts: int | None = None,
) -> tuple[dict[int, tuple], int]:
    """Exact order statistics over the global ``order`` total order:
    ``({rank: order-key tuple}, total_rows)`` for the 1-based global
    ranks ``ranks_of(total_rows)`` requests (ranks outside [1, total]
    are ignored). ``ranks_of`` sees the total AFTER pass A, so callers
    can ask for e.g. exact decile positions without a separate count
    job.

    This is distributed SELECTION, for callers that need a k-bounded
    set of positions (quantile edges, a fixed rank grid — k is a domain
    constant, so the collect is k-bounded) rather than a per-row rank.
    Unlike the per-row helpers, NO pass shuffles the relation: see
    _order_statistics for the three-pass engine (approx edges → exact
    bucket counts → probe of only the buckets holding a target).

    Same exactness contract as the other helpers: unique ASC non-null
    order key (plans/common.py rule 4); DESC via negation."""
    stats, totals = _order_statistics(
        df, [], order, ranks_of, _nparts(df, nparts), 4096
    )
    return stats.get((), {}), totals.get((), 0)


def with_global_lag(
    df: DataFrame,
    order: Sequence[str],
    col: str,
    out: str,
    nparts: int | None = None,
) -> DataFrame:
    """df + column ``out`` = lag(col, 1) over the global ASC total order.

    Only each bucket's LAST value crosses buckets: the first row of
    bucket i takes bucket i-1's last value; every other row lags
    locally."""
    last = F.max_by(F.col(col), _key_struct(order)).alias(_AGG)
    b = _buckets_for(df, order, _nparts(df, nparts), [last])
    dtype = df.schema[col].dataType
    if b.empty:
        return df.withColumn(out, F.lit(None).cast(dtype))
    carries, prev = [], None
    for pid, v in zip(b.ids(), b.values(_AGG)):
        carries.append((pid, prev))
        prev = v
    w_loc = Window.partitionBy(_PID).orderBy(*order)
    return (
        _probe(df, order, b)
        .withColumn(
            out, F.coalesce(F.lag(col).over(w_loc), _pid_case(carries, dtype))
        )
        .drop(_PID)
    )


def with_global_running_agg(
    df: DataFrame,
    order: Sequence[str],
    col: Column | str | dict[str, Column | str],
    out: str | None = None,
    agg: str = "sum",
    include_current: bool = True,
    nparts: int | None = None,
) -> DataFrame:
    """df + running sum/max column(s) of ``col`` over the global ASC
    total order (frame UNBOUNDED PRECEDING .. CURRENT ROW, or .. 1
    PRECEDING when ``include_current`` is False).

    ``col`` may be a dict {out_name: source col/expr} to compute several
    running aggregates in ONE boundary pass + ONE probe pass (chaining
    single-column calls would re-evaluate the input per column).

    Per-bucket running aggregate + one carry per bucket (the aggregate
    of all earlier buckets' totals/maxima, prefix-combined on the
    driver over ≤ n_partitions collected rows)."""
    if agg not in ("sum", "max"):
        raise ValueError(f"unsupported running agg: {agg}")
    fn = F.sum if agg == "sum" else F.max
    if isinstance(col, dict):
        cols = {o: (F.col(c) if isinstance(c, str) else c) for o, c in col.items()}
    else:
        if out is None:
            raise ValueError("out is required for single-column form")
        cols = {out: F.col(col) if isinstance(col, str) else col}
    names = list(cols)
    aggs = [fn(cols[o]).alias(f"{_AGG}{i}") for i, o in enumerate(names)]
    b = _buckets_for(df, order, _nparts(df, nparts), aggs)
    agg_types = {
        o: df.select(fn(cols[o]).alias("x")).schema[0].dataType for o in names
    }
    if b.empty:
        for o in names:
            df = df.withColumn(o, F.lit(None).cast(agg_types[o]))
        return df
    hi = 0 if include_current else -1
    w_loc = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    res = _probe(df, order, b)
    # Catalyst does not CSE window expressions (the r14 sessionize/ewma
    # lesson): the sum path below references ``local`` twice (null guard +
    # coalesce), which would plan two identical _we slots per output
    # column. Project each running aggregate ONCE here and build the
    # combine from the projected column — slots drop from 2/column to 1.
    loc_names = [f"{_RLOC}{i}" for i in range(len(names))]
    res = res.select(
        "*",
        *[fn(cols[o]).over(w_loc).alias(ln) for o, ln in zip(names, loc_names)],
    )
    for i, o in enumerate(names):
        carries, acc = [], None
        for pid, v in zip(b.ids(), b.values(f"{_AGG}{i}")):
            carries.append((pid, acc))
            if v is not None:
                if acc is None:
                    acc = v
                elif agg == "sum":
                    acc = acc + v
                else:
                    acc = max(acc, v)
        local = F.col(loc_names[i])
        carry = _pid_case(carries, agg_types[o])
        if agg == "sum":
            combined = F.when(
                local.isNull() & carry.isNull(), F.lit(None).cast(agg_types[o])
            ).otherwise(
                F.coalesce(local, F.lit(0).cast(agg_types[o]))
                + F.coalesce(carry, F.lit(0).cast(agg_types[o]))
            )
        else:
            combined = F.greatest(local, carry)  # greatest skips nulls
        res = res.withColumn(o, combined)
    return res.drop(_PID, *loc_names)


def _grouped_boundary_cells(
    df: DataFrame,
    gnames: list[str],
    order: Sequence[Column | str],
    nparts: int,
    max_cells: int,
    caller: str,
) -> tuple[list, Column | None, dict[int, int]]:
    """Shared pass 1 of the grouped two-pass decompositions: range-
    partition on (groups..., order...), collect one (bucket, group) cell
    per co-occurrence — ≤ n_partitions + |groups| rows, guarded by
    ``max_cells`` — and pin the observed bucket boundaries as a literal
    row-key → bucket-index when-chain (see _Buckets.bucket_expr for why
    boundaries are pinned rather than re-sampled).

    Returns (key-sorted cells, bucket expr, {pid: key-ordered bucket
    index}); ([], None, {}) on empty input."""
    full_order: list[Column | str] = [*gnames, *order]
    fkey = _key_struct(full_order)
    key_types = [f.dataType for f in df.select(fkey).schema[0].dataType]
    part = df.repartitionByRange(nparts, *_order_cols(full_order))
    cells = (
        part.withColumn(_PID, F.spark_partition_id())
        .groupBy(_PID, *gnames)
        .agg(F.count(F.lit(1)).alias(_CNT), F.max(fkey).alias(_KEY))
        .collect()
    )
    if not cells:
        return [], None, {}
    if len(cells) > max_cells:
        raise ValueError(
            f"{caller} collected {len(cells)} (bucket, group) "
            f"cells (> {max_cells}): group cardinality is data-sized — "
            "use a plain partitioned window instead"
        )
    # key leads with the group fields, so key-order == (group, position)
    cells.sort(key=lambda r: tuple(r[_KEY]))
    # bucket boundaries: per-pid max cell key, ordered by key
    bound_by_pid: dict[int, tuple] = {}
    for r in cells:
        k, p = tuple(r[_KEY]), r[_PID]
        if p not in bound_by_pid or k > bound_by_pid[p]:
            bound_by_pid[p] = k
    bounds = sorted(bound_by_pid.items(), key=lambda kv: kv[1])
    bucket_of = {pid: i for i, (pid, _) in enumerate(bounds)}
    # row key -> bucket index via pinned literal boundaries (≤ nparts arms)
    bexpr = None
    for i, (_, bk) in enumerate(bounds[:-1]):
        lit = F.struct(
            *[
                F.lit(v).cast(t).alias(f"_k{j}")
                for j, (v, t) in enumerate(zip(bk, key_types))
            ]
        )
        arm = (fkey <= lit, F.lit(i))
        bexpr = F.when(*arm) if bexpr is None else bexpr.when(*arm)
    last = F.lit(len(bounds) - 1)
    bexpr = last if bexpr is None else bexpr.otherwise(last)
    return cells, bexpr, bucket_of


def grouped_order_statistics(
    df: DataFrame,
    groups: Sequence[str],
    order: Sequence[Column | str],
    ranks_of: Callable[[int], Sequence[int]],
    nparts: int | None = None,
    max_cells: int = 4096,
) -> tuple[dict[tuple, dict[int, tuple]], dict[tuple, int]]:
    """Exact PER-GROUP order statistics — the grouped twin of
    global_order_statistics: ``({group key tuple: {rank: order-key
    tuple}}, {group key tuple: total rows})`` for the 1-based WITHIN-
    GROUP ranks ``ranks_of(group_total)`` requests (ranks outside
    [1, total] ignored; ``ranks_of`` sees each group's own total).

    Runs on the shuffle-free three-pass engine (_order_statistics):
    approx candidate edges + per-group totals in one agg, exact
    per-(group, bucket) counts map-side, then a probe that sorts ONLY
    the buckets holding a target rank of some group and collects
    exactly one row per (group, target) — ≤ |groups|·k rows. No pass
    shuffles the relation; nothing row-sized is windowed across every
    bucket or collected (``max_cells`` guards group cardinality).

    Exactness rules: unique ASC non-null (groups..., order...) total
    order — DESC via negation — plus NON-NULL group keys (targets are
    matched back by literal group equality)."""
    return _order_statistics(
        df, list(groups), order, ranks_of, _nparts(df, nparts), max_cells
    )


def grouped_ntile_by_selection(
    df: DataFrame,
    groups: Sequence[str],
    order: Sequence[Column | str],
    n: int,
    out: str = "tile",
    nparts: int | None = None,
    max_cells: int = 4096,
    apply_to: DataFrame | None = None,
) -> DataFrame:
    """df + column ``out`` (bigint) = exact SQL
    ``NTILE(n) OVER (PARTITION BY groups ORDER BY order)``, assigned
    MAP-SIDE — the grouped twin of with_global_ntile_by_selection, for
    the FEW-LARGE-GROUPS regime where ``Window.partitionBy(groups)``
    would pin each giant group's full sort on one task.

    Per group, the n-1 tile-boundary keys are selected exactly by
    grouped_order_statistics (shuffle-free: approx edges, exact bucket
    counts, then sorting only the ≤ |groups|·(n-1) buckets holding a
    boundary rank) and pinned as literals; each row's tile
    is then 1 + |{its group's boundaries strictly below its order key}|
    under a |groups|-arm when-chain — identical to the window's output
    (rank r lies in tile i ⇔ exactly i-1 boundary ranks precede r, by
    the group's total order), but the per-row pass is pure whole-stage
    codegen with NO window and no per-row shuffle. Groups whose total <
    n duplicate their top boundary rank; the duplicates sit at rank =
    group total, above every real row, so the sum still counts correctly.

    Exactness rules: unique ASC non-null (groups..., order...) total
    order — DESC via negation — plus NON-NULL group keys (the final
    when-chain matches groups by literal equality). Collect budget:
    pass 1 ≤ ``max_cells`` cells, pass 2 ≤ |groups|·(n-1) boundary rows
    (both domain constants). The price vs the window is two extra
    evaluations of the input subtree — callers with expensive upstreams
    cache the input first (plans/common.py managed_cache).

    ``apply_to``: the tile is a PURE MAP expression once the boundaries
    are pinned, so it can be stamped onto a DIFFERENT frame carrying the
    same group/order columns — boundaries still come from ``df``. The
    composition saves a join when a pipeline cuts tiles on a filtered
    subset but needs the label on the full relation (rows outside
    ``df``'s groups get a NULL tile; rows outside its rank range get the
    arithmetic tile their key implies). Default: stamp onto ``df``."""
    gnames = list(groups)
    target = df if apply_to is None else apply_to
    stats, totals = grouped_order_statistics(
        df, gnames, order, partial(_ntile_ranks, n), nparts, max_cells
    )
    if not totals:
        return target.withColumn(out, F.lit(None).cast("bigint"))
    gtypes = {g: df.schema[g].dataType for g in gnames}
    okey = _key_struct(order)
    okey_types = [f.dataType for f in df.select(okey).schema[0].dataType]
    expr = None
    for gkey, total in totals.items():
        tile: Column = F.lit(1).cast("bigint")
        for gr in _ntile_ranks(n, total):
            blit = F.struct(
                *[
                    F.lit(v).cast(t).alias(f"_k{j}")
                    for j, (v, t) in enumerate(zip(stats[gkey][gr], okey_types))
                ]
            )
            tile = tile + (okey > blit).cast("bigint")
        cond = F.lit(True)
        for g, v in zip(gnames, gkey):
            cond = cond & (F.col(g) == F.lit(v).cast(gtypes[g]))
        expr = F.when(cond, tile) if expr is None else expr.when(cond, tile)
    return target.withColumn(out, expr)


def with_group_position(
    df: DataFrame,
    groups: Sequence[str],
    order: Sequence[Column | str],
    rn_out: str = "rn",
    cnt_out: str = "group_count",
    nparts: int | None = None,
    max_cells: int = 4096,
) -> DataFrame:
    """df + 1-based position within each group (by ``order``) and the
    group's total row count — the two-pass range decomposition for the
    FEW-LARGE-GROUPS regime, where ``Window.partitionBy(groups)`` would
    pin each giant group's full sort on one task. (Many SMALL groups
    need no helper: the plain partitioned window already scales.)

    Range-partitions on (groups..., order...) so each group spans a
    contiguous bucket run; pass 1 collects one (bucket, group) cell per
    co-occurrence — ≤ n_partitions + |groups| rows (each bucket holds
    one group plus at most one straddling neighbor), guarded by
    ``max_cells``. Offsets and group totals prefix-combine driver-side;
    the probe assigns buckets from pinned literal boundaries exactly as
    the global helpers do. Same exactness rules: unique ASC non-null
    (groups..., order...) total order, DESC via negation.

    From (rn, count) the caller derives every distribution rank
    arithmetically: ntile (see with_global_ntile's formula), percent_rank
    = (rn-1)/(count-1), cume_dist = rn/count (unique order ⇒ no peers)."""
    from pyspark.sql.types import NumericType

    gnames = list(groups)
    np_ = _nparts(df, nparts)
    c1 = _order_cols(order)[0]
    cells = None
    if isinstance(df.select(c1.alias("__c1")).schema[0].dataType, NumericType):
        # Shuffle-free boundary state (the _EdgeBuckets design, grouped):
        # pinned approx edges of the leading order key bucket every group
        # simultaneously — an edge comparison depends only on the order
        # key, so buckets are intervals of EVERY group's own total order
        # — and one map-side hash agg yields the exact (bucket, group)
        # cells. The relation then moves once, in the window's exchange.
        _, edges = _selection_edges(df, gnames, order, np_, max_cells, small_ok=False)
        bexpr = F.lit(0)
        for e in edges:
            bexpr = bexpr + (c1 > F.lit(e)).cast("int")
        cells = (
            df.groupBy(bexpr.alias(_PID), *gnames)
            .agg(F.count(F.lit(1)).alias(_CNT))
            .collect()
        )
        if len(cells) > max_cells:
            raise ValueError(
                f"with_group_position collected {len(cells)} (bucket, group) "
                f"cells (> {max_cells}): group cardinality is data-sized — "
                "use a plain partitioned window instead"
            )
        # (group, ascending bucket) == (group, position); probe id is the
        # bucket index itself (gaps fine)
        cells.sort(key=lambda r: (tuple(r[g] for g in gnames), r[_PID]))
        bucket_of = {r[_PID]: r[_PID] for r in cells}
        # Same tie-degeneracy guard as _EdgeBuckets / the selection
        # engine: a cell the edges could not split (heavy leading-key
        # ties) would pin a data-sized sort on one window task — take
        # the range pass below, which splits ties via the full key.
        if cells:
            total = sum(r[_CNT] for r in cells)
            if max(r[_CNT] for r in cells) > max(
                _DEGENERATE_BUCKET_ROWS, 2 * total // max(np_, 1)
            ):
                cells = None
    if cells is None:
        cells, bexpr, bucket_of = _grouped_boundary_cells(
            df, gnames, order, np_, max_cells, "with_group_position"
        )
    if not cells:
        return df.withColumn(rn_out, F.lit(None).cast("bigint")).withColumn(
            cnt_out, F.lit(None).cast("bigint")
        )

    def geq(r) -> Column:
        cond = F.lit(True)
        for g in gnames:
            cond = cond & (F.col(g) == F.lit(r[g]))
        return cond

    # per-(bucket, group) offset = same-group rows in earlier buckets;
    # per-group total = sum over that group's cells (cells are key-sorted,
    # so one linear sweep accumulates both)
    offs: list[tuple[object, int]] = []
    totals: dict[tuple, int] = {}
    for r in cells:
        gkey = tuple(r[g] for g in gnames)
        offs.append((r, totals.get(gkey, 0)))
        totals[gkey] = totals.get(gkey, 0) + r[_CNT]
    off_expr = None
    for r, off in offs:
        if off == 0:
            continue  # when-chain yields NULL -> coalesced to 0 below
        arm = (
            (F.col(_PID) == F.lit(bucket_of[r[_PID]])) & geq(r),
            F.lit(off).cast("bigint"),
        )
        off_expr = F.when(*arm) if off_expr is None else off_expr.when(*arm)
    off_expr = F.lit(0).cast("bigint") if off_expr is None else F.coalesce(
        off_expr, F.lit(0).cast("bigint")
    )
    cnt_expr = None
    seen = set()
    for r, _ in offs:
        gkey = tuple(r[g] for g in gnames)
        if gkey in seen:
            continue
        seen.add(gkey)
        arm = (geq(r), F.lit(totals[gkey]).cast("bigint"))
        cnt_expr = F.when(*arm) if cnt_expr is None else cnt_expr.when(*arm)
    w_loc = Window.partitionBy(_PID, *gnames).orderBy(*_order_cols(order))
    return (
        df.withColumn(_PID, bexpr)
        .withColumn(rn_out, F.row_number().over(w_loc).cast("bigint") + off_expr)
        .withColumn(cnt_out, cnt_expr)
        .drop(_PID)
    )


def bounded_running_sum(
    df: DataFrame,
    order_col: str,
    sums: dict[str, str],
    include_current: bool = True,
) -> DataFrame:
    """Running sums over a K-BOUNDED relation as a triangular broadcast
    self-join — windowless, so no single-task sort node appears anywhere.

    ``sums`` maps source column → output cumulative column. ONLY legal
    when ``df`` is bounded by a constant of the domain, not by data
    volume (deciles, calendar days, n_partitions): the join is O(k²)
    pairs, trivial for k ≤ ~10⁴ and wrong above. Callers state the
    bound in their docstring; unbounded relations use
    with_global_running_agg instead.

    ``order_col`` must be unique per row (the group-by grain of ``df``)."""
    cmp = (
        F.col(f"__b.{order_col}") <= F.col(f"__a.{order_col}")
        if include_current
        else F.col(f"__b.{order_col}") < F.col(f"__a.{order_col}")
    )
    right = df.select(order_col, *sums.keys())
    joined = df.alias("__a").join(F.broadcast(right.alias("__b")), cmp, "left")
    aggs = [F.sum(F.col(f"__b.{src}")).alias(out) for src, out in sums.items()]
    keep = [F.col(f"__a.{c}").alias(c) for c in df.columns]
    return joined.groupBy(*keep).agg(*aggs)
