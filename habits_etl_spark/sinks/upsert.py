"""Keyed upsert with partial-merge semantics (reference etl/etl_habits.py:31-38):

    ON CONFLICT (user_email, habit, ts) DO UPDATE
      SET value = EXCLUDED.value,
          notes = COALESCE(EXCLUDED.notes, habit_events.notes)

i.e. ``set_cols`` are overwritten by the incoming row (even with NULL),
``coalesce_cols`` keep the old value when the incoming one is NULL.

Without Delta's MERGE (plain Parquet storage), the merge is a FULL OUTER
join of target and source on the key (see ``upsert_keyed``) — one shuffle,
fully distributed, no driver involvement. Callers:

- ``landing.merge_events``, the one merge of the fact table, for
  ``pipeline.run_ingest`` and the rollup stream alike. At 100 TB its
  shuffle is bounded by the *changed partitions*: it reads the target
  through ``landing.pruned_fact_scan`` on the incoming batch's dates and
  writes the merge back with ``landing.write_events``.
- ``manifest.upsert_snapshot`` (``run_ingest(table_format="manifest")``),
  against the whole current snapshot.
- the ``sink_upsert_events`` query (``plans/habits.py``).

Determinism note (SURVEY §7.3.4): Postgres applies conflicting rows in
statement order; a set-oriented merge must instead pre-deduplicate the
incoming batch with an explicit winner. ``dedup_batch`` picks the row with
the highest ``order_col`` per key; ``landing.dedup_events`` orders by scan
position, so the last row wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_batch(incoming: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep one deterministic winner per key (last-writer-wins on order_col)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        incoming.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_keyed(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    set_cols: list[str],
    coalesce_cols: list[str],
    keep_old_cols: list[str] | None = None,
) -> DataFrame:
    """Merge ``incoming`` into ``existing`` on ``keys``.

    - ``set_cols``: incoming wins whenever an incoming row exists, even
      with NULL (EXCLUDED.value semantics).
    - ``coalesce_cols``: incoming wins unless NULL (COALESCE(new, old)).
    - ``keep_old_cols``: existing wins when present (columns the
      reference's DO UPDATE clause does not touch, e.g. ``source``).

    Assumes both sides are unique on ``keys`` (use ``dedup_batch`` on the
    incoming side first if not — the reference's UNIQUE constraint
    guarantees it for the target) and that key columns are non-null
    (Postgres conflict targets are unique indexes over NOT NULL columns;
    the engine's flt_required_fields enforces it upstream).

    Plan shape (r14 optimization, guide §3.1): a FULL OUTER shuffled-hash
    join on the keys, building the hash relation from the INCOMING side.
    The previous form (union + groupBy(keys) with per-column
    ``max(when(__seq...))``) computed the same merge, but string-typed
    aggregation buffers (notes/props) are not mutable in UnsafeRow, so
    Spark planned a SortAggregate — a full sort of target+batch per merge.
    The join needs the same single shuffle but NO sort (hash build over
    the batch, streamed probe of the target), and at 100 TB the build
    side is the incoming micro-batch — bounded per partition — while the
    big target side is only shuffled, exactly Delta MERGE's shape. Under
    the unique-keys contract above the two forms are row-identical
    (oracle-verified: the DuckDB twin of sink_upsert_events is itself a
    FULL OUTER JOIN).

    The shuffle_hash hint presumes ``incoming`` is a BOUNDED batch
    (ADVICE r14): a caller merging two corpus-scale relations loses the
    sort-based fallback and risks build-side memory pressure — route
    such merges through a plain join, or dedup/shrink the incoming side
    first as every current call site does.
    """
    keep_old_cols = keep_old_cols or []
    val_cols = set_cols + coalesce_cols + keep_old_cols
    old = existing.select(
        *keys, *[F.col(c).alias(f"__old_{c}") for c in val_cols]
    )
    new = incoming.select(
        *keys,
        *[F.col(c).alias(f"__new_{c}") for c in val_cols],
        F.lit(True).alias("__has_new"),
    )
    joined = old.join(new.hint("shuffle_hash"), on=keys, how="full_outer")

    out_cols = [F.col(k) for k in keys]
    for c in set_cols:
        out_cols.append(
            F.when(F.col("__has_new"), F.col(f"__new_{c}"))
            .otherwise(F.col(f"__old_{c}"))
            .alias(c)
        )
    for c in coalesce_cols:
        out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(f"__old_{c}")).alias(c))
    for c in keep_old_cols:
        out_cols.append(F.coalesce(F.col(f"__old_{c}"), F.col(f"__new_{c}")).alias(c))
    return joined.select(*out_cols)
