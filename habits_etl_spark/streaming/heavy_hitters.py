"""Custom stateful streaming operator: distributed heavy hitters via
sharded space-saving sketches (``applyInPandasWithState``).

Finding the top-k most frequent items over an unbounded stream with exact
counts needs unbounded state; the space-saving sketch (Metwally et al.
2005, "Efficient computation of frequent and top-k elements in data
streams") keeps a FIXED number of counters with a per-item overestimation
bound: for every tracked item, ``true <= est <= true + err`` and any item
whose true frequency exceeds N/capacity is guaranteed tracked.

Distribution shape: items are hash-sharded; each shard maintains its OWN
space-saving summary as group state, so state is ``n_shards x capacity``
counters total — bounded regardless of item cardinality — and every
update touches exactly one shard (no cross-executor coordination).
Because an item always hashes to the same shard, per-item counts never
split across summaries, so each shard's bound applies directly and the
global top-k is the union of shard summaries filtered client-side — the
same merge a count-min/Misra-Gries pipeline ships.

Scale: state per group is three fixed-length arrays; shards
hash-partition across executors and checkpoint incrementally; works
under the RocksDB state store (session.rocksdb_state_store_conf).
Emits the full shard summary each micro-batch (output mode "update"),
so the downstream view is always the current sketch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "items ARRAY<STRING>, counts ARRAY<LONG>, errs ARRAY<LONG>"
OUTPUT_SCHEMA = "shard INT, item STRING, est_count LONG, max_err LONG"

_DEFAULT_CAPACITY = 16
_DEFAULT_SHARDS = 8


def _make_update(capacity: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, errs = state.get
            summary = {
                i: [c, e] for i, c, e in zip(list(items), list(counts), list(errs))
            }
        else:
            summary = {}
        for pdf in pdfs:
            for item in pdf["item"]:
                item = str(item)
                if item in summary:
                    summary[item][0] += 1
                elif len(summary) < capacity:
                    summary[item] = [1, 0]
                else:
                    # evict the minimum counter; the newcomer inherits its
                    # count as overestimation error (space-saving step)
                    victim = min(summary, key=lambda k: summary[k][0])
                    m = summary.pop(victim)[0]
                    summary[item] = [m + 1, m]
        state.update(
            (
                list(summary.keys()),
                [c for c, _ in summary.values()],
                [e for _, e in summary.values()],
            )
        )
        (shard,) = key
        yield pd.DataFrame(
            {
                "shard": [int(shard)] * len(summary),
                "item": list(summary.keys()),
                "est_count": [c for c, _ in summary.values()],
                "max_err": [e for _, e in summary.values()],
            }
        )

    return update


def heavy_hitters_stream(
    items_stream,
    item_col: str = "item",
    capacity: int = _DEFAULT_CAPACITY,
    n_shards: int = _DEFAULT_SHARDS,
):
    """items_stream: streaming DF with a string item column. Returns the
    streaming DF of per-shard sketch summaries (shard, item, est_count,
    max_err); the global top-k view is the union of shards ordered by
    est_count."""
    # Nulls are dropped up front: a null would hash to a valid shard and
    # then stringify to "None" inside the sketch, conflating genuine
    # "None" strings with missing values.
    return (
        items_stream.select(F.col(item_col).cast("string").alias("item"))
        .filter(F.col("item").isNotNull())
        .withColumn("shard", F.pmod(F.xxhash64("item"), F.lit(n_shards)).cast("int"))
        .groupBy("shard")
        .applyInPandasWithState(
            _make_update(capacity),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
