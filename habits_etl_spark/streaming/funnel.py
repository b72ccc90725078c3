"""Custom stateful streaming operator: live conversion-funnel tracking via
``applyInPandasWithState``.

The batch form is plans/analytics.py ext_event_funnel (strict-order,
bounded per-step window). This is the **incremental** form: state per user
is just (stages_completed, instant of the last completed stage) — O(1)
per key, updated as events arrive, so "how many users are at stage k right
now" is always fresh without reprocessing the event history.

Semantics (match the batch operator for in-order data): a user at stage k
advances on the first stage-(k+1) event with instant strictly after the
stage-k instant and within ``step_us`` of it. Once the window for the next
step has passed, the user is parked (a real pipeline would also expire
state by timeout; kept explicit-state-only here so restarts from the
checkpoint are exactly reproducible). Events arriving out of order across
micro-batches fold in event-time order WITHIN a batch but cannot rewind a
decision made in an earlier batch — the same documented divergence as the
O(1)-state streak tracker (streaming/stateful.py); the batch operator is
the exact one.

Scale: state is two scalars per user, hash-partitioned by user_id across
executors and checkpointed incrementally; works under the RocksDB state
store (session.rocksdb_state_store_conf) for state larger than memory.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The funnel stages, in order, shared with the batch operator and the
# streaming e2e oracle.
FUNNEL = ("signup", "click", "purchase")
FUNNEL_STEP_US = 12 * 3600 * 1_000_000  # max delay between adjacent stages

STATE_SCHEMA = "stage INT, t BIGINT"
OUTPUT_SCHEMA = "user_id LONG, stage INT, converted BOOLEAN"


def _make_update(stages: tuple, step_us: int):
    stage_of = {s: i for i, s in enumerate(stages)}

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stage, t = state.get if state.exists else (0, 0)
        rows = []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                k = stage_of.get(r["event_type"])
                if k is None:
                    continue
                rows.append((int(r["ts"].value // 1_000), k))
        rows.sort()  # event-time order within the micro-batch
        for et, k in rows:
            if stage == 0:
                if k == 0:
                    stage, t = 1, et
            elif stage < len(stages) and k == stage:
                if t < et <= t + step_us:
                    stage, t = stage + 1, et
        state.update((stage, t))
        (user_id,) = key
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "stage": [stage],
                "converted": [stage >= len(stages)],
            }
        )

    return update


def funnel_stream(events_stream, stages: tuple = FUNNEL,
                  step_us: int = FUNNEL_STEP_US):
    """events_stream: streaming DF with (ts, user_id, event_type).
    Returns the streaming DF of per-user funnel-position updates."""
    return (
        events_stream.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update(stages, step_us),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
