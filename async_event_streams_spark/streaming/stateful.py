"""Custom stateful streaming operators via applyInPandasWithState.

Re-expresses the reference's stateful max-merge sink
(/root/reference/tests/fizz_buzz.rs:31-43: `set_value` keeps the max
label per position) as a first-class streaming operator: arbitrary
per-key state, Arrow-batched, with the state store handling
checkpointing — the Spark shape of the reference's `EventSink` + RwLock
state pattern (src/pipes.rs:43-94).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "pos long, max_priority int, max_label string"
STATE_SCHEMA = "max_priority int, max_label string"


def running_max_by_key(df: DataFrame) -> DataFrame:
    """Streaming running max-merge per key: input rows
    (pos, priority, label) → one updated (pos, max_priority, max_label)
    row per key per micro-batch. State is one tuple per key — O(keys),
    not O(events), so it holds at any stream length."""

    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best_p, best_l = state.get if state.exists else (-1, None)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            idx = pdf["priority"].idxmax()
            p = int(pdf["priority"][idx])
            if p > best_p:
                best_p, best_l = p, str(pdf["label"][idx])
        state.update((best_p, best_l))
        yield pd.DataFrame(
            {
                "pos": [key[0]],
                "max_priority": [best_p],
                "max_label": [best_l],
            }
        )

    return df.groupBy("pos").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Sessionization: the open session per user held in state
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start double, n_events int, total double"
)


def sessionize(df: DataFrame, gap_seconds: float = 1800.0) -> DataFrame:
    """Emit COMPLETED sessions per user: a session closes when the next
    event arrives more than `gap_seconds` after the previous one. The
    open session is held in per-key state (O(keys)) across
    micro-batches; closure is driven by event time in the data, so the
    operator is deterministic (no wall-clock timers)."""

    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        events: list[tuple[float, float]] = []
        for pdf in pdf_iter:
            events.extend(
                zip(pdf["ts_sec"].astype(float), pdf["value"].astype(float))
            )
        events.sort()
        cur = tuple(state.get) if state.exists else None
        completed = []
        for ts, v in events:
            if cur is None:
                cur = (ts, ts, 1, v)
            elif ts - cur[1] >= gap_seconds:
                completed.append(cur)
                cur = (ts, ts, 1, v)
            else:
                cur = (cur[0], ts, cur[2] + 1, cur[3] + v)
        if cur is not None:
            state.update(cur)
        if completed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(completed),
                    "session_start": [c[0] for c in completed],
                    "n_events": [c[2] for c in completed],
                    "total": [c[3] for c in completed],
                }
            )

    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType="start double, last double, n int, total double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
