"""Streaming SCD type-2 maintenance: the incremental twin of the batch
`c_scd2_intervals` query (queries/relational.py).

Events stream in per user; the pipe maintains ONE open interval per
key in the state store (current event_type + its start) and emits a
CLOSED interval row whenever the type changes — exactly what a
warehouse's dimension-history table consumes from a CDC feed. The
reference's stateful-sink shape (/root/reference/src/pipes.rs:43-94:
per-key state behind a lock, updated per event) maps to the keyed
state engine (keyed.py): per-key state tuple, Arrow-batched updates,
checkpointed by the state store.

Ordering contract: the topic layer delivers per-key FIFO (SURVEY
§8-H5), so state only ever moves forward; a row older than the key's
last-seen (ts, event_id) would be a contract violation upstream and
is dropped defensively (counted nowhere — the batch twin, which sorts
globally, is the arbiter in the coherence test).

State is O(keys) — one (type, start, last) tuple per user — so the
pipe holds at any stream length; timestamps live in the state tuple
as int64 microseconds (simple state-schema types only).

The transition is the pure `_fold_events`; keyed.py binds it to the
state store, and the property suite drives it Spark-free.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from .keyed import UNSET_US, keyed_stream, keyed_update, ts_us

# Stateful update closures from this module are shipped to Python
# workers; register by value so a driver running outside the repo root
# doesn't need the package importable on executors (see keyed.py).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass


SCD2_OUTPUT_SCHEMA = (
    "user_id long, event_type string, valid_from timestamp, "
    "valid_to timestamp"
)
# cur_type + its start, plus the last-seen (ts, event_id) watermark for
# the defensive out-of-order drop
SCD2_STATE_SCHEMA = (
    "cur_type string, from_us long, last_us long, last_eid long"
)


def _fold_events(st: tuple | None, events) -> tuple[dict, tuple]:
    """The per-key transition, driven Spark-free by the property
    tests: (state tuple | None, iterable of (t_us, eid, etype)) →
    (closed-interval output columns, new state tuple)."""
    cur_type, from_us, last_us, last_eid = (
        st if st is not None else (None, UNSET_US, UNSET_US, -1)
    )
    out: dict[str, list] = {"type": [], "from": [], "to": []}
    for t_us, eid, etype in events:
        t_us, eid = int(t_us), int(eid)
        if (t_us, eid) <= (last_us, last_eid):
            continue  # per-key FIFO contract violation: drop
        last_us, last_eid = t_us, eid
        if cur_type is None:
            cur_type, from_us = str(etype), t_us
        elif str(etype) != cur_type:
            out["type"].append(cur_type)
            out["from"].append(from_us)
            out["to"].append(t_us)
            cur_type, from_us = str(etype), t_us
    return out, (cur_type, from_us, last_us, last_eid)


def _events_from_pdf(pdf: pd.DataFrame):
    return zip(ts_us(pdf["ts"]), pdf["event_id"], pdf["event_type"])


def _out_frame(key: tuple, out: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key[0]] * len(out["type"]),
            "event_type": out["type"],
            "valid_from": pd.to_datetime(out["from"], unit="us"),
            "valid_to": pd.to_datetime(out["to"], unit="us"),
        }
    )


# module-level so the Spark-free property test,
# tests/test_scd2_properties.py, can drive it against a
# prefix-recompute reference
_update = keyed_update(_fold_events, _events_from_pdf, _out_frame)


def scd2_intervals_stream(df: DataFrame) -> DataFrame:
    """(user_id, event_type, ts, event_id) stream → closed SCD2
    interval rows [valid_from, valid_to). The OPEN interval per key is
    state, not output — append-mode downstream sinks only ever see
    finalized history rows (emitting the open row would retract)."""
    return keyed_stream(df, _update, SCD2_OUTPUT_SCHEMA, SCD2_STATE_SCHEMA)
