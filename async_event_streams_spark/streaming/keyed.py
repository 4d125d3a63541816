"""The one state engine binding for the per-key event-ordered stateful
pipes (scd2, funnel, as-of, time series): Arrow-chunk handling, the
applyInPandasWithState update wrapper and the keyed stream call.

Each family supplies only a pure fold, (state tuple | None, rows) →
(output columns, new state tuple), plus how to read its rows from a
frame and how to build its output frame; `keyed_update` wraps them
into the per-key update function and `keyed_stream` runs it over a
stream grouped by user_id, in append mode with no timeout. Moving the
families to another Spark state API is a change here, not in the
folds.

A key group larger than `spark.sql.execution.arrow.maxRecordsPerBatch`
arrives as SEVERAL DataFrames in arbitrary relative order, so the
chunks must be concatenated BEFORE sorting — per-chunk sorting makes a
(ts, event_id) watermark mis-drop later-chunk events (the bug this
helper exists to keep fixed in exactly one place).

`UNSET_US` is the 'no timestamp yet' sentinel: far below any int64
microsecond timestamp, so epoch (0) and pre-epoch events are ordinary
values, not accidental sentinels.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The update closures built by `keyed_update` reference this
# module's globals; cloudpickle serializes those BY REFERENCE to the
# module name, which only resolves on Python workers if the package is
# importable there — true when the driver runs from the repo root,
# false from any other cwd. Register by value so executors don't need
# an importable copy (same fix as functions/multimodal.py).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

UNSET_US = -(1 << 62)


def ts_us(series: pd.Series) -> pd.Series:
    """Timestamps → int64 microseconds (state tuples hold simple
    types only)."""
    return series.astype("datetime64[us]").astype("int64")


def ordered_events(
    pdf_iter: Iterator[pd.DataFrame],
    sort_cols: tuple[str, ...] = ("ts", "event_id"),
) -> pd.DataFrame | None:
    """All of a key's chunks, concatenated then sorted once; None when
    the trigger delivered no rows (timeout/empty batch)."""
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True).sort_values(list(sort_cols))


def keyed_update(
    fold: Callable,
    rows_of: Callable[[pd.DataFrame], Iterator],
    out_frame: Callable[[tuple, dict], pd.DataFrame],
    sort_cols: tuple[str, ...] = ("ts", "event_id"),
) -> Callable:
    """The per-key update function around `fold`: order the key's
    chunks, fold its rows (none when the trigger is empty) into the
    stored state, store the new state, and yield one output frame only
    when the fold emitted rows."""

    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = ordered_events(pdf_iter, sort_cols)  # chunk-safe
        out, new_state = fold(
            tuple(state.get) if state.exists else None,
            [] if pdf is None else rows_of(pdf),
        )
        state.update(new_state)
        if any(out.values()):
            yield out_frame(key, out)

    return update


def keyed_stream(
    df: DataFrame, update: Callable, output_schema: str, state_schema: str
) -> DataFrame:
    """Run a `keyed_update` function over `df` grouped by user_id:
    append-mode output, one state tuple per key, no timeout."""
    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
