"""Streaming as-of join — the operator Spark Structured Streaming
famously lacks (stream-stream joins support equality + time-bound
conditions, not "latest prior row wins"): each event row is enriched
with the most recent order of the same user at-or-before its time,
exactly the registered `c_join_asof` contract (queries/relational.py:
union + last-non-null window; ties at equal time break orders-before-
events, then larger o_orderkey wins).

Shape: both sides are UNIONED into one keyed stream of merged-timeline
rows (user_id, t, is_event, sid, eid, okey) — the same tagged-union
trick the batch plan uses, which is what makes the semantics a pure
per-key FOLD: walk the timeline in (t, is_event, sid) order carrying
the latest order key; emit one row per event. State is O(keys): ONE
(watermark triple, last order key) tuple per user — not a buffered
side like a stream-stream join would hold, because "latest prior"
needs only the maximum, the B8 max-merge state shape of the reference
(/root/reference/tests/fizz_buzz.rs:31-43 — last-writer-wins merge per
position; /root/reference/src/pipes.rs:43-94 — per-key stateful sink).

Ordering contract: per-key ordered delivery of the MERGED timeline by
(t, is_event, sid) — the topic layer's per-key FIFO guarantee (SURVEY
§8-H5) applied to the union. Within a micro-batch, arrival order is
repaired by sorting (ordered_events); across batches, a row at or
before the per-key watermark is a replay or contract violation and is
dropped defensively (the scd2.py discipline). A genuinely LATE order
(earlier t than an already-emitted event) cannot retract that event's
emitted row in append mode — same caveat every append-mode twin in
this package documents; the batch lane is the replayable source of
truth.

The transition is the pure `_fold_rows`; keyed.py binds it to the
state store.

Stream == batch-twin == registered-query is pinned in
tests/test_streaming_asof.py; the fold itself is driven Spark-free
against a brute-force reference (replays, ties, chunk splits) in
tests/test_asof_fold_properties.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .keyed import keyed_stream, keyed_update

try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass


ASOF_OUTPUT_SCHEMA = "user_id long, event_id long, asof_orderkey long"

# Watermark triple = the merged-timeline sort key of the newest
# accepted row; last_okey only meaningful while has_order > 0 (explicit
# flag, no magic sentinel — state admits any int64 order key). n_seen
# gates the watermark the same way (t can legitimately be any int64,
# including the watermark's initial value).
ASOF_STATE_SCHEMA = (
    "wm_t long, wm_side long, wm_sid long, "
    "last_okey long, has_order long, n_seen long"
)


def _fold_rows(st: tuple | None, rows) -> tuple[dict, tuple]:
    """The per-key fold, driven Spark-free by the property tests:
    (state | None, iterable of (t, is_event, sid, eid, okey) in
    merged-timeline order) → (event output columns, new state). `sid`
    is the per-side id that breaks ties (o_orderkey for orders,
    event_id for events); `okey` is read only on order rows, `eid` only
    on event rows."""
    if st is not None:
        wm = (int(st[0]), int(st[1]), int(st[2]))
        last_okey, has_order, n_seen = int(st[3]), int(st[4]), int(st[5])
    else:
        wm, last_okey, has_order, n_seen = (0, 0, 0), 0, 0, 0
    out: dict[str, list] = {"event_id": [], "asof_orderkey": []}
    for t, is_event, sid, eid, okey in rows:
        tup = (int(t), int(is_event), int(sid))
        if n_seen and tup <= wm:
            continue  # replay / per-key ordering contract violation
        wm = tup
        n_seen += 1
        if int(is_event) == 0:
            last_okey = int(okey)
            has_order = 1
        else:
            out["event_id"].append(int(eid))
            out["asof_orderkey"].append(last_okey if has_order else None)
    new_state = (wm[0], wm[1], wm[2], last_okey, has_order, n_seen)
    return out, new_state


def _rows_from_pdf(pdf: pd.DataFrame):
    for t, is_event, sid, eid, okey in zip(
        pdf["t"], pdf["is_event"], pdf["sid"], pdf["eid"], pdf["okey"]
    ):
        yield (
            int(t),
            int(is_event),
            int(sid),
            None if pd.isna(eid) else int(eid),
            None if pd.isna(okey) else int(okey),
        )


def _out_frame(key: tuple, out: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key[0]] * len(out["event_id"]),
            "event_id": out["event_id"],
            "asof_orderkey": pd.array(out["asof_orderkey"], dtype="Int64"),
        }
    )


_update = keyed_update(
    _fold_rows, _rows_from_pdf, _out_frame, ("t", "is_event", "sid")
)


def asof_stream(df: DataFrame) -> DataFrame:
    """Merged-timeline stream (user_id, t, is_event, sid, eid, okey) →
    one (user_id, event_id, asof_orderkey) row per event. State is
    O(keys): 6 longs per user, regardless of order volume — the reason
    this beats buffering the order side in a stream-stream join at
    100 TB (a whale user's full order history never accumulates in the
    state store; only its maximum survives)."""
    return keyed_stream(df, _update, ASOF_OUTPUT_SCHEMA, ASOF_STATE_SCHEMA)


# ---------------------------------------------------------------------------
# Batch side: the merged timeline and the twin plan (the registered
# c_join_asof shape applied to an arbitrary merged frame).
# ---------------------------------------------------------------------------


def merged_timeline(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Tag + union the two sides into the keyed merged-timeline frame
    both the stream and the batch twin consume. Times are int64
    microseconds (state tuples hold simple types; the µs cast
    preserves every timestamp-vs-date comparison the registered query
    makes, since Spark promotes date → timestamp before comparing)."""
    e = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id").alias("sid"),
        F.col("event_id").alias("eid"),
        F.lit(None).cast("long").alias("okey"),
    )
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        # NOT cast(o_orderdate as timestamp): o_orderdate is
        # TIMESTAMP_NTZ, and that cast resolves the wall clock in the
        # SESSION timezone — these micros persist in checkpointed
        # state, so resuming under a different
        # spark.sql.session.timeZone would shift order rows against
        # stored watermarks (r11 ADVICE). unix_date over the date part
        # plus the wall-clock time of day is timezone-independent
        # (date-cast and hour/minute/second of an NTZ read the wall
        # clock directly); it equals the cast exactly when the session
        # runs UTC (the engine's session default, session.py:52).
        (
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
            * F.lit(86_400_000_000).cast("long")
            + (
                F.hour("o_orderdate").cast("long") * 3_600_000_000
                + F.minute("o_orderdate").cast("long") * 60_000_000
                # date_part('SECOND') keeps the fractional part
                # (DECIMAL(8,6)), so sub-second NTZ order timestamps
                # round-trip instead of collapsing to the second and
                # reordering against event rows (r12 ADVICE).
                + (
                    F.expr("date_part('SECOND', o_orderdate)")
                    * 1_000_000
                ).cast("long")
            )
        ).alias("t"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey").alias("sid"),
        F.lit(None).cast("long").alias("eid"),
        F.col("o_orderkey").alias("okey"),
    )
    return e.unionByName(o)


def asof_batch_twin(merged: DataFrame) -> DataFrame:
    """The registered c_join_asof plan (union + last-non-null window)
    applied to exactly the streamed merged frame — the equality bridge
    between the stream and the oracle-checked query."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn(
            "asof_orderkey", F.last("okey", ignorenulls=True).over(w)
        )
        .filter(F.col("is_event") == 1)
        .select(
            "user_id", F.col("eid").alias("event_id"), "asof_orderkey"
        )
    )
