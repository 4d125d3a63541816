"""Skew-resistant bounded ROWS frames: bucket-and-stitch for the
frame-fold family (EWMA, rolling median — any operator whose per-row
answer is a function of the last L values per key).

The plain shape (`frame_values_plain`, under `c_ewma` and
`c_window_rolling_median`) is one user-keyed window — optimal on
uniform keys, measured degrading 4.3× when one user owns 30% of the
event log (adversarial-skew probe, round 9): the frame fold itself is constant work per row, but the hot
partition is one task-sized sort, the same exposure class lagstitch/
sessionize/scd2 closed.

This module generalizes `lagstitch`'s single-row carry to an
(L−1)-row carry, on the shared scan (`skew.bucket_scan`):

1. LOCAL. Bucket the order key into fixed ranges; a local frame
   collect answers every row that sits ≥ L rows into its bucket.
2. TAIL SUMMARY. Per NON-EMPTY (user, bucket): the bucket's last
   L−1 (order, value) pairs — a map-side-combinable aggregate over
   the slim input projection (sorted struct array, tail slice).
3. CARRY. A bucket's carry-in is the last L−1 values before its
   first row. Every non-empty bucket tail holds ≥ 1 element, so the
   carry is contained in the tails of the last L−1 PRECEDING summary
   rows — a BOUNDED window (rowsBetween(-(L−1), −1)) over the tiny
   per-(user, bucket) summary table, flatten, keep the last L−1.
   Bounded matters: an unbounded-preceding concat would be
   O(buckets²) for the very hot keys this lane exists for.
4. STITCH. frame(row) = last L of (carry ++ local frame) — exact
   because carry is precisely the ≤ L−1 values the local window
   can't see.

Differential discipline: `c_ewma_bucketed` / `c_ewma_adaptive` and
the rolling-median twins check these implementations against the SAME
plain-window oracle SQL as their plain queries, plus boundary tests in
tests/test_framestitch.py (frames spanning 1, 2 and 3+ buckets, empty
buckets between a user's rows, single-event users, forced hot sets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .skew import bucket_scan, hot_keys, hot_split

DEFAULT_BUCKET_ROWS = 65536


def _tail(arr: Column, n: int) -> Column:
    """Last n elements of arr (all of it when shorter)."""
    return F.slice(arr, F.greatest(F.size(arr) - F.lit(n - 1), F.lit(1)), n)


def frame_values_bucketed(
    events: DataFrame,
    frame_len: int,
    bucket_rows: int = DEFAULT_BUCKET_ROWS,
) -> DataFrame:
    """The `frame_values_plain` contract without the hot-key window."""
    L = frame_len
    scanned = bucket_scan(
        events.select("user_id", "event_id", "x_micro"),
        "user_id",
        F.expr(f"event_id DIV {bucket_rows}"),
        ["event_id"],
        lambda w: {
            "__loc": F.collect_list("x_micro").over(
                w.rowsBetween(-(L - 1), Window.currentRow)
            )
        },
        [
            _tail(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("event_id", "x_micro"))),
                    lambda s: s.x_micro,
                ),
                L - 1,
            ).alias("__tail")
        ],
        lambda w: {
            "__carry": _tail(
                F.flatten(
                    F.collect_list("__tail").over(w.rowsBetween(-(L - 1), -1))
                ),
                L - 1,
            )
        },
        null_safe_bucket=False,
    )
    return scanned.select(
        "user_id",
        "event_id",
        "x_micro",
        # typed empty array: a bare array() is ARRAY<NULL> and fails
        # concat coercion against ARRAY<BIGINT>
        _tail(
            F.concat(
                F.coalesce(
                    F.col("__carry"),
                    F.expr("CAST(array() AS ARRAY<BIGINT>)"),
                ),
                F.col("__loc"),
            ),
            L,
        ).alias("frame"),
    )


def frame_values_plain(events: DataFrame, frame_len: int) -> DataFrame:
    """(user_id, event_id, x_micro, frame) with `frame` = the last
    `frame_len` x_micro values (oldest first, current row included),
    per user by event_id: one user-keyed window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-(frame_len - 1), Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        "x_micro",
        F.collect_list("x_micro").over(w).alias("frame"),
    )


def frame_values(
    events: DataFrame,
    frame_len: int,
    bucket_rows: int = DEFAULT_BUCKET_ROWS,
    hot: list | None = None,
) -> DataFrame:
    """Adaptive entry point: hot users' rows through bucket-and-stitch,
    everyone else through the plain window. Pass `hot` to skip the
    probe ([] forces plain)."""
    return hot_split(
        lambda cut: frame_values_plain(cut(events, "user_id"), frame_len),
        lambda cut: frame_values_bucketed(
            cut(events, "user_id"), frame_len, bucket_rows=bucket_rows
        ),
        hot_keys(events) if hot is None else hot,
    )


def ewma_from_frame(df: DataFrame) -> DataFrame:
    """Exact integer EWMA (decay 1/2 per step) over a `frame` column:
    the fold weights the oldest value 2^0, so num and den are exact
    integers and `ewma_pico` = (num·10^6) DIV den."""
    num = F.aggregate(
        F.col("frame"),
        F.struct(
            F.lit(0).cast("long").alias("num"), F.lit(1).cast("long").alias("wt")
        ),
        lambda acc, v: F.struct(
            (acc.num + v * acc.wt).alias("num"), (acc.wt * 2).alias("wt")
        ),
        lambda acc: acc.num,
    )
    den = F.pow(F.lit(2.0), F.size("frame")).cast("long") - 1
    return df.select(
        "user_id",
        "event_id",
        "x_micro",
        num.alias("num"),
        den.alias("den"),
    ).select(
        "user_id",
        "event_id",
        "x_micro",
        # DECIMAL(38,0) widening before the ×10^6 so no corpus's value
        # range can wrap the product; `div` truncates and `//` floors,
        # identical here because x_micro (and so num) is non-negative.
        F.expr(
            "CAST(CAST(num AS DECIMAL(38,0)) * 1000000 DIV den AS BIGINT)"
        ).alias("ewma_pico"),
    )


def rolling_median_from_frame(df: DataFrame) -> DataFrame:
    """Exact rolling median over a `frame` column, emitted as twice the
    median (`med2_micro`) so the even-frame midpoint stays an integer."""
    s = F.array_sort("frame")
    n = F.size(s)
    med2 = (
        F.when(
            n % 2 == 1, F.element_at(s, ((n + 1) / 2).cast("int")) * 2
        ).otherwise(
            F.element_at(s, (n / 2).cast("int"))
            + F.element_at(s, (n / 2).cast("int") + 1)
        )
    ).cast("long")
    return df.select(
        "user_id", "event_id", "x_micro", med2.alias("med2_micro")
    )
