"""Skew-resistant gap sessionization: bucket-and-stitch.

The plain lag+cumsum sessionizer (`sessionize_plain`, the body of
`c_sessionize_gaps`) rides ONE user-keyed window — correct,
single-exchange, but a zipfian key kills it: a user owning 30% of the
event log serializes 30% of the corpus through one task's sort
(tools/skew_probe.py measured 2.3× at local[32]).

`sessionize_bucketed` splits every user's timeline into fixed time
buckets and sessionizes with the shared scan (`skew.bucket_scan`):

1. LOCAL: per (user_id, bucket) window — lag/cumsum exactly as the
   plain shape, restricted to the bucket. Emits each event's local
   session number `1..n_b`.
2. STITCH: the per-(user_id, bucket) summary (first/last event time,
   local session count) decides whether a bucket's FIRST local session
   continues the previous bucket's last session (boundary gap ≤
   gap_sec; summary rows are consecutive per user, so distant buckets
   fail the gap test naturally). A session spanning many buckets is a
   chain of merges; the running sum of `n_b - merged_b` telescopes the
   chain, so global numbering needs no iterative propagation:

       session_id(event) = offset(bucket) + local_session - merged

   which equals the plain sessionizer's running count (one oracle
   checks c_sessionize_gaps, c_sessionize_bucketed and
   c_sessionize_adaptive; boundary cases in tests/test_sessionize.py).

`sessionize` is the adaptive entry point (`skew.hot_split`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .skew import bucket_scan, hot_keys, hot_split

DEFAULT_GAP_SEC = 1800
DEFAULT_BUCKET_SEC = 3600


def sessionize(
    events: DataFrame,
    gap_sec: int = DEFAULT_GAP_SEC,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
    hot: list | None = None,
) -> DataFrame:
    """Adaptive entry point: hot users' rows through bucket-and-stitch,
    everyone else through the plain sessionizer. Pass a precomputed
    `hot` list to skip the probe pass ([] forces plain)."""
    return hot_split(
        lambda cut: sessionize_plain(cut(events, "user_id"), gap_sec=gap_sec),
        lambda cut: sessionize_bucketed(
            cut(events, "user_id"), gap_sec=gap_sec, bucket_sec=bucket_sec
        ),
        hot_keys(events) if hot is None else hot,
    )


def _rollup(df: DataFrame) -> DataFrame:
    return df.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def sessionize_plain(
    events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC
) -> DataFrame:
    """(user_id, session_id, n_events, session_start, session_end): a
    user's events start a new session after more than `gap_sec` of
    silence, and session_id is the running count of session starts.
    Both window functions share one user-keyed exchange, then a slim
    per-session rollup."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # MICROSECOND-exact gap: the oracle's epoch() and Spark's own
    # F.session_window both keep sub-second precision, so truncating
    # each timestamp to whole seconds before differencing
    # mis-classifies gaps inside (gap_sec, gap_sec+1) — ~24 boundary
    # hits per 1M events on this corpus, invisible at sf0.1.
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap = us(F.col("ts")) - us(F.lag("ts").over(w))
    new_s = F.when(
        gap.isNull() | (gap > gap_sec * 1_000_000), 1
    ).otherwise(0)
    return _rollup(
        events.select("user_id", "event_id", "ts").withColumn(
            "session_id",
            F.sum(new_s).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )


def sessionize_bucketed(
    events: DataFrame,
    gap_sec: int = DEFAULT_GAP_SEC,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """The `sessionize_plain` contract without the hot-key window."""
    # microsecond-exact end to end (the sessionize_plain precision
    # contract): bucket ids, local gaps and the stitch comparison all
    # ride unix_micros so bucket-and-stitch stays EXACTLY equal to the
    # plain shape at any timestamp precision
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    gap_us, bucket_us = gap_sec * 1_000_000, bucket_sec * 1_000_000

    def local(w):
        gap = us("ts") - F.lag(us("ts")).over(w)
        new_s = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
        return {
            "__ls": F.sum(new_s).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        }

    def carry(w):
        merged = F.when(
            F.col("__first") - F.lag("__last").over(w) <= gap_us, 1
        ).otherwise(0)
        off = F.sum(F.col("__n") - F.col("__m")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        return {"__m": merged, "__off": F.coalesce(off, F.lit(0))}

    scanned = bucket_scan(
        events.select("user_id", "event_id", "ts"),
        "user_id",
        F.floor(us("ts") / bucket_us),
        ["ts", "event_id"],
        local,
        [
            F.min(us("ts")).alias("__first"),
            F.max(us("ts")).alias("__last"),
            F.max("__ls").alias("__n"),
        ],
        carry,
        summarize_local=True,
    )
    sid = (F.col("__off") + F.col("__ls") - F.col("__m")).alias("session_id")
    return _rollup(scanned.select("user_id", "ts", sid))
