"""Skew-resistant SCD type-2 interval build: bucket-and-stitch.

The plain SCD2 build (`scd2_intervals_plain`) rides ONE user-keyed
exchange through two window passes (LAG change-detection, LEAD
interval close) — optimal on uniform keys, but the r6 skew probe
(tools/skew_probe.py) measured it degrading 3.2x when one user owns
30% of the event log: that user's entire change history serializes
through a single task's sort, and AQE cannot split a window
partition. At 1000 executors the hot task IS the job.

`scd2_intervals_bucketed` applies the shared bucket-and-stitch scan
(functions/skew.py): split every user's timeline into fixed time
buckets so no window partition ever holds more than one (user,
bucket) of data, then reconcile bucket boundaries through ONE
per-bucket summary that answers both cross-bucket questions at once:

1. HEAD SUPPRESSION (change detection). Within a bucket, LAG marks
   local changes exactly as the plain shape — except the bucket's
   FIRST event, whose predecessor lives in the previous bucket. The
   summary carries each bucket's LAST event_type; a user-keyed LAG
   over the summary tells each bucket its predecessor's closing type,
   so the head is a start iff there is no previous bucket or the type
   differs. (No gap tolerance — SCD2 collapses consecutive repeats
   across ANY time distance, so only sequence adjacency matters,
   which the consecutive-per-user summary rows give exactly.)
2. INTERVAL CLOSE. valid_to of a start is the NEXT start's
   valid_from: within a bucket a local LEAD; for each bucket's last
   start, the first start of the user's next START-BEARING bucket.
   The summary knows each bucket's first surviving start without a
   second pass over event rows: it is the head event's ts when the
   head survives suppression, else the bucket's first IN-BUCKET
   change (NULL when the bucket contributes no start). An
   ignore-nulls forward-looking FIRST over the user-keyed summary
   window then yields every bucket's next-start timestamp, skipping
   start-free buckets for free.

The head/last rows inside a bucket are identified by window flags
(LAG-null marks the head, LEAD-null marks the last — one Window
operator computes both on the same sort), so the summary rollup
(`skew.bucket_scan`, summarized from the local frame) is all
primitive conditional min/max — no struct comparators — and, running
on rows already hash-partitioned by (user_id, bucket), needs NO
exchange of its own.

Differential discipline: `c_scd2_bucketed` (queries/relational.py)
checks THIS implementation against the SAME plain-semantics oracle
SQL that checks `c_scd2_intervals`, plus boundary unit tests in
tests/test_scd2_bucketed.py (type run spanning buckets, change
exactly at a bucket edge, start-free buckets between starts,
same-timestamp ties, single-event users) and a hypothesis property
against a pure-Python reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .skew import bucket_scan, hot_keys, hot_split

DEFAULT_BUCKET_SEC = 3600


def scd2_intervals(
    events: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
    hot: list | None = None,
) -> DataFrame:
    """Adaptive entry point: hot users' change logs through
    bucket-and-stitch, everyone else through the plain two-window
    shape. Pass a precomputed `hot` list to skip the probe pass ([]
    forces plain)."""
    return hot_split(
        lambda cut: scd2_intervals_plain(cut(events, "user_id")),
        lambda cut: scd2_intervals_bucketed(
            cut(events, "user_id"), bucket_sec=bucket_sec
        ),
        hot_keys(events) if hot is None else hot,
    )


def scd2_intervals_plain(events: DataFrame) -> DataFrame:
    """(user_id, event_type, valid_from, valid_to, is_current): per
    user, collapse consecutive repeats of event_type into validity
    intervals [valid_from, valid_to), is_current on the open one. Two
    window passes over ONE user-keyed exchange (the second re-sorts
    within unchanged partitions): LAG-compare change detection, LEAD
    interval close. The unique event_id tie-break makes same-timestamp
    orderings engine-identical."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return starts.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def scd2_intervals_bucketed(
    events: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """The `scd2_intervals_plain` contract without the hot-key window."""
    sec = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731

    # __head flags the bucket head EXPLICITLY via the non-null unique
    # event_id (overloading __chg's NULL would conflate the head with
    # any NULL-typed row or successor-of-NULL). __chg is then the
    # plain shape's start condition (prev IS NULL OR type <> prev) for
    # non-head rows, coalesced so it can never be NULL; __last flags
    # the closing row, again by event_id so a NULL ts cannot misflag
    # it. All three come out of ONE Window operator on one sort.
    def local(w):
        prev_t = F.lag("event_type").over(w)
        return {
            "__head": F.lag("event_id").over(w).isNull(),
            "__chg": (~F.col("__head"))
            & F.coalesce(
                prev_t.isNull() | (F.col("event_type") != prev_t), F.lit(False)
            ),
            "__last": F.lead("event_id").over(w).isNull(),
        }

    # The head is a start under the PLAIN condition applied across the
    # bucket seam: previous closing type IS NULL (which covers both
    # "no previous bucket" and "previous bucket closed on a NULL
    # type" — plain treats both as prev_type IS NULL → start) OR the
    # types differ; a NULL head type after a non-NULL close is NOT a
    # start, exactly as in the plain filter. A bucket's first
    # surviving start then feeds the next start-bearing bucket's
    # close through an ignore-nulls forward FIRST.
    def carry(w):
        prev_last = F.lag("__last_type").over(w)
        return {
            "__head_start": F.coalesce(
                prev_last.isNull() | (F.col("__head_type") != prev_last),
                F.lit(False),
            ),
            "__first_start": F.when(
                F.col("__head_start"), F.col("__head_ts")
            ).otherwise(F.col("__chg_from")),
            "__next_from": F.first("__first_start", ignorenulls=True).over(
                w.rowsBetween(1, Window.unboundedFollowing)
            ),
        }

    # The head and last rows are UNIQUE within a bucket (LAG/LEAD null
    # exactly once), so each conditional aggregate sees one candidate.
    scanned = bucket_scan(
        events.select("user_id", "event_type", "ts", "event_id"),
        "user_id",
        F.floor(sec("ts") / bucket_sec),
        ["ts", "event_id"],
        local,
        [
            F.max(F.when(F.col("__last"), F.col("event_type"))).alias(
                "__last_type"
            ),
            F.min(F.when(F.col("__head"), F.col("ts"))).alias("__head_ts"),
            F.max(F.when(F.col("__head"), F.col("event_type"))).alias(
                "__head_type"
            ),
            F.min(F.when(F.col("__chg"), F.col("ts"))).alias("__chg_from"),
        ],
        carry,
        summarize_local=True,
    )
    # starts = in-bucket changes + surviving heads; close each with the
    # local LEAD, falling back to the next bucket's first start. The
    # final window reuses the (user_id, bucket) partitioning.
    starts = scanned.filter(
        F.when(F.col("__head"), F.col("__head_start")).otherwise(F.col("__chg"))
    )
    w_lb = Window.partitionBy("user_id", "__b").orderBy("ts", "event_id")
    valid_to = F.coalesce(F.lead("ts").over(w_lb), F.col("__next_from"))
    return starts.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )
