"""Skew-resistant as-of join: bucket-and-stitch.

The plain as-of join (`asof_orderkey_plain`, the body of
`c_join_asof`) is the union + last-non-null-window technique: tag
events and orders, union, and carry the most recent order key forward
within each user's timeline. ONE user-keyed exchange, no row explosion — the right
default — but the r7 adversarial-skew lane measured it degrading
1.7–2.2x when one user owns 30% of the event log: that user's whole
merged timeline (events AND orders) serializes through one task's
sort, and AQE cannot split a window partition. Bounded, but the same
family as the pre-mitigation sessionize/SCD2 exposures, and it only
widens with executor count.

`asof_orderkey_bucketed` runs the shared bucket-and-stitch scan
(functions/skew.py): split the merged timeline into fixed time
buckets so no window partition ever holds more than one
(user, bucket) of data, then reconcile bucket boundaries through ONE
per-bucket summary. The as-of stitch is the easiest of the three —
a segmented running last-non-null:

1. LOCAL. Within a (user, bucket), the running last order key over
   the merged ordering (t, is_event, o_key) is exactly the plain
   window, restricted to the bucket. Events whose latest prior order
   lives in the same bucket are fully answered here.
2. CARRY-IN. A bucket's events whose local running-last is NULL need
   the latest order from any EARLIER bucket. The per-(user, bucket)
   summary holds the bucket's closing order — max(struct(t, o_key))
   over the bucket's order rows, matching the plain tie-break
   (latest t, then largest key) — and an ignore-nulls backward LAST
   over the user-keyed summary window yields every bucket's carry-in,
   skipping order-free buckets for free. `coalesce(local, carry_in)`
   is then the plain answer.

The summary is aggregated straight from the slim tagged union (NOT
from the window output): unlike SCD2's stitch it needs no window
flags, so a map-side-combined partial aggregation reduces the corpus
to one row per (user, bucket) before its (tiny) shuffle — cheaper
than recomputing the corpus-sized local sort a second time.

Differential discipline: `c_join_asof_bucketed` (queries/
relational.py) checks THIS implementation against the SAME
correlated-subquery oracle SQL that checks `c_join_asof`, plus
boundary unit tests in tests/test_asof.py (order exactly at a bucket
edge, events before any order, same-timestamp ties, order-free
buckets between orders) and a hypothesis property against a
pure-Python reference.

`asof_orderkey` is the adaptive entry point (`skew.hot_split`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .skew import bucket_scan, hot_keys, hot_split

DEFAULT_BUCKET_SEC = 3600


def asof_orderkey(
    events: DataFrame,
    orders: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
    hot: list | None = None,
) -> DataFrame:
    """Adaptive entry point: hot users' events and orders through
    bucket-and-stitch, everyone else through the plain window. Pass a
    precomputed `hot` list to skip the probe pass ([] forces plain).

    The probe measures key share over the UNION of both sides' keys
    (events-only missed a customer hot on the orders side): the plain
    window sorts the MERGED per-user timeline, so a key's serialized
    work is its share of events + orders combined."""
    if hot is None:
        hot = hot_keys(
            events.select(F.col("user_id").alias("k")).unionByName(
                orders.select(F.col("o_custkey").alias("k"))
            ),
            "k",
        )
    return hot_split(
        lambda cut: asof_orderkey_plain(
            cut(events, "user_id"), cut(orders, "o_custkey")
        ),
        lambda cut: asof_orderkey_bucketed(
            cut(events, "user_id"), cut(orders, "o_custkey"), bucket_sec=bucket_sec
        ),
        hot,
    )


def _tagged_union(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Merge both sides onto one (k, t) timeline. Orders sort before
    events at the same timestamp (<= semantics); among equal-time
    orders the larger key sorts last, so a running last() picks it."""
    e = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_key"),
    )
    o = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("o_key"),
    )
    return e.unionByName(o)


def asof_orderkey_plain(events: DataFrame, orders: DataFrame) -> DataFrame:
    """(event_id, user_id, asof_orderkey): each event ⋈ the latest
    prior order of the same user, ties (equal o_orderdate) to the
    larger o_orderkey. Tag both sides, union, and carry the most recent
    order key forward within each user's timeline: ONE shuffle on the
    join key, no row explosion, no range cross-product."""
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "o_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = _tagged_union(events, orders).withColumn(
        "asof_orderkey", F.last("o_key", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("user_id"), "asof_orderkey"
    )


def asof_orderkey_bucketed(
    events: DataFrame,
    orders: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """The `asof_orderkey_plain` contract without the hot-key window."""
    # The summary is each bucket's closing order under the plain
    # tie-break, straight from the slim union: event rows contribute
    # the grid key only (their o_key is NULL, so max skips them).
    scanned = bucket_scan(
        _tagged_union(events, orders),
        "k",
        F.floor(F.col("t").cast("timestamp").cast("long") / bucket_sec),
        ["t", "is_event", "o_key"],
        lambda w: {
            "__loc": F.last("o_key", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        },
        [
            F.max(
                F.when(
                    F.col("o_key").isNotNull(), F.struct(F.col("t"), F.col("o_key"))
                )
            ).alias("__last_ord")
        ],
        lambda w: {
            "__carry": F.last("__last_ord", ignorenulls=True)
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .getField("o_key")
        },
    )
    return scanned.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.coalesce("__loc", "__carry").alias("asof_orderkey"),
    )
