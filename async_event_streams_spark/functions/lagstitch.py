"""Skew-resistant windowed LAG: bucket-and-stitch.

The plain per-user LAG (`lag_prev_plain`, the body of `c_window_lag`)
rides one user-keyed exchange — optimal on uniform keys, but the r7
adversarial-skew lane measured it degrading 1.9–2.3x when one user
owns 30% of the event log: LAG needs its partition sorted, so the hot
user's whole history serializes through one task, and AQE cannot
split a window partition. Bounded today, but the same family as the
pre-mitigation sessionize/SCD2 exposures.

`lag_prev_bucketed` runs the shared bucket-and-stitch scan
(functions/skew.py) as the simplest stitch of the family — a
segmented LAG:

1. LOCAL. Bucket the ORDER key (here event_id, the plain query's sort
   key) into fixed ranges so no window partition ever holds more than
   one (user, bucket) of data; a local LAG answers every row except
   each bucket's head.
2. HEAD STITCH. A bucket head's predecessor is the closing row of the
   user's previous NON-EMPTY bucket. The per-(user, bucket) summary
   carries each bucket's closing value — max(struct(order_key, value)),
   safe even for NULL values because the unique non-null order key
   decides the comparison — and a plain LAG over the user-keyed
   summary window (consecutive summary rows ARE consecutive non-empty
   buckets) yields every bucket's carry-in. The user's first bucket
   gets a NULL carry-in, matching the plain LAG's NULL first row.

The summary is aggregated straight from the slim input projection
(not the window output): it needs no window flags, so a map-side-
combined partial aggregation reduces the corpus to one row per
(user, bucket) before its tiny shuffle.

Differential discipline: `c_window_lag_bucketed`
(queries/relational.py) checks THIS implementation against the SAME
plain-LAG oracle SQL that checks `c_window_lag`, plus boundary unit
tests in tests/test_lagstitch.py (head-of-bucket rows, empty buckets
between a user's rows, NULL values crossing bucket edges,
single-event users) and a hypothesis property against a pure-Python
reference.

`lag_prev` is the adaptive entry point (`skew.hot_split`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .skew import bucket_scan, hot_keys, hot_split

DEFAULT_BUCKET_ROWS = 65536


def lag_prev(
    events: DataFrame,
    bucket_rows: int = DEFAULT_BUCKET_ROWS,
    hot: list | None = None,
) -> DataFrame:
    """Adaptive entry point: hot users' rows through bucket-and-stitch,
    everyone else through the plain single-exchange LAG. Pass a
    precomputed `hot` list to skip the probe pass ([] forces plain)."""
    return hot_split(
        lambda cut: lag_prev_plain(cut(events, "user_id")),
        lambda cut: lag_prev_bucketed(
            cut(events, "user_id"), bucket_rows=bucket_rows
        ),
        hot_keys(events) if hot is None else hot,
    )


def lag_prev_plain(events: DataFrame) -> DataFrame:
    """(event_id, user_id, value, prev_value): the previous value per
    user by event_id, one user-keyed window."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return events.select(
        "event_id", "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )


def lag_prev_bucketed(
    events: DataFrame, bucket_rows: int = DEFAULT_BUCKET_ROWS
) -> DataFrame:
    """The `lag_prev_plain` contract without the hot-key window."""
    # The summary is each NON-EMPTY bucket's closing value; the unique
    # non-null event_id decides the struct comparison, so NULL values
    # ride along unharmed. event_id is the grid key, never NULL, so the
    # join-back compares __b plainly.
    scanned = bucket_scan(
        events.select("event_id", "user_id", "value"),
        "user_id",
        F.floor(F.col("event_id") / bucket_rows),
        ["event_id"],
        lambda w: {
            "__prev_loc": F.lag("value").over(w),
            "__head": F.lag("event_id").over(w).isNull(),
        },
        [F.max(F.struct("event_id", "value")).alias("__last_row")],
        lambda w: {"__carry": F.lag("__last_row").over(w).getField("value")},
        null_safe_bucket=False,
    )
    return scanned.select(
        "event_id",
        "user_id",
        "value",
        F.when(F.col("__head"), F.col("__carry"))
        .otherwise(F.col("__prev_loc"))
        .alias("prev_value"),
    )
