"""Bucket-and-stitch as-of join (functions/asof.py): the segmented
running-last implementation must equal the plain union+window
semantics on every corpus shape — especially events whose latest
prior order lives in an EARLIER bucket (possibly with order-free
buckets between), same-timestamp ties, and events before any order."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from async_event_streams_spark.functions.asof import (
    asof_orderkey,
    asof_orderkey_bucketed,
)

EPOCH = dt.datetime(2024, 1, 1)


def _ts(sec: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=sec)


def reference_asof(events, orders):
    """Pure-Python twin: latest order with t <= ts, tie to larger key."""
    by_user: dict[int, list[tuple[dt.datetime, int]]] = {}
    for uid, okey, t in orders:
        by_user.setdefault(uid, []).append((t, okey))
    for lst in by_user.values():
        lst.sort()
    out = {}
    for uid, eid, ts in events:
        best = None
        for t, okey in by_user.get(uid, []):
            if t <= ts:
                best = okey  # sorted ascending: last match wins the tie
        out[eid] = (uid, best)
    return out


def run_bucketed(spark, events, orders, bucket_sec):
    e = spark.createDataFrame(
        [(u, i, t) for u, i, t in events],
        "user_id long, event_id long, ts timestamp",
    )
    o = spark.createDataFrame(
        [(u, k, t) for u, k, t in orders],
        "o_custkey long, o_orderkey long, o_orderdate timestamp",
    )
    got = asof_orderkey_bucketed(e, o, bucket_sec=bucket_sec)
    return {r.event_id: (r.user_id, r.asof_orderkey) for r in got.collect()}


def test_carry_across_order_free_buckets(spark):
    # Order in bucket 0, events in buckets 5 and 9 — the carry-in must
    # skip the empty buckets in between.
    events = [(1, 10, _ts(5 * 3600 + 10)), (1, 11, _ts(9 * 3600 + 30))]
    orders = [(1, 100, _ts(30))]
    got = run_bucketed(spark, events, orders, bucket_sec=3600)
    assert got == reference_asof(events, orders)
    assert got[10] == (1, 100) and got[11] == (1, 100)


def test_event_before_any_order_is_null(spark):
    events = [(1, 10, _ts(0)), (1, 11, _ts(7200))]
    orders = [(1, 100, _ts(3600))]
    got = run_bucketed(spark, events, orders, bucket_sec=600)
    assert got == reference_asof(events, orders)
    assert got[10] == (1, None) and got[11] == (1, 100)


def test_order_exactly_at_bucket_edge_and_equal_ts(spark):
    # Order lands exactly on a bucket boundary; a same-timestamp event
    # must still see it (<= semantics), from within the same bucket.
    events = [(1, 10, _ts(3600)), (1, 11, _ts(3599))]
    orders = [(1, 100, _ts(3600))]
    got = run_bucketed(spark, events, orders, bucket_sec=3600)
    assert got == reference_asof(events, orders)
    assert got[10] == (1, 100) and got[11] == (1, None)


def test_equal_time_orders_tie_to_larger_key(spark):
    events = [(1, 10, _ts(50)), (1, 11, _ts(7200))]
    orders = [(1, 100, _ts(50)), (1, 200, _ts(50))]
    got = run_bucketed(spark, events, orders, bucket_sec=3600)
    assert got[10] == (1, 200) and got[11] == (1, 200)
    assert got == reference_asof(events, orders)


def test_later_orders_do_not_leak_backward(spark):
    events = [(1, 10, _ts(100))]
    orders = [(1, 100, _ts(50)), (1, 200, _ts(7200))]
    got = run_bucketed(spark, events, orders, bucket_sec=3600)
    assert got[10] == (1, 100)


def test_null_user_rows_survive_and_match_plain(spark):
    """r8 (r7 advice): the stitch join-back is null-safe, so NULL-key
    rows come out of the bucketed shape exactly as the plain window
    treats them — one shared NULL partition where NULL-custkey orders
    answer NULL-user events."""
    from async_event_streams_spark.functions.asof import asof_orderkey_plain

    e = spark.createDataFrame(
        [(None, 1, _ts(100)), (None, 2, _ts(7300)), (7, 3, _ts(100))],
        "user_id long, event_id long, ts timestamp",
    )
    o = spark.createDataFrame(
        [(None, 500, _ts(50)), (7, 600, _ts(7200))],
        "o_custkey long, o_orderkey long, o_orderdate timestamp",
    )
    key = lambda r: (r.event_id, r.user_id, r.asof_orderkey)  # noqa: E731
    want = {key(r) for r in asof_orderkey_plain(e, o).collect()}
    got = {
        key(r) for r in asof_orderkey_bucketed(e, o, bucket_sec=3600).collect()
    }
    assert got == want
    # and concretely: the NULL-user events see the NULL-custkey order
    assert {(1, None, 500), (2, None, 500), (3, 7, None)} == got


@settings(max_examples=25, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 4),  # user
            st.integers(0, 20000),  # ts offset sec
        ),
        min_size=1,
        max_size=25,
    ),
    orders=st.lists(
        st.tuples(
            st.integers(1, 4),
            st.integers(100, 120),  # order key (dups across users fine)
            st.integers(0, 20000),
        ),
        max_size=25,
    ),
    bucket_sec=st.sampled_from([600, 3600, 50000]),
)
def test_bucketed_equals_reference_on_random_timelines(
    spark, events, orders, bucket_sec
):
    evs = [(u, i, _ts(s)) for i, (u, s) in enumerate(events)]
    ords = [(u, k, _ts(s)) for u, k, s in orders]
    got = run_bucketed(spark, evs, ords, bucket_sec=bucket_sec)
    assert got == reference_asof(evs, ords)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _frames(spark, events, orders):
    e = spark.createDataFrame(
        events, "user_id long, event_id long, ts timestamp"
    )
    o = spark.createDataFrame(
        orders, "o_custkey long, o_orderkey long, o_orderdate timestamp"
    )
    return e, o


def test_adaptive_dispatch_picks_plain_on_uniform_keys(spark):
    events = [(u, u * 10 + i, _ts(i * 60)) for u in range(1, 11) for i in range(3)]
    orders = [(u, 100 + u, _ts(30)) for u in range(1, 11)]
    e, o = _frames(spark, events, orders)
    out = asof_orderkey(e, o)
    assert "__b" not in _plan(out)
    got = {r.event_id: (r.user_id, r.asof_orderkey) for r in out.collect()}
    assert got == reference_asof(events, orders)


def test_adaptive_dispatch_picks_bucketed_on_hot_key(spark):
    events = [(1, i, _ts(i * 60)) for i in range(30)] + [
        (u, 100 + u, _ts(60)) for u in range(2, 8)
    ]
    orders = [(1, 500, _ts(0)), (3, 600, _ts(0))]
    e, o = _frames(spark, events, orders)
    out = asof_orderkey(e, o)
    assert "__b" in _plan(out)
    got = {r.event_id: (r.user_id, r.asof_orderkey) for r in out.collect()}
    assert got == reference_asof(events, orders)


def test_adaptive_dispatch_sees_orders_side_skew(spark):
    """r8 (r7 advice): the probe runs over the UNION of both sides'
    keys — a customer hot on the ORDERS side alone (uniform events)
    still serializes the plain window's merged timeline, so it must
    route through the stitch."""
    events = [(u, u, _ts(60)) for u in range(1, 21)]  # 1 event each
    orders = [(1, 100 + i, _ts(i)) for i in range(30)]  # user 1 hot
    e, o = _frames(spark, events, orders)
    out = asof_orderkey(e, o)
    assert "__b" in _plan(out)
    got = {r.event_id: (r.user_id, r.asof_orderkey) for r in out.collect()}
    assert got == reference_asof(events, orders)


def test_adaptive_dispatch_respects_precomputed_hot_set(spark):
    e, o = _frames(spark, [(1, 0, _ts(0))], [(1, 9, _ts(0))])
    assert "__b" in _plan(asof_orderkey(e, o, hot=[1]))
    assert "__b" not in _plan(asof_orderkey(e, o, hot=[]))


def test_hotsplit_routes_cold_keys_through_plain_only(spark):
    # Only user 1 is hot: user 2's answer must come from the plain
    # branch, user 1's from the stitch — and the union must be exact.
    events = [(1, 10, _ts(5000)), (2, 20, _ts(5000)), (2, 21, _ts(10))]
    orders = [(1, 100, _ts(50)), (2, 200, _ts(40)), (2, 300, _ts(6000))]
    e, o = _frames(spark, events, orders)
    out = asof_orderkey(e, o, hot=[1], bucket_sec=600)
    got = {r.event_id: (r.user_id, r.asof_orderkey) for r in out.collect()}
    assert got == reference_asof(events, orders)


@settings(max_examples=15, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 20000)),
        min_size=1,
        max_size=20,
    ),
    orders=st.lists(
        st.tuples(st.integers(1, 4), st.integers(100, 120), st.integers(0, 20000)),
        max_size=20,
    ),
    hot=st.sets(st.integers(1, 4), max_size=3),
)
def test_hotsplit_equals_reference_for_any_hot_set(spark, events, orders, hot):
    evs = [(u, i, _ts(s)) for i, (u, s) in enumerate(events)]
    ords = [(u, k, _ts(s)) for u, k, s in orders]
    e, o = _frames(spark, evs, ords)
    out = asof_orderkey(e, o, hot=sorted(hot), bucket_sec=3600)
    got = {r.event_id: (r.user_id, r.asof_orderkey) for r in out.collect()}
    assert got == reference_asof(evs, ords)
