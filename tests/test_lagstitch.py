"""Bucket-and-stitch per-user LAG (functions/lagstitch.py): the
segmented implementation must equal the plain one-window LAG on every
corpus shape — bucket heads taking their predecessor from an earlier
(possibly non-adjacent) bucket, NULL values crossing bucket edges,
and single-event users."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from async_event_streams_spark.functions.lagstitch import (
    lag_prev,
    lag_prev_bucketed,
)


def reference_lag(rows):
    """Pure-Python twin of the plain per-user LAG over event_id."""
    by_user: dict[int, list[tuple[int, float | None]]] = {}
    for uid, eid, v in rows:
        by_user.setdefault(uid, []).append((eid, v))
    out = {}
    for uid, evs in by_user.items():
        evs.sort()
        prev = None
        for eid, v in evs:
            out[eid] = (uid, v, prev)
            prev = v
    return out


def run_bucketed(spark, rows, bucket_rows):
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, value double"
    )
    got = lag_prev_bucketed(df, bucket_rows=bucket_rows)
    return {r.event_id: (r.user_id, r.value, r.prev_value) for r in got.collect()}


def test_head_takes_previous_bucket_last(spark):
    rows = [(1, 0, 1.0), (1, 1, 2.0), (1, 10, 3.0), (1, 11, 4.0)]
    got = run_bucketed(spark, rows, bucket_rows=10)
    assert got == reference_lag(rows)
    assert got[10] == (1, 3.0, 2.0)  # head of bucket 1 sees bucket 0's last


def test_carry_skips_empty_buckets(spark):
    rows = [(1, 0, 1.0), (1, 95, 2.0)]  # buckets 0 and 9, 1..8 empty
    got = run_bucketed(spark, rows, bucket_rows=10)
    assert got == reference_lag(rows)
    assert got[95] == (1, 2.0, 1.0)


def test_null_values_cross_bucket_edges(spark):
    rows = [(1, 9, None), (1, 10, 5.0), (1, 19, None), (1, 20, None)]
    got = run_bucketed(spark, rows, bucket_rows=10)
    assert got == reference_lag(rows)
    assert got[10] == (1, 5.0, None)  # previous bucket closed with NULL
    assert got[20] == (1, None, None)


def test_null_user_rows_survive_and_match_plain(spark):
    """r8 (r7 advice): the carry join-back is null-safe on user_id, so
    NULL-key rows come out of the bucketed shape exactly as the plain
    window treats them — one shared NULL partition."""
    from async_event_streams_spark.functions.lagstitch import lag_prev_plain

    rows = [(None, 1, 1.0), (None, 12, 2.0), (None, 23, 3.0), (5, 2, 9.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    key = lambda r: (r.event_id, r.user_id, r.value, r.prev_value)  # noqa: E731
    want = {key(r) for r in lag_prev_plain(df).collect()}
    got = {key(r) for r in lag_prev_bucketed(df, bucket_rows=10).collect()}
    assert got == want
    assert (12, None, 2.0, 1.0) in got  # cross-bucket carry for NULL user


def test_single_event_users_and_first_rows_null(spark):
    rows = [(1, 7, 1.5), (2, 13, 2.5), (3, 21, 3.5)]
    got = run_bucketed(spark, rows, bucket_rows=10)
    assert got == reference_lag(rows)
    assert all(got[e][2] is None for e in (7, 13, 21))


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 4),  # user
            st.one_of(st.none(), st.integers(-5, 5)),  # value (or NULL)
        ),
        min_size=1,
        max_size=30,
    ),
    bucket_rows=st.sampled_from([1, 4, 16, 1000]),
)
def test_bucketed_equals_reference_on_random_rows(spark, rows, bucket_rows):
    data = [
        (u, i, None if v is None else float(v)) for i, (u, v) in enumerate(rows)
    ]
    got = run_bucketed(spark, data, bucket_rows=bucket_rows)
    ref = reference_lag(data)
    assert set(got) == set(ref)
    for eid in got:
        gu, gv, gp = got[eid]
        ru, rv, rp = ref[eid]
        assert gu == ru
        for a, b in ((gv, rv), (gp, rp)):
            assert (a is None and b is None) or math.isclose(a, b)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_adaptive_dispatch_picks_plain_on_uniform_keys(spark):
    rows = [(u, u * 10 + i, float(i)) for u in range(1, 11) for i in range(3)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    out = lag_prev(df)
    assert "__b" not in _plan(out)
    got = {r.event_id: (r.user_id, r.value, r.prev_value) for r in out.collect()}
    assert got == reference_lag(rows)


def test_adaptive_dispatch_picks_bucketed_on_hot_key(spark):
    rows = [(1, i, float(i)) for i in range(30)] + [
        (u, 100 + u, 0.5) for u in range(2, 8)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    out = lag_prev(df, bucket_rows=8)
    assert "__b" in _plan(out)
    got = {r.event_id: (r.user_id, r.value, r.prev_value) for r in out.collect()}
    assert got == reference_lag(rows)


def test_adaptive_dispatch_respects_precomputed_hot_set(spark):
    df = spark.createDataFrame(
        [(1, 0, 1.0), (2, 1, 2.0)], "user_id long, event_id long, value double"
    )
    assert "__b" in _plan(lag_prev(df, hot=[1]))
    assert "__b" not in _plan(lag_prev(df, hot=[]))


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 4),
            st.one_of(st.none(), st.integers(-5, 5)),
        ),
        min_size=1,
        max_size=25,
    ),
    hot=st.sets(st.integers(1, 4), max_size=3),
    bucket_rows=st.sampled_from([4, 1000]),
)
def test_hotsplit_equals_reference_for_any_hot_set(spark, rows, hot, bucket_rows):
    data = [
        (u, i, None if v is None else float(v)) for i, (u, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "user_id long, event_id long, value double")
    out = lag_prev(df, hot=sorted(hot), bucket_rows=bucket_rows)
    got = {r.event_id: (r.user_id, r.value, r.prev_value) for r in out.collect()}
    ref = reference_lag(data)
    assert set(got) == set(ref)
    for eid in got:
        gu, gv, gp = got[eid]
        ru, rv, rp = ref[eid]
        assert gu == ru
        for a, b in ((gv, rv), (gp, rp)):
            assert (a is None and b is None) or math.isclose(a, b)
