"""Bucket-and-stitch sessionizer (functions/sessionize.py): the
two-phase implementation must equal the plain lag+cumsum semantics on
every corpus shape — especially sessions that CROSS bucket boundaries
(single and chained), multi-session buckets, and boundary ties."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from async_event_streams_spark.functions.sessionize import sessionize_bucketed

EPOCH = dt.datetime(2024, 1, 1)


def reference_sessions(rows, gap_sec):
    """Pure-Python twin of the plain lag+cumsum sessionizer."""
    out = {}
    by_user: dict[int, list[tuple[dt.datetime, int]]] = {}
    for uid, eid, ts in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for ts, _eid in evs:
            if prev is None or (ts - prev).total_seconds() > gap_sec:
                sid += 1
            key = (uid, sid)
            n, lo, hi = out.get(key, (0, ts, ts))
            out[key] = (n + 1, min(lo, ts), max(hi, ts))
            prev = ts
    return out


def run_bucketed(spark, rows, gap_sec, bucket_sec):
    df = spark.createDataFrame(
        [(u, e, t) for u, e, t in rows],
        "user_id long, event_id long, ts timestamp",
    )
    got = sessionize_bucketed(df, gap_sec=gap_sec, bucket_sec=bucket_sec)
    return {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in got.collect()
    }


def _ts(sec: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=sec)


def test_session_chains_across_many_buckets(spark):
    # one session of events every 10 min for 5 hours: with hourly
    # buckets that is a merge CHAIN through 5 buckets — the offset
    # telescoping must collapse it to session_id 1
    rows = [(1, i, _ts(i * 600)) for i in range(30)]
    got = run_bucketed(spark, rows, gap_sec=1800, bucket_sec=3600)
    assert got == reference_sessions(rows, 1800)
    assert list(got) == [(1, 1)]


def test_multi_session_buckets_and_boundary_tie(spark):
    rows = [
        (1, 0, _ts(0)),
        (1, 1, _ts(100)),  # session 1
        (1, 2, _ts(3000)),  # gap > 1800 inside bucket 0 -> session 2
        (1, 3, _ts(3599)),  # still session 2, last of bucket 0
        (1, 4, _ts(3600)),  # first of bucket 1, gap 1s -> continues 2
        (1, 5, _ts(3600)),  # tie at boundary (same ts, higher event_id)
        (1, 6, _ts(9000)),  # gap > 1800 -> session 3 (bucket 2)
        (2, 7, _ts(3600)),  # other user entirely independent
    ]
    got = run_bucketed(spark, rows, gap_sec=1800, bucket_sec=3600)
    assert got == reference_sessions(rows, 1800)
    assert {k for k in got if k[0] == 1} == {(1, 1), (1, 2), (1, 3)}


def test_distant_buckets_do_not_merge(spark):
    rows = [(1, 0, _ts(0)), (1, 1, _ts(7 * 3600))]
    got = run_bucketed(spark, rows, gap_sec=1800, bucket_sec=3600)
    assert got == reference_sessions(rows, 1800)
    assert set(got) == {(1, 1), (1, 2)}


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=40_000),  # seconds offset
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([600, 1800, 3600]),  # gap
    st.sampled_from([900, 3600, 86400]),  # bucket
)
@settings(max_examples=12, deadline=None)
def test_bucketed_equals_reference_on_random_timelines(
    spark, events, gap_sec, bucket_sec
):
    rows = [(u, i, _ts(s)) for i, (u, s) in enumerate(events)]
    got = run_bucketed(spark, rows, gap_sec, bucket_sec)
    assert got == reference_sessions(rows, gap_sec)


def test_null_users_and_null_ts_match_plain(spark):
    """NULL user_id rows are their own partition in the plain window
    and a NULL ts makes the time bucket NULL: the stitch join-back is
    null-safe on both keys, so neither kind of row may drop or
    renumber. The contract is bucketed ≡ the plain Spark shape."""
    from async_event_streams_spark.functions.sessionize import sessionize_plain

    rows = [
        # NULL user: one session crossing the 3600 s bucket edge, then
        # a new session
        (None, 0, _ts(3400)),
        (None, 1, _ts(3700)),
        (None, 2, _ts(9000)),
        # user 1: a NULL-ts row (sorts first, NULL bucket) before a
        # session that crosses a bucket edge
        (1, 3, None),
        (1, 4, _ts(3500)),
        (1, 5, _ts(3900)),
        # NULL user AND NULL ts
        (None, 6, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    want = {tuple(r) for r in sessionize_plain(df, gap_sec=1800).collect()}
    got = {
        tuple(r)
        for r in sessionize_bucketed(df, gap_sec=1800, bucket_sec=3600).collect()
    }
    assert len(want) == 5
    assert got == want


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_adaptive_dispatch_picks_plain_on_uniform_keys(spark):
    from async_event_streams_spark.functions.sessionize import sessionize

    rows = [(u, u * 100 + i, _ts(i * 600)) for u in range(1, 11) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = sessionize(df)
    # plain shape: no time-bucket column anywhere in the plan
    assert "__b" not in _plan(out)
    got = {(r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
           for r in out.collect()}
    assert got == reference_sessions([(u, e, t) for u, e, t in rows], 1800)


def test_adaptive_dispatch_picks_bucketed_on_hot_key(spark):
    from async_event_streams_spark.functions.sessionize import sessionize

    # user 1 owns half the corpus -> well past the 10% threshold
    rows = [(1, i, _ts(i * 600)) for i in range(30)] + [
        (u, 100 + u * 10 + i, _ts(i * 600)) for u in range(2, 12) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = sessionize(df)
    assert "__b" in _plan(out)
    got = {(r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
           for r in out.collect()}
    assert got == reference_sessions([(u, e, t) for u, e, t in rows], 1800)


def test_adaptive_dispatch_respects_precomputed_hot_set(spark):
    from async_event_streams_spark.functions.sessionize import sessionize

    rows = [(1, 0, _ts(0)), (2, 1, _ts(0))]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    assert "__b" in _plan(sessionize(df, hot=[1]))
    assert "__b" not in _plan(sessionize(df, hot=[]))


def test_hotsplit_routes_only_hot_users_through_stitch(spark):
    from async_event_streams_spark.functions.sessionize import sessionize

    # user 1 hot (stitch), user 2 cold (plain) — union must equal the
    # plain semantics for both, including a session crossing a bucket
    # edge for the hot user.
    rows = [
        (1, 0, _ts(3400)),
        (1, 1, _ts(3700)),  # same session, crosses the 3600 s bucket edge
        (1, 2, _ts(9000)),  # new session
        (2, 3, _ts(100)),
        (2, 4, _ts(5000)),  # new session for the cold user
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in sessionize(df, hot=[1]).collect()
    }
    assert got == reference_sessions(rows, 1800)
