"""Streaming conformance tests for the topic/pipe layer — the runtime
checks SURVEY.md §5.2 maps from the reference's semantic probes:

- B2  fan-out: every subscriber sees every event
- B9  barrier: send() returns only after subscribers processed the event
- B10 causality: pipes auto-thread source_event_id lineage
- B11 end-of-stream: close() drains then stops subscribers
- B12 subscriber count introspection
- fizzbuzz pipe topology: streaming accumulated output == batch answer
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from async_event_streams_spark.topics import Topic, TopicRegistry, pipe, sink


@pytest.fixture()
def registry():
    return TopicRegistry()


@pytest.fixture()
def topic_root(tmp_path):
    return str(tmp_path / "topics")


def collecting_sink():
    seen: list[dict] = []

    def fn(df, batch_id):
        seen.extend(r.asDict() for r in df.collect())

    return fn, seen


def test_fanout_every_subscriber_sees_every_event(spark, topic_root, registry):
    t = Topic(spark, "fanout", "v long", topic_root, registry)
    sinks = []
    for i in range(3):
        fn, seen = collecting_sink()
        pipe(t, sink_fn=fn, name=f"sub{i}")
        sinks.append(seen)
    try:
        t.post([{"v": n} for n in range(10)])
        t.barrier()
        for seen in sinks:
            assert sorted(r["v"] for r in seen) == list(range(10))
    finally:
        t.close()


def test_send_barrier_blocks_until_processed(spark, topic_root, registry):
    t = Topic(spark, "barrier", "v long", topic_root, registry)
    fn, seen = collecting_sink()
    pipe(t, sink_fn=fn, name="slowsub")
    try:
        # B9: when send() returns, the subscriber must already have the
        # event — no sleeping/polling needed, that's the guarantee.
        for n in range(5):
            t.send([{"v": n}])
            assert n in {r["v"] for r in seen}, f"event {n} not processed at send-return"
    finally:
        t.close()


def test_send_async_deferred_barrier(spark, topic_root, registry):
    """A10: publish returns a SentEvent; wait() resolves the barrier
    later; done() polls subscriber progress without blocking."""
    t = Topic(spark, "sentev", "v long", topic_root, registry)
    fn, seen = collecting_sink()
    pipe(t, sink_fn=fn, name="sesub")
    try:
        handle = t.send_async([{"v": 7}])
        assert (handle.first_id, handle.last_id) == (0, 0)
        handle.wait()
        assert [r["v"] for r in seen] == [7]
        assert handle.done()  # after wait, everything is consumed
    finally:
        t.close()


def test_sent_event_done_with_zero_subscribers(spark, topic_root, registry):
    t = Topic(spark, "sentev0", "v long", topic_root, registry)
    handle = t.send_async([{"v": 1}])
    assert handle.done()  # no subscribers -> resolves immediately
    handle.wait()  # and wait() is a no-op


def test_send_with_zero_subscribers_returns_immediately(spark, topic_root, registry):
    t = Topic(spark, "nosubs", "v long", topic_root, registry)
    first, last = t.send([{"v": 1}, {"v": 2}])
    assert (first, last) == (0, 1)


def test_subscribe_sees_only_future_events(spark, topic_root, registry):
    t = Topic(spark, "latest", "v long", topic_root, registry)
    t.post([{"v": 0}, {"v": 1}])  # before subscribe — invisible
    fn, seen = collecting_sink()
    pipe(t, sink_fn=fn, name="late")
    try:
        t.send([{"v": 2}])
        assert [r["v"] for r in seen] == [2]
    finally:
        t.close()


def test_subscriber_count_introspection(spark, topic_root, registry):
    t = Topic(spark, "count", "v long", topic_root, registry)
    assert t.count() == 0
    h1 = pipe(t, sink_fn=lambda df, b: None, name="c1")
    h2 = pipe(t, sink_fn=lambda df, b: None, name="c2")
    assert t.count() == 2
    h1.stop()
    assert t.count() == 1
    h2.stop()
    assert t.count() == 0


def test_close_drains_then_stops(spark, topic_root, registry):
    t = Topic(spark, "eos", "v long", topic_root, registry)
    fn, seen = collecting_sink()
    pipe(t, sink_fn=fn, name="drainer")
    t.post([{"v": n} for n in range(20)])
    t.close(drain=True)
    assert sorted(r["v"] for r in seen) == list(range(20))
    assert t.count() == 0


def test_clear_drops_pending_events(spark, topic_root, registry):
    t = Topic(spark, "clr", "v long", topic_root, registry)
    t.post([{"v": 0}])
    t.clear()  # pending (no subscriber consumed it) -> dropped
    fn, seen = collecting_sink()
    pipe(t, sink_fn=fn, name="postclear", subscribe_from="earliest")
    try:
        t.send([{"v": 1}])
        assert [r["v"] for r in seen] == [1]
    finally:
        t.close()


def test_pipe_lineage_and_chain_barrier(spark, topic_root, registry):
    """B10: a pipe's re-emitted events carry source_event_id; the chain
    barrier covers the downstream cascade."""
    src = Topic(spark, "src", "v long", topic_root, registry)
    derived = Topic(spark, "derived", "label string", topic_root, registry)
    pipe(
        src,
        fn=lambda df: df.select(
            "source_event_id",
            F.when(F.col("v") % 2 == 0, "even").otherwise("odd").alias("label"),
        ),
        target=derived,
        name="labeler",
    )
    fn, seen = collecting_sink()
    pipe(derived, sink_fn=fn, name="collector")
    try:
        first, last = src.send([{"v": n} for n in range(6)], barrier="chain")
        # chain barrier returned -> downstream collector already has all 6
        assert len(seen) == 6
        by_src = {r["source_event_id"]: r["label"] for r in seen}
        assert by_src == {n: ("even" if n % 2 == 0 else "odd") for n in range(6)}
    finally:
        src.close()
        derived.close()


def test_fizzbuzz_stream_equals_batch(spark, topic_root, registry):
    """The reference's fizz_buzz_sink topology (generator -> classify
    pipe -> sink), streamed; accumulated output must equal the batch
    CASE-classification of the same inputs."""
    from async_event_streams_spark.queries.reference import fizzbuzz_label

    nums = Topic(spark, "nums", "n long", topic_root, registry)
    labels = Topic(spark, "labels", "n long, label string", topic_root, registry)
    pipe(
        nums,
        fn=lambda df: df.select(
            "source_event_id", "n", fizzbuzz_label(F.col("n")).alias("label")
        ),
        target=labels,
        name="classify",
    )
    fn, seen = collecting_sink()
    pipe(labels, sink_fn=fn, name="validate")
    try:
        nums.send([{"n": n} for n in range(100)], barrier="chain")
        assert len(seen) == 100
        expected = {
            n: (
                "fizzbuzz"
                if n % 15 == 0
                else "buzz" if n % 5 == 0 else "fizz" if n % 3 == 0 else "number"
            )
            for n in range(100)
        }
        assert {r["n"]: r["label"] for r in seen} == expected
        # positional validation like the reference's Sink::validate
        ordered = sorted(seen, key=lambda r: r["n"])
        assert [r["n"] for r in ordered] == list(range(100))
    finally:
        nums.close()
        labels.close()


def test_sink_decorator_multi_topic(spark, topic_root, registry):
    """A16: one sink function subscribed to several topics."""
    t1 = Topic(spark, "m1", "v long", topic_root, registry)
    t2 = Topic(spark, "m2", "v long", topic_root, registry)
    seen: list[tuple] = []

    @sink(t1, t2, name="multi")
    def collect(df, batch_id):
        seen.extend((r["event_type"], r["v"]) for r in df.collect())

    try:
        t1.send([{"v": 1}], event_type="a")
        t2.send([{"v": 2}], event_type="b")
        assert ("a", 1) in seen and ("b", 2) in seen
    finally:
        t1.close()
        t2.close()


def test_pipe_error_handler(spark, topic_root, registry):
    errors: list[Exception] = []
    t = Topic(spark, "err", "v long", topic_root, registry)

    def bad_sink(df, batch_id):
        if any(r["v"] == 13 for r in df.collect()):
            raise ValueError("unlucky")

    h = pipe(t, sink_fn=bad_sink, name="failing", error_handler=errors.append)
    try:
        t.post([{"v": 13}])
        import time

        for _ in range(100):
            if errors and not h.is_active:
                break
            time.sleep(0.1)
        assert errors and "unlucky" in str(errors[0])
        assert not h.is_active  # first error terminates the pipe (A14)
    finally:
        t.close()


def test_concurrent_producers_get_unique_ids(spark, topic_root, registry):
    """EventStreams is shared across producer tasks in the reference
    (Arc-wrapped); concurrent post() calls must serialize id assignment."""
    import threading

    t = Topic(spark, "conc", "v long", topic_root, registry)
    errors = []

    def producer(base: int):
        try:
            for i in range(25):
                t.post([{"v": base + i}])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=producer, args=(k * 100,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    rows = t.batch_df().collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == 100
    assert sorted(ids) == list(range(100))  # no gaps, no duplicates


def test_parse_end_offset_handles_all_renderings():
    """done() must not depend on one Spark version's offset formatting:
    dict, JSON string, Python-literal string, and garbage all parse (or
    safely fail) without raising."""
    from async_event_streams_spark.topics.topic import _parse_end_offset

    def prog(end):
        return {"sources": [{"endOffset": end}]}

    assert _parse_end_offset(prog({"segment": 3})) == {"segment": 3}
    assert _parse_end_offset(prog('{"segment": 3}')) == {"segment": 3}
    assert _parse_end_offset(prog("{'segment': 3}")) == {"segment": 3}
    assert _parse_end_offset(prog("not an offset")) is None
    assert _parse_end_offset(prog(None)) is None
    assert _parse_end_offset(prog("[1, 2]")) is None
    assert _parse_end_offset({"sources": []}) is None
    assert _parse_end_offset({}) is None


def test_batch_df_roundtrip(spark, topic_root, registry):
    t = Topic(spark, "roundtrip", "v long, s string", topic_root, registry)
    t.post([{"v": 1, "s": "x"}, {"v": 2, "s": "y"}], event_type="tp")
    df = t.batch_df()
    rows = sorted(df.collect(), key=lambda r: r.event_id)
    assert [r.v for r in rows] == [1, 2]
    assert [r.s for r in rows] == ["x", "y"]
    assert all(r.event_type == "tp" for r in rows)
    assert rows[0].ts is not None


def test_per_event_fidelity_mode_one_segment_per_batch(
    spark, topic_root, registry
):
    """SURVEY §8-H1 conformance lane: with max_segments_per_batch=1
    every micro-batch admits exactly ONE published segment, so barrier
    and ordering granularity match the reference's per-event
    send_event — three pre-queued posts drain as three distinct
    batches, each carrying one event, in publish order."""
    t = Topic(spark, "pe", "n long", topic_root, registry)
    batches: list[list[int]] = []
    pipe(
        t,
        sink_fn=lambda df, b: batches.append(
            [r.n for r in df.select("n").collect()]
        ),
        name="pe-sub",
        max_segments_per_batch=1,
    )
    try:
        for i in range(3):
            t.post([{"n": i}])  # queued BEFORE the drain catches up
        t.barrier()
        nonempty = [b for b in batches if b]
        assert nonempty == [[0], [1], [2]]
    finally:
        t.close()


def test_post_rejects_lineage_length_mismatch(spark, topic_root, registry):
    """source_event_ids must pair one id with each row: too few or too
    many raise ValueError and publish nothing; a matching list lands
    one id per row."""
    t = Topic(spark, "lineage_len", "v long", topic_root, registry)
    rows = [{"v": n} for n in range(4)]
    for ids in ([10, 11], [10, 11, 12, 13, 14]):
        with pytest.raises(ValueError, match="source_event_ids"):
            t.post(rows, source_event_ids=ids)
    assert t.batch_df().count() == 0
    t.post(rows, source_event_ids=[10, 11, 12, 13])
    got = t.batch_df().select("v", "source_event_id").collect()
    assert sorted((r.v, r.source_event_id) for r in got) == [
        (0, 10), (1, 11), (2, 12), (3, 13)
    ]
