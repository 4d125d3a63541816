"""PartitionedTopic conformance: the Kafka-style scale path keeps the
reference's per-key guarantees (FIFO per key, barrier, lineage) while
sharding the log N ways. The reference's single FIFO is the
num_partitions=1 special case; these tests pin what the sharded form
must still honor (SURVEY.md §8-H5 — bounded, parallelizable transport).
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from async_event_streams_spark.topics import (
    PartitionedTopic,
    Topic,
    TopicRegistry,
    pipe,
)


@pytest.fixture()
def topic_root(tmp_path):
    return str(tmp_path / "topics")


def test_per_key_fifo_and_routing(spark, topic_root):
    """All events for one key land in one partition, in publish order;
    keys spread across partitions."""
    t = PartitionedTopic(
        spark, "pt_fifo", "k string, seq long", topic_root, key_col="k",
        num_partitions=4, registry=TopicRegistry(),
    )
    keys = [f"key-{i}" for i in range(16)]
    t.post([{"k": k, "seq": s} for s in range(5) for k in keys])
    rows = t.batch_df().select("partition", "event_id", "k", "seq").collect()

    by_key: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.partition, r.event_id)):
        by_key.setdefault(r.k, []).append(r)
    assert len(rows) == 80
    used = set()
    for k, evs in by_key.items():
        parts = {r.partition for r in evs}
        assert len(parts) == 1, f"key {k} split across partitions {parts}"
        assert parts == {t.partition_for(k)}
        assert [r.seq for r in evs] == [0, 1, 2, 3, 4], f"key {k} out of order"
        used |= parts
    assert len(used) > 1, "all keys routed to one partition"


def test_concurrent_producers_keep_per_key_order(spark, topic_root):
    """Producers on different threads: per-key sequences stay monotonic
    because a key's events all serialize through one partition lock."""
    t = PartitionedTopic(
        spark, "pt_conc", "k string, seq long", topic_root, key_col="k",
        num_partitions=4, registry=TopicRegistry(),
    )

    def produce(worker: int) -> None:
        for s in range(10):
            t.post([{"k": f"w{worker}", "seq": s}])

    threads = [threading.Thread(target=produce, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    rows = t.batch_df().select("partition", "event_id", "k", "seq").collect()
    assert len(rows) == 80
    by_key: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.partition, r.event_id)):
        by_key.setdefault(r.k, []).append(r.seq)
    for k, seqs in by_key.items():
        assert seqs == list(range(10)), f"{k}: {seqs}"


def test_send_barrier_and_pipe_to_plain_topic(spark, topic_root):
    """A pipe consumes the unioned partition stream; send() returns only
    after the subscriber processed every partition's events, and lineage
    (source_event_id) survives the fan-in."""
    reg = TopicRegistry()
    src = PartitionedTopic(
        spark, "pt_src", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=reg,
    )
    dst = Topic(spark, "pt_dst", "k string, n long, partition int", topic_root, reg)
    h = pipe(
        src,
        fn=lambda df: df.select("source_event_id", "k", "n", "partition"),
        target=dst,
        name="pt-pipe",
    )
    try:
        src.send([{"k": f"k{i}", "n": i} for i in range(12)], barrier="chain")
        got = dst.batch_df().select("k", "n", "partition", "source_event_id").collect()
        assert sorted(r.n for r in got) == list(range(12))
        for r in got:
            assert r.partition == src.partition_for(r.k)
            assert r.source_event_id is not None
    finally:
        h.stop()
        src.close()
        dst.close()


def test_post_df_routing_matches_post(spark, topic_root):
    """Executor-side crc32 routing (post_df) agrees with driver-side
    zlib routing (post) — same key, same partition, either path."""
    t = PartitionedTopic(
        spark, "pt_bulk", "k string, n long", topic_root, key_col="k",
        num_partitions=4, registry=TopicRegistry(),
    )
    df = spark.range(40).select(
        F.concat(F.lit("key-"), (F.col("id") % 10).cast("string")).alias("k"),
        F.col("id").alias("n"),
    )
    t.post_df(df)
    rows = t.batch_df().select("partition", "k").collect()
    assert len(rows) == 40
    for r in rows:
        assert r.partition == t.partition_for(r.k)


def test_bool_key_routes_identically_both_paths(spark, topic_root):
    """post() (Python str) and post_df() (Spark cast-as-string) must
    agree on boolean keys: Python renders True, Spark renders true —
    the router normalizes to Spark's form."""
    t = PartitionedTopic(
        spark, "pt_bool", "flag boolean, n long", topic_root, key_col="flag",
        num_partitions=4, registry=TopicRegistry(),
    )
    t.post([{"flag": True, "n": 0}, {"flag": False, "n": 1}])
    df = spark.createDataFrame(
        [(True, 2), (False, 3)], "flag boolean, n long"
    )
    t.post_df(df)
    rows = t.batch_df().select("partition", "flag").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.flag, set()).add(r.partition)
    assert all(len(parts) == 1 for parts in by_key.values()), by_key


def test_float_key_col_rejected_at_construction(spark, topic_root):
    """Float/decimal/timestamp keys render differently in Python str vs
    Spark cast-as-string, which would silently break per-key FIFO —
    rejected up front."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pre-cast"):
        PartitionedTopic(
            spark, "pt_float", "score double, n long", topic_root,
            key_col="score", num_partitions=4, registry=TopicRegistry(),
        )


def test_replay_header_visible_on_every_partition(spark, topic_root):
    """Transactional post writes the txn header to all partitions (even
    ones with no rows that batch), so last_txn() replay detection can't
    miss a committed batch."""
    t = PartitionedTopic(
        spark, "pt_txn", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    one_key = "only"  # routes to exactly one partition
    t.post([{"k": one_key, "n": 1}], txn="p:7")
    for p in t.partitions:
        assert p.last_txn("p") == 7
    assert t.last_txn("p") == 7
    # header-only partitions still recover ids correctly after restart
    lucky = t.partition_for(one_key)
    for i, p in enumerate(t.partitions):
        assert p._recover_next_id() == (1 if i == lucky else 0)


def test_pipe_per_partition_parallel_drain(spark, topic_root):
    """Consumer-group shape: N independent pipes (one per partition)
    drain into one destination. Every event arrives once, lineage
    intact, and a key's events stay in publish order at the destination
    (they ride one partition's pipe; destination ids assign serially)."""
    reg = TopicRegistry()
    src = PartitionedTopic(
        spark, "cg_src", "k string, seq long", topic_root, key_col="k",
        num_partitions=3, registry=reg,
    )
    dst = Topic(spark, "cg_dst", "k string, seq long", topic_root, reg)
    handles = src.pipe_per_partition(
        fn=lambda df: df.select("source_event_id", "k", "seq"), target=dst,
    )
    try:
        assert len(handles) == 3 and src.count() == 3
        for s in range(4):
            src.post([{"k": f"k{i}", "seq": s} for i in range(9)])
        src.barrier(chain=True)
        rows = sorted(dst.batch_df().collect(), key=lambda r: r.event_id)
        assert len(rows) == 36
        by_key: dict[str, list] = {}
        for r in rows:
            assert r.source_event_id is not None
            by_key.setdefault(r.k, []).append(r.seq)
        for k, seqs in by_key.items():
            assert seqs == [0, 1, 2, 3], f"{k}: {seqs}"
    finally:
        for h in handles:
            h.stop()
        src.close()
        dst.close()


def test_clear_and_earliest_replay(spark, topic_root):
    """clear() drops pending events on every partition; a later
    earliest-replay subscription (batch_df reads the same retained
    range) sees only post-clear events — the reference's clear semantics
    (src/event_streams.rs:75-77) extended shard-wise."""
    t = PartitionedTopic(
        spark, "pt_clear", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    t.post([{"k": f"k{i}", "n": i} for i in range(9)])
    t.clear()
    t.post([{"k": f"k{i}", "n": 100 + i} for i in range(9)])
    kept = sorted(r.n for r in t.batch_df().collect())
    assert kept == [100 + i for i in range(9)]


def test_single_partition_degenerates_to_plain_topic(spark, topic_root):
    """num_partitions=1 is the reference's totally-ordered FIFO."""
    t = PartitionedTopic(
        spark, "pt_one", "k string, n long", topic_root, key_col="k",
        num_partitions=1, registry=TopicRegistry(),
    )
    t.post([{"k": f"k{i}", "n": i} for i in range(6)])
    rows = sorted(t.batch_df().collect(), key=lambda r: r.event_id)
    assert [r.n for r in rows] == list(range(6))
    assert {r.partition for r in rows} == {0}


def test_consumer_group_drain_restart_exactly_once(spark, topic_root):
    """The r3 default drain (one pipe per partition) must keep the
    exactly-once guarantee across a stop/restart: per-partition
    checkpoints + per-partition txn lines resume where they left off —
    every event reaches the destination exactly once, per-key order
    preserved."""
    reg = TopicRegistry()
    src = PartitionedTopic(
        spark, "cgr_src", "k string, seq long", topic_root, key_col="k",
        num_partitions=3, registry=reg,
    )
    dst = Topic(spark, "cgr_dst", "k string, seq long", topic_root, reg)
    h = pipe(src, target=dst, name="cgr-pipe")
    try:
        for s in range(3):
            src.post([{"k": f"k{i}", "seq": s} for i in range(6)])
        src.barrier(chain=True)
        h.stop()
        # events published while no consumer is running
        for s in range(3, 5):
            src.post([{"k": f"k{i}", "seq": s} for i in range(6)])
        h = pipe(src, target=dst, name="cgr-pipe")  # same name -> resume
        src.barrier(chain=True)
        rows = sorted(dst.batch_df().collect(), key=lambda r: r.event_id)
        assert len(rows) == 30  # 5 waves x 6 keys, no loss, no dups
        by_key: dict[str, list] = {}
        for r in rows:
            by_key.setdefault(r.k, []).append(r.seq)
        for k, seqs in by_key.items():
            assert seqs == [0, 1, 2, 3, 4], f"{k}: {seqs}"
    finally:
        h.stop()
        src.close()
        dst.close()


def test_send_async_partitioned_sent_event(spark, topic_root):
    """send_async on a sharded topic: the returned handle's done() turns
    true only after every partition's subscribers drained, and wait()
    blocks for the same condition (A10 shard-wise). Zero subscribers ->
    immediately done, like the reference."""
    import time as _time

    t = PartitionedTopic(
        spark, "pt_async", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    try:
        ev = t.send_async([{"k": f"k{i}", "n": i} for i in range(9)])
        assert ev.done()  # no subscribers: resolves immediately

        seen = []
        pipe(t, sink_fn=lambda df, b: seen.append(df.count()), name="pt-async-sub")
        ev = t.send_async([{"k": f"k{i}", "n": 100 + i} for i in range(9)])
        ev.wait()
        assert ev.done()
        deadline = _time.time() + 10
        while sum(seen) < 9 and _time.time() < deadline:
            _time.sleep(0.05)
        assert sum(seen) == 9
    finally:
        t.close()


def test_post_df_txn_headers_cover_empty_partitions(spark, topic_root):
    """Bulk publish with a txn: partitions whose key range got no rows
    this batch still record a header-only segment, so last_txn() replay
    detection holds regardless of routing (same contract as post());
    the single partitionBy write job routes the rest executor-side."""
    t = PartitionedTopic(
        spark, "pt_bulktxn", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    # keys 'a','b' route to partitions 0 and 2; partition 1 gets nothing
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "k string, n long"
    )
    ids = t.post_df(df, txn="bulk:5")
    assert set(ids) == {0, 2}
    for p in t.partitions:
        assert p.last_txn("bulk") == 5  # header visible everywhere
    assert t.last_txn("bulk") == 5
    rows = t.batch_df().select("partition", "k", "n").collect()
    assert len(rows) == 3
    for r in rows:
        assert r.partition == t.partition_for(r.k)
    # a pipe replaying batch 5 would now skip the publish
    assert t.last_txn("bulk") >= 5


def test_post_df_txn_partial_replay_completes(spark, topic_root):
    """ADVICE r4 (medium): a crash between post_df's per-partition
    registrations leaves the txn committed on some partitions only.
    last_txn() must NOT report the batch as done (MIN semantics), and a
    replayed post_df must complete the stragglers without re-publishing
    the already-committed partition."""
    t = PartitionedTopic(
        spark, "pt_partial", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    rows = [{"k": f"key-{i}", "n": i} for i in range(12)]
    shards: dict[int, list] = {}
    for r in rows:
        shards.setdefault(t.partition_for(r["k"]), []).append(r)
    assert len(shards) > 1, "fixture must span partitions"
    # simulate the pre-crash attempt: exactly one partition registered
    lucky = min(shards)
    t.partitions[lucky].post(shards[lucky], txn="bulk:9")
    assert t.last_txn("bulk") == -1  # not done: stragglers missing

    # restart: a fresh instance (no in-memory txn memo) replays batch 9
    t2 = PartitionedTopic(
        spark, "pt_partial", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    df = spark.createDataFrame([(r["k"], r["n"]) for r in rows], "k string, n long")
    out = t2.post_df(df, txn="bulk:9")
    assert lucky not in out  # committed partition skipped, not duplicated
    assert t2.last_txn("bulk") == 9  # batch now complete everywhere
    got = sorted((r.k, r.n) for r in t2.batch_df().select("k", "n").collect())
    assert got == sorted((f"key-{i}", i) for i in range(12))  # no dup/loss


def test_post_txn_inprocess_retry_after_partition_failure(spark, topic_root):
    """ADVICE r5 (medium): when ONE partition's append raises mid-post,
    the sibling partitions that DID commit to disk must be marked in
    the in-memory txn memo before the exception propagates — otherwise
    an in-process retry of the same txn (same topic instance, memo
    already populated from the pre-failure disk scan) re-publishes to
    committed partitions and duplicates events."""
    t = PartitionedTopic(
        spark, "pt_inproc", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    rows = [{"k": f"key-{i}", "n": i} for i in range(12)]
    shards: dict[int, list] = {}
    for r in rows:
        shards.setdefault(t.partition_for(r["k"]), []).append(r)
    assert len(shards) == 3, "fixture must span all partitions"
    # Warm the in-memory memo for this prefix (the bug needs the cache
    # populated BEFORE the failed attempt, so the retry consults stale
    # memory instead of disk).
    assert t.last_txn("w") == -1
    t._replayed_partitions("w:1")

    victim = max(shards)
    real_post = t.partitions[victim].post

    def failing_post(*a, **kw):
        raise RuntimeError("injected partition failure")

    t.partitions[victim].post = failing_post
    try:
        with pytest.raises(RuntimeError, match="injected"):
            t.post(rows, txn="w:1")
    finally:
        t.partitions[victim].post = real_post
    # the survivors committed to disk; the retry must skip them
    t.post(rows, txn="w:1")
    assert t.last_txn("w") == 1
    got = sorted(r.n for r in t.batch_df().select("n").collect())
    assert got == list(range(12))  # no duplicates, no loss


def test_post_txn_partial_replay_completes(spark, topic_root):
    """Same crash-mid-publish contract for the driver-side post() path:
    the replay publishes only to partitions that have not committed the
    txn yet."""
    t = PartitionedTopic(
        spark, "pt_partial2", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    rows = [{"k": f"key-{i}", "n": i} for i in range(9)]
    shards: dict[int, list] = {}
    for r in rows:
        shards.setdefault(t.partition_for(r["k"]), []).append(r)
    lucky = min(shards)
    t.partitions[lucky].post(shards[lucky], txn="w:3")

    t2 = PartitionedTopic(
        spark, "pt_partial2", "k string, n long", topic_root, key_col="k",
        num_partitions=3, registry=TopicRegistry(),
    )
    t2.post(rows, txn="w:3")  # the replay
    assert t2.last_txn("w") == 3
    got = sorted(r.n for r in t2.batch_df().select("n").collect())
    assert got == list(range(9))


def test_null_key_routes_identically_both_paths(spark, topic_root):
    """One null-key contract for both publish paths (ADVICE r4): post()
    routes None by str(None); post_df coalesces the null cast-as-string
    to "None" — every null-key row lands in the same partition's FIFO
    instead of erroring after a partial registration."""
    t = PartitionedTopic(
        spark, "pt_null", "k string, n long", topic_root, key_col="k",
        num_partitions=4, registry=TopicRegistry(),
    )
    t.post([{"k": None, "n": 0}])
    df = spark.createDataFrame([(None, 1), ("a", 2)], "k string, n long")
    t.post_df(df)
    rows = t.batch_df().select("partition", "k", "n").collect()
    assert len(rows) == 3
    assert {r.partition for r in rows if r.k is None} == {t.partition_for(None)}


def test_default_drain_name_resumes_exactly_once(spark, topic_root):
    """ADVICE r4: the default (unnamed) consumer-group drain is
    restart-STABLE — same checkpoints, same txn lines — so exactly-once
    across a stop/restart holds without callers inventing a name. A
    second drain started while the first is live still gets a fresh
    (collision-avoiding) name."""
    reg = TopicRegistry()
    src = PartitionedTopic(
        spark, "dn_src", "k string, seq long", topic_root, key_col="k",
        num_partitions=2, registry=reg,
    )
    dst = Topic(spark, "dn_dst", "k string, seq long", topic_root, reg)
    h = pipe(src, target=dst)  # default name
    try:
        src.post([{"k": f"k{i}", "seq": 0} for i in range(4)])
        src.barrier(chain=True)
        h.stop()
        # events published while no consumer runs
        src.post([{"k": f"k{i}", "seq": 1} for i in range(4)])
        h = pipe(src, target=dst)  # default name again -> resumes
        src.barrier(chain=True)
        rows = dst.batch_df().select("k", "seq").collect()
        assert len(rows) == 8  # exactly once across the restart
        # live collision: a concurrent second drain gets a fresh name
        h2 = pipe(src, target=dst)
        try:
            assert {p.name for p in h2} != {p.name for p in h}
        finally:
            h2.stop()
    finally:
        h.stop()
        src.close()
        dst.close()


def test_post_rejects_lineage_length_mismatch(spark, topic_root):
    """A source_event_ids list shorter or longer than the rows raises
    ValueError and publishes nothing to any partition (a short list
    used to drop the unpaired rows silently)."""
    t = PartitionedTopic(
        spark, "pt_lineage", "k string, v long", topic_root, key_col="k",
        num_partitions=4, registry=TopicRegistry(),
    )
    rows = [{"k": f"key-{n}", "v": n} for n in range(4)]
    for ids in ([10, 11], [10, 11, 12, 13, 14]):
        with pytest.raises(ValueError, match="source_event_ids"):
            t.post(rows, source_event_ids=ids)
    assert t.batch_df().count() == 0
    t.post(rows, source_event_ids=[10, 11, 12, 13])
    got = t.batch_df().select("v", "source_event_id").collect()
    assert sorted((r.v, r.source_event_id) for r in got) == [
        (0, 10), (1, 11), (2, 12), (3, 13)
    ]
