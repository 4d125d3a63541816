"""M3 streaming semantics: watermarked windows and custom stateful ops
over topic streams must converge to their oracle-checked batch twins;
plus the two-executor determinism analog (SURVEY.md §5.2-3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from async_event_streams_spark.streaming import (
    run_stream_to_memory,
    running_max_by_key,
    sessionize,
    tumbling_counts,
)
from async_event_streams_spark.tables import table
from async_event_streams_spark.topics import Topic, TopicRegistry


@pytest.fixture()
def topic_root(tmp_path):
    return str(tmp_path / "topics")


def _events_sample(spark, sf_dir, n=300):
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < n)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def test_tumbling_stream_converges_to_batch(spark, sf_dir, topic_root):
    """Feed events through a topic; the streaming windowed aggregation's
    final memory-sink state must equal the batch aggregation."""
    src = _events_sample(spark, sf_dir)
    batch_expected = {
        r.window_start: (r.n_events, r.sum_value)
        for r in tumbling_counts(src.drop("event_id", "event_type")).collect()
    }

    t = Topic(
        spark,
        "tumble",
        "orig_id long, user_id long, value double, ev_ts string",
        topic_root,
        TopicRegistry(),
    )
    stream = t.subscribe().select(
        F.col("ev_ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )
    query, tbl = run_stream_to_memory(tumbling_counts(stream), output_mode="update")
    t.attach_query(query)
    try:
        rows = [
            {
                "orig_id": r.event_id,
                "user_id": r.user_id,
                "value": r.value,
                "ev_ts": r.ts.isoformat(),
            }
            for r in src.collect()
        ]
        # publish in two chunks to exercise multi-batch accumulation
        t.post(rows[: len(rows) // 2])
        t.send(rows[len(rows) // 2 :])
        got = {
            r.window_start: (r.n_events, r.sum_value)
            for r in spark.sql(
                "SELECT window_start, n_events, sum_value FROM ("
                "  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start"
                "    ORDER BY n_events DESC) AS rn FROM "
                f" {tbl}) WHERE rn = 1"
            ).collect()
        }
        assert got == batch_expected
    finally:
        t.close()


def test_stateful_running_max_converges_to_batch(spark, sf_dir, topic_root):
    """applyInPandasWithState max-merge over a stream equals the batch
    groupBy(pos).max — the reference's Sink state, streamed."""
    from async_event_streams_spark.queries.reference import (
        fizzbuzz_label,
        fizzbuzz_priority,
    )

    n = 200
    src = (
        _events_sample(spark, sf_dir, n)
        .select(
            (F.col("event_id") % 20).alias("pos"),
            fizzbuzz_priority(F.col("event_id")).alias("priority"),
            fizzbuzz_label(F.col("event_id")).alias("label"),
        )
    )
    batch_expected = {
        r.pos: (r.max_priority, r.max_label)
        for r in src.groupBy("pos")
        .agg(
            F.max("priority").alias("max_priority"),
            F.max_by("label", "priority").alias("max_label"),
        )
        .collect()
    }

    t = Topic(
        spark,
        "maxmerge",
        "pos long, priority int, label string",
        topic_root,
        TopicRegistry(),
    )
    stream = t.subscribe().select("pos", "priority", "label")
    query, tbl = run_stream_to_memory(
        running_max_by_key(stream), output_mode="update"
    )
    t.attach_query(query)
    try:
        rows = [r.asDict() for r in src.collect()]
        t.post(rows[:100])
        t.send(rows[100:])
        got = {
            r.pos: (r.max_priority, r.max_label)
            for r in spark.sql(
                "SELECT pos, max_priority, max_label FROM ("
                "  SELECT *, ROW_NUMBER() OVER (PARTITION BY pos"
                "    ORDER BY max_priority DESC) AS rn FROM "
                f" {tbl}) WHERE rn = 1"
            ).collect()
        }
        assert got == batch_expected
    finally:
        t.close()


@pytest.mark.parametrize(
    "name",
    ["c_agg_basic", "b8_groupby_max", "c_join_equi", "x_dedup_minhash"],
)
def test_determinism_under_repartition(spark, sf_dir, name):
    """Two-executor determinism analog (the reference runs every
    topology on LocalPool AND ThreadPool — tests/fizz_buzz.rs:149-177):
    results must be identical under different physical partitionings."""
    from async_event_streams_spark.queries import QUERIES

    from .oracle_compare import value_hash

    base = QUERIES[name](spark, sf_dir).toPandas()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        repart = QUERIES[name](spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert value_hash(base) == value_hash(repart)


def test_scd2_stream_converges_to_batch(spark, sf_dir, topic_root):
    """The streaming SCD2 pipe's CLOSED intervals must equal the batch
    c_scd2_intervals rows with non-null valid_to on the same events —
    across two waves (cross-batch state carries the open interval over
    the micro-batch boundary)."""
    from async_event_streams_spark.streaming import scd2_intervals_stream

    n = 400
    src = _events_sample(spark, sf_dir, n).select(
        "user_id", "event_type", "ts", "event_id"
    )
    # the registered batch query reads the full events table; the
    # coherence comparison needs its plan applied to exactly the
    # streamed subset
    batch_closed = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to)
        for r in _scd2_batch_on(src).filter(
            F.col("valid_to").isNotNull()
        ).collect()
    }

    # event_type/ts/event_id are envelope-reserved names on the topic
    # layer; carry the payload under neutral names and alias back.
    t = Topic(
        spark,
        "scd2",
        "user_id long, etype string, ets timestamp, eid long",
        topic_root,
        TopicRegistry(),
    )
    stream = t.subscribe().select(
        "user_id",
        F.col("etype").alias("event_type"),
        F.col("ets").alias("ts"),
        F.col("eid").alias("event_id"),
    )
    query, tbl = run_stream_to_memory(
        scd2_intervals_stream(stream), output_mode="append"
    )
    t.attach_query(query)
    try:
        rows = [
            {
                "user_id": r.user_id,
                "etype": r.event_type,
                "ets": r.ts,
                "eid": r.event_id,
            }
            for r in src.orderBy("ts", "event_id").collect()
        ]
        t.post(rows[: n // 2])
        t.send(rows[n // 2 :])
        got = {
            (r.user_id, r.event_type, r.valid_from, r.valid_to)
            for r in spark.sql(f"SELECT * FROM {tbl}").collect()
        }
        assert got == batch_closed
    finally:
        t.close()


def _scd2_batch_on(src):
    """The c_scd2_intervals plan applied to an arbitrary events frame
    (the registered query reads the full table; the coherence test
    needs it over the streamed subset)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (
        src.select(
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
    )


def test_funnel_stream_converges_to_batch(spark, sf_dir, topic_root):
    """The streaming funnel's final per-user stage must equal the
    batch c_funnel_steps step memberships on the same (time-ordered)
    events, across two waves — stage state carries over the
    micro-batch boundary; rows are strictly stage-increasing."""
    from async_event_streams_spark.streaming import funnel_stage_stream

    n = 600
    src = _events_sample(spark, sf_dir, n).select(
        "user_id", "event_type", "ts", "event_id"
    )
    # batch memberships (the c_funnel_steps CTE chain, on this subset)
    s1 = (
        src.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        src.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        src.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    batch_stage = {r.user_id: 1 for r in s1.collect()}
    batch_stage.update({r.user_id: 2 for r in s2.collect()})
    batch_stage.update({r.user_id: 3 for r in s3.collect()})

    t = Topic(
        spark,
        "funnel",
        "user_id long, etype string, ets timestamp, eid long",
        topic_root,
        TopicRegistry(),
    )
    stream = t.subscribe().select(
        "user_id",
        F.col("etype").alias("event_type"),
        F.col("ets").alias("ts"),
        F.col("eid").alias("event_id"),
    )
    query, tbl = run_stream_to_memory(
        funnel_stage_stream(stream), output_mode="append"
    )
    t.attach_query(query)
    try:
        rows = [
            {
                "user_id": r.user_id,
                "etype": r.event_type,
                "ets": r.ts,
                "eid": r.event_id,
            }
            for r in src.orderBy("ts", "event_id").collect()
        ]
        t.post(rows[: n // 2])
        t.send(rows[n // 2 :])
        got_rows = spark.sql(f"SELECT * FROM {tbl}").collect()
        per_user = {}
        for r in got_rows:
            per_user.setdefault(r.user_id, []).append(r.stage)
        got_stage = {}
        for u, stages in per_user.items():
            assert stages == sorted(set(stages)), (u, stages)  # strict
            got_stage[u] = max(stages)
        assert got_stage == batch_stage
    finally:
        t.close()


def test_sessionize_across_batches(spark, tmp_path):
    """sessionize: completed sessions emit exactly when an event-time
    gap closes them, with the open session held in state across
    micro-batches."""
    t = Topic(
        spark,
        "sess2",
        "user_id long, ts_sec double, value double",
        str(tmp_path / "topics"),
        TopicRegistry(),
    )
    stream = t.subscribe().select("user_id", "ts_sec", "value")
    query, tbl = run_stream_to_memory(
        sessionize(stream, gap_seconds=60.0), output_mode="append"
    )
    t.attach_query(query)
    try:
        # batch 1: two events 10s apart (one open session)
        t.send([
            {"user_id": 1, "ts_sec": 1000.0, "value": 1.0},
            {"user_id": 1, "ts_sec": 1010.0, "value": 2.0},
        ])
        assert spark.sql(f"SELECT * FROM {tbl}").count() == 0  # still open

        # batch 2: event 100s later -> closes session #1 (across batches!)
        t.send([{"user_id": 1, "ts_sec": 1110.0, "value": 4.0}])
        rows = spark.sql(f"SELECT * FROM {tbl}").collect()
        assert len(rows) == 1
        s = rows[0]
        assert (s.user_id, s.session_start, s.n_events, s.total) == (1, 1000.0, 2, 3.0)

        # batch 3: two users interleaved; user 1 closes again, user 2 stays open
        t.send([
            {"user_id": 1, "ts_sec": 1300.0, "value": 8.0},
            {"user_id": 2, "ts_sec": 1300.0, "value": 16.0},
        ])
        rows = {(r.user_id, r.session_start): (r.n_events, r.total)
                for r in spark.sql(f"SELECT * FROM {tbl}").collect()}
        assert rows == {(1, 1000.0): (2, 3.0), (1, 1110.0): (1, 4.0)}
    finally:
        t.close()
