"""Streaming as-of join (streaming/asof.py): stream == batch-twin ==
registered c_join_asof, pinned from both ends —

1. the batch twin over the full merged timeline reproduces the
   registered oracle-checked query row-for-row;
2. the stateful stream equals the batch twin over all rows sent so
   far, wave by wave;
3. a mid-stream restart on a durable sink + checkpoint resumes the
   per-key (watermark, last-order) state exactly — the first
   post-restart event's as-of key depends on a pre-restart order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from async_event_streams_spark.queries import QUERIES
from async_event_streams_spark.streaming import (
    asof_batch_twin,
    asof_stream,
    merged_timeline,
)
from async_event_streams_spark.tables import table
from async_event_streams_spark.topics import Topic, TopicRegistry

_PAYLOAD = "user_id long, t long, is_event long, sid long, eid long, okey long"


def _merged(spark, sf_dir):
    return merged_timeline(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "orders")
    )


def test_batch_twin_equals_registered_query(spark, sf_dir):
    cols = ["event_id", "user_id", "asof_orderkey"]
    want = {
        tuple(r)
        for r in QUERIES["c_join_asof"](spark, sf_dir).select(cols).collect()
    }
    got = {
        tuple(r)
        for r in asof_batch_twin(_merged(spark, sf_dir)).select(cols).collect()
    }
    assert got == want


def _waves(spark, sf_dir, k=3, n=400):
    """First n merged-timeline rows in per-key order, split into k
    waves along the global (t, is_event, sid) order so every key's
    sequence is ordered across waves (the topic FIFO contract)."""
    rows = (
        _merged(spark, sf_dir)
        .orderBy("t", "is_event", "sid")
        .limit(n)
        .collect()
    )
    step = (len(rows) + k - 1) // k
    return [
        [
            {
                "user_id": r.user_id,
                "t": r.t,
                "is_event": r.is_event,
                "sid": r.sid,
                "eid": r.eid,
                "okey": r.okey,
            }
            for r in rows[i : i + step]
        ]
        for i in range(0, len(rows), step)
    ]


def _sofar_df(spark, sofar):
    return spark.createDataFrame(
        [
            (r["user_id"], r["t"], r["is_event"], r["sid"], r["eid"], r["okey"])
            for r in sofar
        ],
        _PAYLOAD,
    )


def test_asof_stream_equals_batch_wave_by_wave(spark, sf_dir, tmp_path):
    from async_event_streams_spark.streaming import run_stream_to_memory

    reg = TopicRegistry()
    t = Topic(spark, "asof_waves", _PAYLOAD, str(tmp_path / "t"), reg)
    query, tbl = run_stream_to_memory(
        asof_stream(t.subscribe()), output_mode="append"
    )
    t.attach_query(query)
    try:
        sofar = []
        for wave in _waves(spark, sf_dir):
            t.send(wave)
            sofar += wave
            emitted = {
                tuple(r) for r in spark.sql(f"SELECT * FROM {tbl}").collect()
            }
            want = {
                tuple(r)
                for r in asof_batch_twin(_sofar_df(spark, sofar)).collect()
            }
            assert emitted == want
    finally:
        t.close()


def test_asof_stream_restart_resumes_state(spark, sf_dir, tmp_path):
    reg = TopicRegistry()
    t = Topic(spark, "asof_rs", _PAYLOAD, str(tmp_path / "t"), reg)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        q = (
            asof_stream(t.subscribe())
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        t.attach_query(q)
        return q

    waves = _waves(spark, sf_dir)
    q1 = start()
    t.send(waves[0])
    q1.processAllAvailable()
    q1.stop()
    # rows keep arriving while the query is down
    sofar = list(waves[0]) + list(waves[1])
    t.post(waves[1])
    q2 = start()
    for wave in waves[2:]:
        t.send(wave)
        sofar += wave
    q2.processAllAvailable()
    q2.stop()
    emitted = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {
        tuple(r) for r in asof_batch_twin(_sofar_df(spark, sofar)).collect()
    }
    assert emitted == want
    t.close()


def test_merged_timeline_subsecond_micros(spark):
    """Sub-second NTZ order timestamps must keep their fractional part
    in the timeline key (r12 ADVICE: F.second truncated to the second,
    which could reorder a sub-second order against event rows)."""
    from pyspark.sql import functions as F

    from async_event_streams_spark.streaming.asof import merged_timeline

    orders = spark.createDataFrame(
        [(1, 7)], "o_orderkey long, o_custkey long"
    ).withColumn(
        "o_orderdate",
        F.lit("2024-03-05 12:34:56.789123").cast("timestamp_ntz"),
    )
    events = spark.createDataFrame(
        [(7, 1)], "user_id long, event_id long"
    ).withColumn(
        "ts", F.lit("2024-03-05 12:34:56.5").cast("timestamp_ntz")
    )
    rows = {
        r["is_event"]: r["t"]
        for r in merged_timeline(events, orders).collect()
    }
    # absolute expectation, independent of session tz (NTZ wall clock)
    expected_order = (
        spark.range(1)
        .select(
            (
                F.unix_date(F.lit("2024-03-05").cast("date")).cast("long")
                * 86_400_000_000
                + (12 * 3600 + 34 * 60) * 1_000_000
                + 56_789_123
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    assert rows[0] == expected_order
    assert rows[0] % 1_000_000 == 789_123
    assert rows[1] % 1_000_000 == 500_000
    assert rows[1] < rows[0]  # event at .5s sorts before order at .789s
