"""util.artifact memo discipline: build-once/hit-after, LRU bound,
explicit clear, and the event log bench.py uses to attribute warm-memo
timings (round-2 advice: eviction + visibility for the artifact cache)."""

from __future__ import annotations

from async_event_streams_spark import util
from async_event_streams_spark.util import (
    artifact,
    clear_artifacts,
    drain_artifact_events,
)


def _builds_counter(spark, key, calls):
    def build():
        calls.append(key)
        return spark.range(3).toDF("n")

    return build


def test_artifact_builds_once_then_hits(spark):
    clear_artifacts(spark)
    drain_artifact_events()
    calls: list[str] = []
    a1 = artifact(spark, "t:k1", _builds_counter(spark, "t:k1", calls))
    a2 = artifact(spark, "t:k1", _builds_counter(spark, "t:k1", calls))
    assert calls == ["t:k1"]  # second call is a memo hit
    assert a1 is a2
    assert drain_artifact_events() == [("t:k1", "build"), ("t:k1", "hit")]
    assert drain_artifact_events() == []  # drained


def test_artifact_lru_bound_evicts_oldest(spark, monkeypatch):
    clear_artifacts(spark)
    monkeypatch.setattr(util, "MAX_ARTIFACTS_PER_SESSION", 2)
    calls: list[str] = []
    for k in ("t:a", "t:b", "t:c"):
        artifact(spark, k, _builds_counter(spark, k, calls))
    # t:a (oldest) was evicted when t:c arrived -> re-access rebuilds;
    # t:c (recent) is still a hit
    artifact(spark, "t:c", _builds_counter(spark, "t:c", calls))
    artifact(spark, "t:a", _builds_counter(spark, "t:a", calls))
    assert calls == ["t:a", "t:b", "t:c", "t:a"]


def test_artifact_hit_refreshes_lru_position(spark, monkeypatch):
    clear_artifacts(spark)
    monkeypatch.setattr(util, "MAX_ARTIFACTS_PER_SESSION", 2)
    calls: list[str] = []
    artifact(spark, "t:a", _builds_counter(spark, "t:a", calls))
    artifact(spark, "t:b", _builds_counter(spark, "t:b", calls))
    artifact(spark, "t:a", _builds_counter(spark, "t:a", calls))  # touch a
    artifact(spark, "t:c", _builds_counter(spark, "t:c", calls))  # evicts b
    artifact(spark, "t:a", _builds_counter(spark, "t:a", calls))  # still hit
    assert calls == ["t:a", "t:b", "t:c"]


def test_clear_artifacts_releases_session_entries(spark):
    clear_artifacts(spark)
    calls: list[str] = []
    artifact(spark, "t:x", _builds_counter(spark, "t:x", calls))
    assert clear_artifacts(spark) >= 1
    artifact(spark, "t:x", _builds_counter(spark, "t:x", calls))
    assert calls == ["t:x", "t:x"]  # rebuilt after clear


# ---------------------------------------------------------------------------
# Crash-recoverable compaction swap (streaming/state.py, r8)
# ---------------------------------------------------------------------------


def _write_state(spark, d, batch, rows):
    import os

    spark.createDataFrame(rows, "k string, v long").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, f"batch={batch}"))


def _snapshot(spark, d):
    from pyspark.sql import functions as F

    from async_event_streams_spark.streaming.state import state_dirs

    dirs = state_dirs(d)
    df = spark.read.parquet(*dirs)
    return {
        (r.k, r.v)
        for r in df.groupBy("k").agg(F.sum("v").cast("long").alias("v")).collect()
    }


def test_compaction_swap_recovers_from_crash_points(spark, tmp_path):
    """Simulate every crash point of the swap_compacted protocol and
    assert recover_compaction restores a state whose snapshot equals
    the pre-crash answer: (a) crash mid-write (.inprogress left, the
    sources untouched) -> discarded; (b) crash after the ready rename
    but before source removal -> completed without double-counting;
    (c) crash after source removal but before the final rename ->
    completed."""
    import os
    import shutil

    from async_event_streams_spark.streaming.state import (
        recover_compaction,
        state_dirs,
        swap_compacted,
    )

    rows0 = [("a", 1), ("b", 2)]
    rows1 = [("a", 10), ("c", 3)]
    want = {("a", 11), ("b", 2), ("c", 3)}

    def fresh(d):
        d = str(d)
        os.makedirs(d, exist_ok=True)
        _write_state(spark, d, 0, rows0)
        _write_state(spark, d, 1, rows1)
        assert _snapshot(spark, d) == want
        return d

    # (a) incomplete write: an .inprogress dir without the manifest's
    # rename — recovery discards it, sources intact
    d = fresh(tmp_path / "a")
    os.makedirs(os.path.join(d, ".compact-0.inprogress"))
    msg = recover_compaction(d)
    assert msg and "discarded" in msg
    assert _snapshot(spark, d) == want and len(state_dirs(d)) == 2

    # build a real ready dir by running the protocol up to the rename
    def make_ready(d):
        dirs = state_dirs(d)

        def write_tmp(tmp):
            import json

            from pyspark.sql import functions as F

            merged = (
                spark.read.parquet(*dirs)
                .groupBy("k")
                .agg(F.sum("v").cast("long").alias("v"))
            )
            merged.write.mode("overwrite").parquet(tmp)

        # replicate steps 1-2 of swap_compacted only
        import json

        inprog = os.path.join(d, ".compact-0.inprogress")
        write_tmp(inprog)
        with open(os.path.join(inprog, "_sources.json"), "w") as f:
            json.dump([os.path.basename(x) for x in dirs], f)
        os.rename(inprog, os.path.join(d, ".compact-0.ready"))

    # (b) ready exists, sources still present (crash before step 3)
    d = fresh(tmp_path / "b")
    make_ready(d)
    msg = recover_compaction(d)
    assert msg and "completed" in msg
    assert _snapshot(spark, d) == want and len(state_dirs(d)) == 1

    # (c) ready exists, sources already gone (crash before step 4)
    d = fresh(tmp_path / "c")
    make_ready(d)
    for x in state_dirs(d):
        shutil.rmtree(x)
    msg = recover_compaction(d)
    assert msg and "completed" in msg
    assert _snapshot(spark, d) == want and len(state_dirs(d)) == 1

    # the happy path itself still folds correctly end-to-end
    d = fresh(tmp_path / "e")
    dirs = state_dirs(d)

    def write_tmp(tmp):
        from pyspark.sql import functions as F

        (
            spark.read.parquet(*dirs)
            .groupBy("k")
            .agg(F.sum("v").cast("long").alias("v"))
            .write.mode("overwrite")
            .parquet(tmp)
        )

    swap_compacted(d, dirs, write_tmp)
    assert recover_compaction(d) is None
    assert _snapshot(spark, d) == want and len(state_dirs(d)) == 1


def test_swap_compacted_completes_leftover_ready_instead_of_discarding(
    spark, tmp_path
):
    """The direct-caller hazard (ADVICE r8): a crash that already
    removed some source dirs leaves a .ready that is the ONLY complete
    copy of the merged state. A direct compact_state/swap_compacted
    call that did not run recover_compaction first must complete that
    swap, not rmtree it and re-merge only the survivors."""
    import os
    import json
    import shutil

    from pyspark.sql import functions as F

    from async_event_streams_spark.streaming.state import (
        state_dirs,
        swap_compacted,
    )

    rows0 = [("a", 1), ("b", 2)]
    rows1 = [("a", 10), ("c", 3)]
    want = {("a", 11), ("b", 2), ("c", 3)}
    d = str(tmp_path / "direct")
    os.makedirs(d)
    _write_state(spark, d, 0, rows0)
    _write_state(spark, d, 1, rows1)
    dirs = state_dirs(d)

    # build the ready dir (steps 1-2), then simulate the crash mid
    # step 3: batch=0 already dropped, batch=1 survives
    inprog = os.path.join(d, ".compact-0.inprogress")
    (
        spark.read.parquet(*dirs)
        .groupBy("k")
        .agg(F.sum("v").cast("long").alias("v"))
        .write.mode("overwrite")
        .parquet(inprog)
    )
    with open(os.path.join(inprog, "_sources.json"), "w") as f:
        json.dump([os.path.basename(x) for x in dirs], f)
    os.rename(inprog, os.path.join(d, ".compact-0.ready"))
    shutil.rmtree(dirs[0])

    # the stale dirs list a naive direct caller would pass: only the
    # surviving source — pre-fix this lost ("a",1)+("b",2) silently
    def write_tmp(tmp):
        (
            spark.read.parquet(dirs[1])
            .groupBy("k")
            .agg(F.sum("v").cast("long").alias("v"))
            .write.mode("overwrite")
            .parquet(tmp)
        )

    swap_compacted(d, [dirs[1]], write_tmp)
    assert _snapshot(spark, d) == want


def test_hot_key_profile_is_pinned_across_adaptive_lanes(spark, sf_dir):
    """r9 VERDICT #4: the adaptive lanes must together pay ONE probe
    pass per (table, key) per session — the events.user_id profile
    builds once and every later adaptive query is a memo hit (and the
    as-of UNION axis is its own separate artifact). Dispatch cannot
    change answers (oracle-pinned elsewhere); this pins the COST
    property."""
    from async_event_streams_spark.functions.skew import (
        hot_key_profile,
    )
    from async_event_streams_spark.queries import QUERIES

    clear_artifacts(spark)
    drain_artifact_events()
    for name in ("c_ewma_adaptive", "c_anomaly_adaptive",
                 "c_sessionize_adaptive", "c_window_lag_adaptive"):
        QUERIES[name](spark, sf_dir).count()
    ev = [e for e in drain_artifact_events() if e[0].startswith("hotkeys:")]
    builds = [k for k, kind in ev if kind == "build"]
    assert len(builds) == 1, ev  # one probe pass for the whole family
    # one profile fetch per query (c_anomaly_adaptive fetches once
    # and feeds BOTH its dispatches): 1 build + 3 hits
    assert [kind for _, kind in ev] == ["build", "hit", "hit", "hit"], ev
    # the as-of both-sides axis is a DIFFERENT profile: its own build
    QUERIES["c_join_asof_adaptive"](spark, sf_dir).count()
    ev2 = [e for e in drain_artifact_events() if e[0].startswith("hotkeys:")]
    assert [kind for _, kind in ev2] == ["build"], ev2
    assert "orders.o_custkey" in ev2[0][0]
    # and a direct re-ask is a pure hit
    hot_key_profile(spark, sf_dir, ("events", "user_id"))
    ev3 = [e for e in drain_artifact_events() if e[0].startswith("hotkeys:")]
    assert [kind for _, kind in ev3] == ["hit"], ev3


def test_hot_key_profile_equals_direct_probe(spark, sf_dir):
    """The pinned profile must be VALUE-equivalent to the per-query
    `hot_keys` probe it replaces (same counts, same threshold rule) —
    on the real table and on a forced-skew frame via the union spec."""
    from async_event_streams_spark.functions.skew import (
        hot_key_profile,
        hot_keys,
    )
    from async_event_streams_spark.tables import table

    clear_artifacts(spark)
    ev = table(spark, sf_dir, "events")
    direct = sorted(hot_keys(ev, "user_id"), key=str)
    pinned = sorted(
        hot_key_profile(spark, sf_dir, ("events", "user_id")), key=str
    )
    assert pinned == direct
    # union axis: events.user_id ∪ orders.o_custkey, the as-of spec
    ords = table(spark, sf_dir, "orders")
    from pyspark.sql import functions as F

    u = ev.select(F.col("user_id").alias("k")).unionByName(
        ords.select(F.col("o_custkey").alias("k"))
    )
    direct_u = sorted(hot_keys(u, "k"), key=str)
    pinned_u = sorted(
        hot_key_profile(
            spark, sf_dir, [("events", "user_id"), ("orders", "o_custkey")]
        ),
        key=str,
    )
    assert pinned_u == direct_u


def test_hot_key_profile_spec_shapes(spark, sf_dir):
    """Spec parsing discriminates by element type: a tuple-of-tuples
    unions the axes exactly like the list form (it used to be wrapped
    as ONE spec and fail deep inside table()), and malformed specs
    raise a clear ValueError up front."""
    import pytest

    from async_event_streams_spark.functions.skew import (
        hot_key_profile,
    )

    clear_artifacts(spark)
    as_list = sorted(
        hot_key_profile(
            spark, sf_dir, [("events", "user_id"), ("orders", "o_custkey")]
        ),
        key=str,
    )
    as_tuple = sorted(
        hot_key_profile(
            spark, sf_dir, (("events", "user_id"), ("orders", "o_custkey"))
        ),
        key=str,
    )
    assert as_tuple == as_list
    for bad in ((), ("events",), [("events", "user_id", "extra")], [(1, 2)]):
        with pytest.raises(ValueError, match="specs must be"):
            hot_key_profile(spark, sf_dir, bad)
