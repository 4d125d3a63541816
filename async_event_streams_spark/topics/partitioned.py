"""`PartitionedTopic` — the scale path for the topic layer.

The reference's `EventStreams` is a single FIFO: one queue per
subscriber, publishes are totally ordered (src/event_streams.rs:14,
src/lib.rs:41-42). That is exactly right for a control-plane channel
and exactly wrong at 100 TB: a single sequential log caps publish
throughput at one writer and forces every subscriber through one
stream of micro-batches.

`PartitionedTopic` keeps the reference's *observable* guarantee where
it matters — FIFO **per key** — and drops the accidental one (total
order across unrelated keys), the same trade Kafka makes with
partitioned topics. Mechanics:

- N independent sub-channels (`Topic` instances), each its own
  segment log with its own event-id sequence — like Kafka partition
  offsets;
- a row routes by `crc32(str(key)) % N`, so all events for one key
  land in one sub-channel and are delivered in publish order;
- publishes to different partitions append concurrently (per-partition
  locks; `post` fans out on a thread pool; `post_df` routes
  executor-side with ONE partitionBy job);
- the default consume path is the CONSUMER-GROUP drain: `pipe()` on a
  partitioned topic builds one independent pipe per partition (own
  checkpoint, own txn line — partitions progress independently;
  measured ~4× the lock-step union at N=4);
- `subscribe()` remains available as a streaming UNION of the
  sub-channel sources with a `partition` discriminator column — one
  query consuming all partitions in lock-step, useful when a single
  totally-consuming query is wanted;
- `send`/`barrier`/`clear`/`count`/`close` fan out to every partition,
  so the reference's completion-barrier semantics (micro-batch
  granularity, SURVEY.md §8-H1) hold across the whole topic.

Duck-types the `Topic` surface `pipe()` uses (`name`, `dir`,
`subscribe`, `attach_query`, `registry`, `post`, `last_txn`), so a
PartitionedTopic can be either end of a pipe unchanged — including the
transactional exactly-once re-publish: a replayed batch writes its txn
header to *every* partition (header-only segments where no rows
routed), so `last_txn` sees it no matter which partition is scanned.

At cluster scale the intended deployment is one partition per
executor-ish (N ≈ parallelism of the event flow); bulk data still
belongs in parquet via `post_df`, which shards by the same key hash so
Spark-side routing agrees with driver-side routing.
"""

from __future__ import annotations

import os
import zlib
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from .topic import DEFAULT_REGISTRY, Topic, TopicRegistry, _check_lineage


def _txn_parts(txn: str | None) -> tuple[str | None, int]:
    """Split a `{prefix}:{batch_id}` txn id (the pipe convention,
    topics/pipe.py). Non-conforming ids return (None, -1): per-partition
    replay skip then degrades to publish-everywhere, which is safe (the
    worst case is a duplicate publish only for callers who invented a
    non-standard txn format AND crashed mid-publish)."""
    if txn is None or ":" not in txn:
        return None, -1
    prefix, batch = txn.split(":", 1)
    try:
        return prefix, int(batch)
    except ValueError:
        return None, -1


def _route(key, num_partitions: int) -> int:
    """Stable key → partition. crc32 over the utf-8 of the key rendered
    with SPARK's cast-to-string semantics (bool → "true"/"false", not
    Python's "True"), so driver-side post() and executor-side post_df()
    always agree. Key-column types where the two renderings can differ
    (float/decimal/timestamp) are rejected at construction."""
    if isinstance(key, bool):
        key = "true" if key else "false"
    return zlib.crc32(str(key).encode("utf-8")) % num_partitions


class PartitionedSentEvent:
    """Deferred completion barrier for one sharded publish: `wait()`
    blocks until every partition's live subscribers caught up; `done()`
    polls without blocking (true iff every partition's `SentEvent`
    would be — zero-subscriber partitions resolve immediately, matching
    the reference)."""

    def __init__(self, topic: "PartitionedTopic", ids: dict[int, tuple[int, int]]):
        self.topic = topic
        self.ids = ids

    def wait(self, chain: bool = False) -> None:
        self.topic.barrier(chain=chain)

    def done(self) -> bool:
        from .topic import SentEvent

        return all(
            SentEvent(p, (0, 0)).done() for p in self.topic.partitions
        )


class PartitionedTopic:
    """A typed event topic sharded into N per-key-FIFO sub-channels."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        payload_schema: StructType | str,
        root_dir: str,
        key_col: str,
        num_partitions: int = 4,
        registry: TopicRegistry | None = None,
    ) -> None:
        if num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        if isinstance(payload_schema, str):
            payload_schema = StructType.fromDDL(payload_schema)
        if key_col not in {f.name for f in payload_schema.fields}:
            raise ValueError(f"key_col {key_col!r} not in payload schema")
        key_type = next(
            f.dataType for f in payload_schema.fields if f.name == key_col
        )
        # Routing hashes the key's STRING rendering on both the driver
        # (Python str) and executors (Spark cast-as-string); the two
        # disagree for float/decimal/timestamp formatting, which would
        # silently break per-key FIFO when post() and post_df() mix.
        if not isinstance(
            key_type,
            (StringType, LongType, IntegerType, ShortType, ByteType, BooleanType),
        ):
            raise ValueError(
                f"key_col {key_col!r} has type {key_type.simpleString()}; "
                "partition keys must be string/integral/boolean (pre-cast "
                "the key to string for other types)"
            )
        self.spark = spark
        self.name = name
        self.key_col = key_col
        self.num_partitions = num_partitions
        self.payload_schema = payload_schema
        self.dir = os.path.join(root_dir, name)
        os.makedirs(self.dir, exist_ok=True)
        self.registry = registry or DEFAULT_REGISTRY
        self.partitions = [
            Topic(spark, f"{name}#p{i}", payload_schema, self.dir, self.registry)
            for i in range(num_partitions)
        ]
        self.schema = self.partitions[0].schema
        # The parent participates in the pipe DAG under its own name so
        # the chain barrier can walk through it (registry duck-typing:
        # it only needs name/live_queries/_await_caught_up).
        self.registry.add_topic(self)
        self._pool = ThreadPoolExecutor(
            max_workers=num_partitions, thread_name_prefix=f"{name}-post"
        )
        # Per-prefix, per-partition committed-batch watermarks. Disk is
        # consulted once per prefix (on first use), then commits are
        # tracked in memory — the hot publish path never re-scans the
        # segment logs per batch.
        self._txn_seen: dict[str, dict[int, int]] = {}

    # -- transactional replay bookkeeping ------------------------------------

    def _replayed_partitions(self, txn: str | None) -> set[int]:
        """Partitions that already committed this txn. A multi-partition
        publish registers partitions one at a time; a crash mid-way
        leaves the batch committed on some partitions and not others.
        The replay must COMPLETE the stragglers, not re-publish the
        committed ones — this set is what the replay skips."""
        prefix, batch = _txn_parts(txn)
        if prefix is None:
            return set()
        seen = self._txn_seen.get(prefix)
        if seen is None:
            seen = {i: p.last_txn(prefix) for i, p in enumerate(self.partitions)}
            self._txn_seen[prefix] = seen
        return {i for i, b in seen.items() if b >= batch}

    def _mark_txn_committed(self, txn: str | None, i: int) -> None:
        prefix, batch = _txn_parts(txn)
        if prefix is not None:
            seen = self._txn_seen.setdefault(prefix, {})
            if seen.get(i, -1) < batch:
                seen[i] = batch

    # -- routing ------------------------------------------------------------

    def partition_for(self, key) -> int:
        return _route(key, self.num_partitions)

    def _shard(self, rows: list[dict]) -> list[list[dict]]:
        shards: list[list[dict]] = [[] for _ in range(self.num_partitions)]
        for row in rows:
            if self.key_col not in row:
                raise ValueError(f"row missing key column {self.key_col!r}: {row}")
            shards[self.partition_for(row[self.key_col])].append(row)
        return shards

    # -- publish ------------------------------------------------------------

    def post(
        self,
        rows: list[dict],
        event_type: str = "event",
        source_event_ids: list[int | None] | None = None,
        txn: str | None = None,
    ) -> dict[int, tuple[int, int]]:
        """Fire-and-forget publish: shard by key, append each shard to
        its partition's segment log CONCURRENTLY. Returns
        {partition: (first_id, last_id)} for partitions that got rows.

        With `txn`, every partition records the header — including
        header-only segments for partitions with no rows this batch —
        so exactly-once replay detection works regardless of routing.
        A replayed txn publishes ONLY to partitions that have not yet
        committed it (a crash mid-publish leaves some committed, some
        not; the replay completes the stragglers without duplicating
        the committed ones)."""
        if not rows and txn is None:
            raise ValueError("post requires at least one row")
        _check_lineage(rows, source_event_ids)
        if source_event_ids is not None:
            rows = [
                dict(row, source_event_id=sid)
                for row, sid in zip(rows, source_event_ids)
            ]
        shards = self._shard(rows)
        skip = self._replayed_partitions(txn)
        futures = {}
        for i, shard in enumerate(shards):
            if i in skip:
                continue
            if shard or txn is not None:
                futures[i] = self._pool.submit(
                    self.partitions[i].post, shard, event_type, None, txn
                )
        # Await ALL futures, including header-only writes — a caller may
        # check last_txn() (or crash-retry) the moment post() returns.
        # Partitions whose append SUCCEEDED are marked committed even if
        # a sibling partition's append raises: the disk state is already
        # committed for them, and an in-process retry of the same txn
        # must skip them (not re-publish) to keep exactly-once. The
        # first failure is re-raised after every future has resolved.
        done: dict[int, tuple[int, int]] = {}
        first_err: BaseException | None = None
        for i, f in futures.items():
            try:
                done[i] = f.result()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = e
            else:
                self._mark_txn_committed(txn, i)
        if first_err is not None:
            raise first_err
        return {i: r for i, r in done.items() if shards[i]}

    def post_df(
        self, df: DataFrame, event_type: str = "event", txn: str | None = None
    ) -> dict[int, tuple[int, int]]:
        """Bulk publish: ONE Spark job writes the payload parquet
        partitioned by `__part__`, sharded by the SAME crc32 routing as
        `post` — `pmod(crc32(cast(key as string)), N)` on the JVM equals
        `zlib.crc32(str(key))%N` on the driver for utf-8 strings. Which
        partitions got rows is then a driver-side directory listing of
        the `__part__=i` subdirs (and row counts come from parquet
        footers) — no per-batch `distinct().collect()`, no cache, no
        N filtered re-scans; the job count is 1 regardless of N.

        With `txn`, partitions that got no rows still record a
        header-only segment, so `last_txn()` replay detection holds no
        matter how a batch's keys routed (same contract as `post`).
        Replays complete partial publishes per partition, like `post`.

        Null keys route by the string "None" — the same bucket a
        driver-side `post()` gives them (`str(None)`), so either path
        keeps all null-key rows in one partition's FIFO."""
        import shutil
        import uuid

        part = F.pmod(
            F.crc32(
                # null-safe: match post()'s str(None) rendering so both
                # paths agree on where null keys live
                F.coalesce(F.col(self.key_col).cast("string"), F.lit("None"))
            ),
            F.lit(self.num_partitions),
        ).cast("int")
        stage = os.path.join(self.dir, f"bulkstage-{uuid.uuid4().hex[:12]}")
        (
            df.withColumn("__part__", part)
            .write.mode("errorifexists")
            .partitionBy("__part__")
            .parquet(stage)
        )
        entries = sorted(
            e for e in os.listdir(stage) if e.startswith("__part__=")
        )
        # Validate the WHOLE listing before registering anything: a bad
        # partition dir (can't happen with the null-safe router above,
        # but guards future key-expression edits) must not leave a
        # non-atomic partial publish behind.
        bad = [e for e in entries if not e.split("=", 1)[1].isdigit()]
        if bad:
            shutil.rmtree(stage, ignore_errors=True)
            raise ValueError(
                f"post_df: unroutable {self.key_col!r} partition dirs {bad}"
            )
        if not entries:
            shutil.rmtree(stage, ignore_errors=True)
            raise ValueError("post_df requires a non-empty DataFrame")
        skip = self._replayed_partitions(txn)
        out: dict[int, tuple[int, int]] = {}
        for entry in entries:
            i = int(entry.split("=", 1)[1])
            if i in skip:  # committed by the pre-crash attempt; this
                # replay's copy of the rows is redundant
                shutil.rmtree(os.path.join(stage, entry), ignore_errors=True)
                continue
            out[i] = self.partitions[i].post_parquet(
                os.path.join(stage, entry), event_type, txn=txn
            )
            self._mark_txn_committed(txn, i)
        if txn is not None:
            got_rows = {int(e.split("=", 1)[1]) for e in entries}
            for i, p in enumerate(self.partitions):
                if i not in got_rows and i not in skip:
                    p.post([], txn=txn)  # header-only: replay-visible
                    self._mark_txn_committed(txn, i)
        if not out and skip:
            # full replay of an already-committed batch: nothing newly
            # registered, nothing references the stage — drop it
            shutil.rmtree(stage, ignore_errors=True)
        return out

    def send_df(
        self, df: DataFrame, event_type: str = "event", barrier: str = "local"
    ) -> dict[int, tuple[int, int]]:
        """Bulk publish + completion barrier (post_df ∘ barrier)."""
        ids = self.post_df(df, event_type)
        self.barrier(chain=(barrier == "chain"))
        return ids

    def send(
        self,
        rows: list[dict],
        event_type: str = "event",
        source_event_ids: list[int | None] | None = None,
        barrier: str = "local",
    ) -> dict[int, tuple[int, int]]:
        """Publish + completion barrier across ALL partitions (and the
        downstream cascade with barrier="chain")."""
        ids = self.post(rows, event_type, source_event_ids)
        self.barrier(chain=(barrier == "chain"))
        return ids

    def send_async(
        self,
        rows: list[dict],
        event_type: str = "event",
        source_event_ids: list[int | None] | None = None,
    ) -> "PartitionedSentEvent":
        """Publish now, await later (the reference's `SentEvent` future,
        SURVEY.md §2-A10, shard-wise): the handle resolves once every
        live subscriber of every partition has caught up."""
        ids = self.post(rows, event_type, source_event_ids)
        return PartitionedSentEvent(self, ids)

    def last_txn(self, prefix: str) -> int:
        """Highest batch id committed on EVERY partition (-1 if any has
        none). MIN across partitions, deliberately: a multi-partition
        publish registers partitions one at a time, so a crash mid-way
        leaves the batch on some partitions only — MAX would make the
        replaying pipe skip the whole batch and silently lose the
        unregistered partitions' rows. With MIN the pipe re-runs the
        publish, and the per-partition skip in post()/post_df() turns
        the replay into exactly the completion of the stragglers."""
        return min(p.last_txn(prefix) for p in self.partitions)

    # -- subscribe -----------------------------------------------------------

    def subscribe(
        self,
        subscribe_from: str = "latest",
        max_segments_per_batch: int = 1000,
    ) -> DataFrame:
        """One streaming DataFrame over all partitions: per-partition
        sources unioned, each branch tagged with its `partition` index.
        Per-key order = (partition, event_id) order; Spark reads the N
        sources in parallel within each micro-batch."""
        streams = [
            p.subscribe(subscribe_from, max_segments_per_batch).withColumn(
                "partition", F.lit(i)
            )
            for i, p in enumerate(self.partitions)
        ]
        out = streams[0]
        for s in streams[1:]:
            out = out.unionByName(s)
        return out

    def batch_df(self) -> DataFrame:
        """All retained events across partitions, tagged by partition."""
        out = None
        for i, p in enumerate(self.partitions):
            cur = p.batch_df().withColumn("partition", F.lit(i))
            out = cur if out is None else out.unionByName(cur)
        return out

    def attach_query(self, query) -> None:
        # One streaming query consumes the union of every partition's
        # source; attach it everywhere so each partition's barrier (and
        # the chain walk) awaits it.
        for p in self.partitions:
            p.attach_query(query)

    def live_queries(self) -> list:
        seen, out = set(), []
        for p in self.partitions:
            for q in p.live_queries():
                if id(q) not in seen:
                    seen.add(id(q))
                    out.append(q)
        return out

    def _await_caught_up(self, query) -> None:
        Topic._await_caught_up(query)

    # -- barrier / lifecycle --------------------------------------------------

    def barrier(self, chain: bool = False) -> None:
        for q in self.live_queries():
            Topic._await_caught_up(q)
        if chain:
            for t in self.registry.downstream_of(self.name):
                for q in t.live_queries():
                    t._await_caught_up(q)

    def pipe_per_partition(
        self,
        fn=None,
        target=None,
        sink_fn=None,
        name: str | None = None,
        **pipe_kwargs,
    ) -> "MultiPipeHandle":
        """Parallel drain (the Kafka consumer-group shape): one pipe PER
        PARTITION, each its own streaming query with its own checkpoint
        and exactly-once txn line — N consumers progress independently,
        so a slow partition never stalls the others (the unioned
        `subscribe()` advances all partitions in lock-step instead).
        Per-key order still holds end-to-end: a key's events flow
        through exactly one partition's pipe, in order. This is what
        `pipe()` does by default when its source is a PartitionedTopic.

        Each partition's batches are tagged with that partition's index
        before the user `fn` runs, so `fn` sees the same `partition`
        column the unioned `subscribe()` stream carries. Returns a
        MultiPipeHandle (a list of the N PipeHandles that also speaks
        the single-handle interface); `barrier(chain=True)` on this
        topic awaits them all."""
        import inspect
        import uuid

        from .pipe import MultiPipeHandle, pipe

        if name is not None:
            base = name
        else:
            # Stable default so a default-named drain RESUMES its
            # checkpoints and txn lines across restarts — exactly-once
            # without requiring callers to invent a name. Only when a
            # same-named drain is currently LIVE (second concurrent
            # drain on one topic) does a uuid suffix step in to avoid
            # the checkpoint-in-use collision.
            base = f"drain-{self.name}"
            active = {q.name for q in self.spark.streams.active if q.name}
            if any(f"{base}-p{i}" in active for i in range(self.num_partitions)):
                base = f"drain-{self.name}-{uuid.uuid4().hex[:8]}"
        wants_batch_id = False
        if fn is not None:
            try:
                wants_batch_id = len(inspect.signature(fn).parameters) >= 2
            except (TypeError, ValueError):
                wants_batch_id = False

        def tagged(i: int):
            # two-parameter wrapper so pipe() forwards batch_id; the
            # user fn's own arity decides whether it sees it
            def f(df, batch_id):
                out = df.withColumn("partition", F.lit(i))
                if fn is None:
                    return out
                return fn(out, batch_id) if wants_batch_id else fn(out)

            return f

        handles = MultiPipeHandle(
            pipe(
                p,
                fn=tagged(i),
                target=target,
                sink_fn=sink_fn,
                name=f"{base}-p{i}",
                **pipe_kwargs,
            )
            for i, p in enumerate(self.partitions)
        )
        if target is not None:
            # the chain barrier walks from the PARENT's name too
            self.registry.add_edge(self.name, target.name)
        return handles

    def count(self) -> int:
        """Live subscriber queries across the whole topic."""
        return len(self.live_queries())

    def clear(self) -> None:
        for p in self.partitions:
            p.clear()

    def close(self, drain: bool = True) -> None:
        for p in self.partitions:
            p.close(drain=drain)
        self._pool.shutdown(wait=False)
