"""`Topic` ≈ the reference's `EventStreams<EVT>` re-expressed on
Structured Streaming.

Semantics preserved (citations → /root/reference/):
- typed topic with broadcast fan-out: every subscriber's streaming query
  sees every event (src/event_streams.rs:129-136) — free here, because
  each query reads the same segment files independently;
- per-subscriber FIFO order: segments are consumed in index order and
  events in file order (src/lib.rs:41-42 arrival order);
- `send` barrier: returns only after every live subscriber query has
  processed everything published (src/lib.rs:47-54) — micro-batch
  granularity, SURVEY.md §8-H1;
- dependent events / causal chain: `send(barrier="chain")` also waits
  for the full downstream pipe cascade (src/lib.rs:56-73);
- subscribe-sees-only-future: latest-offset initial offset
  (src/event_streams.rs:66-72);
- `clear()` drops pending (published but unconsumed) events
  (src/event_streams.rs:75-77);
- zero-subscriber sends never block (src/event_streams.rs:58-61) —
  barrier over an empty query set returns immediately.

Scale boundary: a Topic is a CONTROL-PLANE ordering primitive (the
reference's tests cap at 100 events) — publishes are sequential by
design because the channel IS the FIFO. Bulk data belongs in parquet
tables partitioned for parallelism; pipes move DataFrames, so a pipe's
transform can reference/join those tables at full cluster parallelism
while the topic carries the (small) event flow.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from .datasource import (
    TopicDataSource,
    _json_default,
    cleared_before,
    list_segments,
    next_segment_index,
    segment_path,
    write_clear_marker,
    write_segment,
    write_segment_lines,
)

ENVELOPE_FIELDS = [
    StructField("event_id", LongType(), False),
    StructField("ts", TimestampType(), False),
    StructField("event_type", StringType(), True),
    StructField("source_event_id", LongType(), True),
]
ENVELOPE_NAMES = [f.name for f in ENVELOPE_FIELDS]
_ENVELOPE_SET = frozenset(ENVELOPE_NAMES)


def _check_lineage(rows: list, source_event_ids: list | None) -> None:
    """Reject a lineage list that does not pair one id with each row,
    before anything is written (a short list would drop rows)."""
    if source_event_ids is not None and len(source_event_ids) != len(rows):
        raise ValueError(
            f"source_event_ids has {len(source_event_ids)} ids "
            f"for {len(rows)} rows"
        )


class TopicRegistry:
    """Tracks topics and the pipe DAG between them (who feeds whom),
    which is what the chain barrier walks (SURVEY.md §3.3)."""

    def __init__(self) -> None:
        self.topics: dict[str, Topic] = {}
        self.downstream: dict[str, set[str]] = {}

    def add_topic(self, topic: "Topic") -> None:
        self.topics[topic.name] = topic

    def add_edge(self, src: str, dst: str) -> None:
        self.downstream.setdefault(src, set()).add(dst)

    def downstream_of(self, name: str) -> list["Topic"]:
        """All topics reachable from `name` via pipes, BFS order."""
        seen: list[str] = []
        frontier = [name]
        while frontier:
            nxt: list[str] = []
            for t in frontier:
                for d in self.downstream.get(t, ()):
                    if d not in seen and d != name:
                        seen.append(d)
                        nxt.append(d)
            frontier = nxt
        return [self.topics[n] for n in seen if n in self.topics]


DEFAULT_REGISTRY = TopicRegistry()


class SentEvent:
    """Deferred completion barrier for one publish (≈ the reference's
    `SentEvent` future): `wait()` blocks until all live subscribers
    caught up; `done()` polls without blocking (true when no subscriber
    has unprocessed data — with zero subscribers, immediately true,
    matching the reference's zero-subscriber resolve)."""

    def __init__(self, topic: "Topic", ids: tuple[int, int]):
        self.topic = topic
        self.first_id, self.last_id = ids

    def wait(self, chain: bool = False) -> None:
        self.topic.barrier(chain=chain)

    def done(self) -> bool:
        from .datasource import next_segment_index

        published = next_segment_index(self.topic.dir)
        for q in self.topic.live_queries():
            progress = q.lastProgress
            if progress is None:
                return False
            end = _parse_end_offset(progress)
            if end is None or end.get("segment", 0) < published:
                return False
        return True


def _parse_end_offset(progress: dict) -> dict | None:
    """Extract sources[0].endOffset from a StreamingQueryProgress dict as
    a dict, or None if absent/unparseable. The engine may surface the
    offset as a nested dict, a JSON string, or (older renderings) a
    Python-literal string — try strictest first rather than relying on
    one Spark version's formatting."""
    try:
        end = progress["sources"][0]["endOffset"]
    except (KeyError, IndexError, TypeError):
        return None
    if isinstance(end, dict):
        return end
    if isinstance(end, str):
        import ast
        import json

        for parse in (json.loads, ast.literal_eval):
            try:
                parsed = parse(end)
            except (ValueError, SyntaxError):
                continue
            if isinstance(parsed, dict):
                return parsed
        return None
    return None


class Topic:
    """A typed event topic backed by the file-channel data source."""

    _datasource_registered: set[int] = set()

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        payload_schema: StructType | str,
        root_dir: str,
        registry: TopicRegistry | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        if isinstance(payload_schema, str):
            payload_schema = StructType.fromDDL(payload_schema)
        overlap = set(f.name for f in payload_schema.fields) & set(ENVELOPE_NAMES)
        if overlap:
            raise ValueError(f"payload columns shadow envelope columns: {overlap}")
        self.payload_schema = payload_schema
        self.schema = StructType(ENVELOPE_FIELDS + list(payload_schema.fields))
        self.dir = os.path.join(root_dir, name)
        os.makedirs(self.dir, exist_ok=True)
        self._lock = threading.Lock()
        self._next_id = self._recover_next_id()
        self._queries: list = []  # live subscriber StreamingQuery objects
        self.registry = registry or DEFAULT_REGISTRY
        self.registry.add_topic(self)
        # spark=None is the PRODUCER-ONLY mode: a separate producer
        # process (the cluster-realistic shape — producers are their
        # own services, not driver threads) appends to the shard's
        # segment log through post() without any SparkSession; the
        # subscribe/batch_df consumer surface stays with the session
        # that owns the drain side. Mirrors reference/src/lib.rs:31-40
        # (producers hold only a channel handle, not the executor).
        if spark is not None:
            self._register_datasource()

    def _register_datasource(self) -> None:
        key = id(self.spark)
        if key not in Topic._datasource_registered:
            # The DataSource class is shipped to a separate Python worker
            # via cloudpickle. Pickle the module BY VALUE so the worker
            # needs no importable copy of this package — otherwise topics
            # only work when the driver's cwd happens to contain the repo
            # (and on a cluster would require --py-files).
            try:
                from pyspark import cloudpickle

                from . import datasource as _ds_mod

                cloudpickle.register_pickle_by_value(_ds_mod)
            except Exception:
                pass  # fall back to by-reference (works when importable)
            self.spark.dataSource.register(TopicDataSource)
            Topic._datasource_registered.add(key)

    def _recover_next_id(self) -> int:
        """Restart recovery: next event id = last event id on disk + 1.
        Scans segments newest-first because a segment may hold only a
        txn header (a replayed batch whose rows all routed elsewhere)."""
        import json

        for seg in reversed(list_segments(self.dir)):
            last = None
            with open(segment_path(self.dir, seg)) as f:
                for line in f:
                    if line.strip():
                        obj = json.loads(line)
                        if obj.get("__txn__"):
                            continue
                        if obj.get("__bulk__"):
                            last = obj["base_id"] + obj["n"] - 1
                        else:
                            last = obj["event_id"]
            if last is not None:
                return last + 1
        return 0

    def last_txn(self, prefix: str) -> int:
        """Highest batch id recorded in a `{prefix}:{batch_id}` txn
        header, or -1. Scanned newest-first; used by pipes on (re)start
        to skip already-published replayed batches."""
        import json

        for seg in reversed(list_segments(self.dir)):
            try:
                f = open(segment_path(self.dir, seg))
            except FileNotFoundError:
                continue
            with f:
                for line in f:
                    if not line.strip():
                        continue
                    obj = json.loads(line)
                    t = obj.get("__txn__")
                    if t and t.startswith(prefix + ":"):
                        return int(t.split(":", 1)[1])
                    break  # headers are always the first record
        return -1

    # -- publish ------------------------------------------------------ A3/A4

    def post(
        self,
        rows: list[dict],
        event_type: str = "event",
        source_event_ids: list[int | None] | None = None,
        txn: str | None = None,
    ) -> tuple[int, int]:
        """Fire-and-forget publish (`post_event`): append one segment,
        return (first_id, last_id). Never blocks on subscribers.

        `txn` makes the publish transactional: the id rides inside the
        atomically-renamed segment, so a retried publish with an
        already-recorded txn can be detected via `last_txn()` — the
        exactly-once mechanism pipes use across crash replays."""
        if not rows and txn is None:
            raise ValueError("post requires at least one row")
        _check_lineage(rows, source_event_ids)
        with self._lock:
            first = self._next_id
            seg_idx = next_segment_index(self.dir)
            lines: list[str] = []
            if txn is not None:
                lines.append(
                    json.dumps({"__txn__": txn}, separators=(",", ":"))
                )
            # Everything constant across the batch serializes ONCE: the
            # shared timestamp (a datetime value made json.dumps fall
            # into the `default=` callback per row — the hot path's old
            # dominant cost) and the event_type. Rows that carry no
            # envelope overrides — the overwhelming norm — then take
            # the fast path: one payload-only json.dumps plus a string
            # concat, no per-row envelope dict build/filter/update
            # (produce-only measured 77.5k → 136k ev/s, r12 profile).
            now = datetime.now(timezone.utc).isoformat()
            ts_json = '"' + now + '"'  # isoformat never needs escaping
            et_json = json.dumps(event_type)
            for i, row in enumerate(rows):
                if source_event_ids is None and _ENVELOPE_SET.isdisjoint(
                    row
                ):
                    head = (
                        f'{{"event_id":{first + i},"ts":{ts_json},'
                        f'"event_type":{et_json},"source_event_id":null'
                    )
                    payload = json.dumps(
                        row, default=_json_default, separators=(",", ":")
                    )
                    lines.append(
                        head + "," + payload[1:]
                        if len(payload) > 2
                        else head + "}"
                    )
                    continue
                rec = {
                    "event_id": first + i,
                    "ts": now,
                    "event_type": row.get("event_type", event_type),
                    "source_event_id": (
                        source_event_ids[i] if source_event_ids else row.get("source_event_id")
                    ),
                }
                rec.update(
                    {k: v for k, v in row.items() if k not in ENVELOPE_NAMES}
                )
                lines.append(
                    json.dumps(rec, default=_json_default, separators=(",", ":"))
                )
            write_segment_lines(self.dir, seg_idx, lines)
            self._next_id = first + len(rows)
            return first, self._next_id - 1

    def post_df(
        self, df: DataFrame, event_type: str = "event", txn: str | None = None
    ) -> tuple[int, int]:
        """Bulk publish a DataFrame: payload rows are written to the
        channel by EXECUTORS (parquet, full cluster parallelism); only a
        tiny marker referencing the bulk directory and the reserved
        event-id range goes through the sequential segment log. This is
        how large flows enter a topic without the driver touching rows —
        the control-plane FIFO stays cheap, the data plane scales.

        The parquet is written FIRST and `n` derived from the written
        files (footer metadata): counting the plan and re-executing it
        for the write would let a nondeterministic input (rand, unordered
        limit, sample) write a different number of rows than the reserved
        id range, corrupting id assignment and restart recovery.

        Ids are assigned from a reserved contiguous range in part-file
        order; `source_event_id` and `event_type` columns are honored
        when present in `df`. `txn` rides in the same atomically-renamed
        segment as the marker — the pipes' exactly-once mechanism."""
        payload_names = {f.name for f in self.payload_schema.fields}
        allowed = payload_names | {"source_event_id", "event_type"}
        extra = set(df.columns) - allowed
        if extra:
            raise ValueError(f"post_df columns not in topic schema: {sorted(extra)}")
        with self._lock:
            base = self._next_id
            seg_idx = next_segment_index(self.dir)
            bulk_dir = os.path.join(self.dir, f"bulk-{seg_idx:08d}")
            df.write.mode("errorifexists").parquet(bulk_dir)
            n = df.sparkSession.read.parquet(bulk_dir).count()
            if n == 0:
                import shutil

                shutil.rmtree(bulk_dir, ignore_errors=True)
                raise ValueError("post_df requires a non-empty DataFrame")
            marker = {
                "__bulk__": True,
                "path": bulk_dir,
                "base_id": base,
                "n": n,
                "event_type": event_type,
                "ts": datetime.now(timezone.utc),
            }
            records = [{"__txn__": txn}] if txn is not None else []
            records.append(marker)
            write_segment(self.dir, seg_idx, records)
            self._next_id = base + n
            return base, self._next_id - 1

    def post_parquet(
        self, path: str, event_type: str = "event", txn: str | None = None
    ) -> tuple[int, int]:
        """Register an ALREADY-WRITTEN parquet directory as a bulk
        publish: count rows from the parquet footers (driver-side
        metadata reads — no Spark job, no row materialization) and
        append only the marker through the segment log. This is how a
        sharded bulk publish (PartitionedTopic.post_df) lands each
        partition's slice without a per-partition Spark job."""
        import pyarrow.parquet as pq

        files = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".parquet")
        )
        n = sum(pq.read_metadata(f).num_rows for f in files)
        if n == 0:
            raise ValueError(f"post_parquet: no rows under {path}")
        with self._lock:
            base = self._next_id
            seg_idx = next_segment_index(self.dir)
            marker = {
                "__bulk__": True,
                "path": path,
                "base_id": base,
                "n": n,
                "event_type": event_type,
                "ts": datetime.now(timezone.utc),
            }
            records = [{"__txn__": txn}] if txn is not None else []
            records.append(marker)
            write_segment(self.dir, seg_idx, records)
            self._next_id = base + n
            return base, self._next_id - 1

    def send_df(
        self, df: DataFrame, event_type: str = "event", barrier: str = "local"
    ) -> tuple[int, int]:
        """Bulk publish + completion barrier (post_df ∘ send)."""
        ids = self.post_df(df, event_type)
        self.barrier(chain=(barrier == "chain"))
        return ids

    def send(
        self,
        rows: list[dict],
        event_type: str = "event",
        source_event_ids: list[int | None] | None = None,
        barrier: str = "local",
    ) -> tuple[int, int]:
        """Publish **with completion barrier** (`send_event`): returns
        only after every live subscriber query has processed all
        available events — and, with barrier="chain", after the entire
        downstream pipe cascade has too (dependent-event semantics)."""
        ids = self.post(rows, event_type, source_event_ids)
        self.barrier(chain=(barrier == "chain"))
        return ids

    def send_async(
        self,
        rows: list[dict],
        event_type: str = "event",
        source_event_ids: list[int | None] | None = None,
    ) -> "SentEvent":
        """Publish now, await the barrier later — the shape of the
        reference's `send_event` returning a `SentEvent` future
        (src/event_streams.rs:51-62, 82-103): the returned handle's
        `wait()` resolves once every live subscriber has processed
        everything published (and, with wait(chain=True), the full
        downstream cascade)."""
        ids = self.post(rows, event_type, source_event_ids)
        return SentEvent(self, ids)

    def barrier(self, chain: bool = False) -> None:
        """Block until all live subscribers are caught up (micro-batch
        completion barrier, §8-H1). Zero subscribers → immediate. A
        subscriber that FAILED mid-barrier counts as detached (its
        queue died — the reference drops the Arc and the sender's
        barrier resolves); its error stays observable on the handle."""
        for q in self.live_queries():
            self._await_caught_up(q)
        if chain:
            for t in self.registry.downstream_of(self.name):
                for q in t.live_queries():
                    t._await_caught_up(q)

    @staticmethod
    def _await_caught_up(query) -> None:
        try:
            query.processAllAvailable()
        except Exception:
            if query.isActive:
                raise  # real barrier failure, not a dead subscriber

    # -- subscribe ----------------------------------------------------- A5

    def subscribe(
        self,
        subscribe_from: str = "latest",
        max_segments_per_batch: int = 1000,
    ) -> DataFrame:
        """New subscription: a streaming DataFrame over this topic.
        `latest` (default) sees only future events, like
        `create_event_stream` — the subscription point is pinned HERE,
        synchronously, not when the engine first polls the source;
        `earliest` replays retained history (a bonus the file channel
        gives us for free)."""
        import json as _json

        if subscribe_from == "earliest":
            start = cleared_before(self.dir)
        else:
            start = next_segment_index(self.dir)
        return (
            self.spark.readStream.format("aes_topic")
            .option("path", self.dir)
            .option("schema_json", _json.dumps(self.schema.jsonValue()))
            .option("start_segment", str(start))
            .option("max_segments_per_batch", str(max_segments_per_batch))
            .load()
        )

    def batch_df(self) -> DataFrame:
        """All retained events as a batch DataFrame, with bulk markers
        expanded exactly as the streaming reader expands them (same
        event-id assignment). Materializes through the channel reader —
        fine for the control-plane event volume; bulk payloads are
        already parquet under the topic dir for direct analytical reads
        (or use io.archive_topic)."""
        from .datasource import TopicStreamReader

        lo = cleared_before(self.dir)
        reader = TopicStreamReader(
            self.schema, {"path": self.dir, "start_segment": str(lo)}
        )
        rows = reader._rows_between(lo, next_segment_index(self.dir))
        return self.spark.createDataFrame(rows, self.schema)

    def attach_query(self, query) -> None:
        self._queries.append(query)

    def live_queries(self) -> list:
        self._queries = [q for q in self._queries if q.isActive]
        return list(self._queries)

    # -- introspection / lifecycle ------------------------------- A2/A6/B11

    def count(self) -> int:
        """Live subscriber count (`EventStreams::count`)."""
        return len(self.live_queries())

    def clear(self) -> None:
        """Drop all pending (published but not yet consumed) events
        (`EventStreams::clear`, best-effort per SURVEY.md §8-H4):
        readers skip every segment written before this marker."""
        write_clear_marker(self.dir, next_segment_index(self.dir))

    def close(self, drain: bool = True) -> None:
        """End-of-stream (B11): optionally drain subscribers (they see
        every published event), then stop their queries — the analog of
        dropping the `EventStreams` and letting streams finish."""
        for q in self.live_queries():
            if drain:
                self._await_caught_up(q)
            try:
                q.stop()
            except Exception:
                pass  # already terminated (possibly with a sink error)
        self._queries = []
