"""The three workloads. Each has `setup()` (timed into `setup_s` with the
session start), `measure()` (returns the end-to-end figures), `check()`
(output checks, outside every timed window), `summarize()` (traced run
only: counters read from the topic directories after the run) and
`close()`.

Every workload drives the package's public API only. Inputs come from
the run's seed: the generated tables, the query order, arrival times
and wave shuffles.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
# Set-up runs these first: they spawn the Python UDF workers and carry
# the JVM's code generation and JIT past the first-queries slowdown.
# None is in queries.json, and none builds an artifact.
WARMUP_QUERIES = (
    "b4_classify_fizzbuzz", "c_pandas_udf", "c_tpch_q3", "c_window_lag",
    "c_agg_basic", "c_join_full_outer", "x_ngram_counts",
)
SEGMENT_EVENTS = 200  # events per posted segment (fanout)
WARMUP_S = 5  # seconds of fanout traffic left out of the latency figures
LABELS = np.array(["number", "fizz", "buzz", "fizzbuzz"])


@dataclass
class Ctx:
    spark: object
    tracer: object
    rng: np.random.Generator
    seconds: int
    smoke: bool
    sf_dir: str
    work_dir: str
    inject_wrong_count: bool = False
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    roots: list = field(default_factory=list)  # topic dirs, removed at exit

    def fail(self, n: int, msg: str) -> None:
        if n > 0:
            self.failed += n
            self.notes.append(msg)


def pct_ms(seconds, q: float) -> float:
    return float(np.percentile(np.asarray(seconds, dtype=float), q) * 1000.0)


def iqm_ms(seconds) -> float:
    """Interquartile mean (mean of the middle half of the samples), in
    ms: as robust as the median to outliers, but it averages the middle
    instead of picking one sample, so a small set of unlike operations
    (16 different queries) does not jump when two of them trade places."""
    x = np.sort(np.asarray(seconds, dtype=float))
    cut = len(x) // 4
    return float(x[cut:len(x) - cut].mean() * 1000.0)


def fizzbuzz(n: np.ndarray) -> np.ndarray:
    """Closed-form label of each n (the reference's FizzBuzz oracle)."""
    n = np.asarray(n)
    idx = (n % 3 == 0).astype(int) + 2 * (n % 5 == 0).astype(int)
    return LABELS[idx]


def classify(df):
    """The pipe transform: label each event by FizzBuzz of `n`."""
    from pyspark.sql import functions as F

    n = F.col("n")
    label = (
        F.when(n % 15 == 0, "fizzbuzz")
        .when(n % 5 == 0, "buzz")
        .when(n % 3 == 0, "fizz")
        .otherwise("number")
    )
    return df.select("source_event_id", "n", label.alias("label"), "sched")


def role_of(query_name: str | None) -> str | None:
    if not query_name:
        return None
    if query_name.startswith("sub-"):
        return "sub"
    if query_name.startswith("dedup-"):
        return "dedup"
    if query_name in ("classify", "chainsink"):
        return query_name
    return None


class Collector:
    """A vectorized subscriber sink: each micro-batch is pulled through
    Arrow (`toPandas`) and stamped with its arrival time. All checking
    and latency math happens after the run."""

    def __init__(self, tracer, query: str, cols: list[str]) -> None:
        self.tracer, self.query, self.cols = tracer, query, cols
        self.batches: list[tuple[float, object]] = []

    def __call__(self, df, batch_id: int) -> None:
        with self.tracer.span("sink", "perfbench.sink", query=self.query) as a:
            pdf = df.select(*self.cols).toPandas()
            if len(pdf):
                self.batches.append((time.perf_counter(), pdf))
            a["rows"] = len(pdf)

    def arrays(self, sort_col: str) -> dict[str, np.ndarray]:
        """Columns concatenated in delivery order (sorted by `sort_col`
        within each batch), plus the arrival time of every row."""
        parts = [pdf.sort_values(sort_col) for _, pdf in self.batches]
        out = {c: np.concatenate([p[c].to_numpy() for p in parts])
               if parts else np.array([]) for c in self.cols}
        out["arrival"] = np.concatenate(
            [np.full(len(p), t) for (t, _), p in zip(self.batches, parts)]
        ) if parts else np.array([])
        return out


def fifo_failures(seq: np.ndarray, expected: np.ndarray) -> np.ndarray:
    """Boolean mask over `expected` ids: True where an id was missed,
    delivered more than once, or delivered out of ascending order."""
    seq = np.asarray(seq, dtype=np.int64)
    pos = np.searchsorted(expected, seq)
    pos_ok = (pos < len(expected)) & (
        expected[np.minimum(pos, len(expected) - 1)] == seq
    )
    counts = np.bincount(pos[pos_ok], minlength=len(expected))
    bad = counts != 1
    breaks = np.nonzero(np.diff(seq) <= 0)[0] + 1
    bad_pos = pos[breaks][pos_ok[breaks]]
    bad[bad_pos] = True
    return bad


def topic_root(ctx: Ctx, name: str) -> str:
    root = os.path.join(ctx.work_dir, "topics", f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    ctx.roots.append(root)
    return root


def segment_counts(topic_dir: str) -> dict[str, int]:
    """Republish counters read from a topic's segment log: segments
    carrying rows inline (small path), bulk markers (executor-written
    parquet) and the rows behind both."""
    from async_event_streams_spark.topics.datasource import (
        list_segments,
        segment_path,
    )

    small = bulk = rows = 0
    for seg in list_segments(topic_dir):
        inline = 0
        with open(segment_path(topic_dir, seg)) as f:
            for line in f:
                if not line.strip():
                    continue
                rec = json.loads(line)
                if rec.get("__txn__"):
                    continue
                if rec.get("__bulk__"):
                    bulk += 1
                    rows += rec["n"]
                else:
                    inline += 1
        small += inline > 0
        rows += inline
    return dict(republish_small=small, republish_bulk=bulk, republish_rows=rows)


# -- queries -----------------------------------------------------------


class QuerySuite:
    """One cold pass over a fixed slice of the query registry in
    seed-permuted order, each query forced by a `noop` write with an
    observed row count."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        with open(os.path.join(HERE, "queries.json")) as f:
            self.names = json.load(f)["queries"]
        if ctx.smoke:
            self.names = self.names[:3]
        self.rows: dict[str, int] = {}
        self.latency: dict[str, float] = {}

    def setup(self) -> None:
        from async_event_streams_spark.queries import QUERIES

        missing = [n for n in self.names if n not in QUERIES]
        if missing:
            raise RuntimeError(f"queries missing from the registry: {missing}")
        ctx = self.ctx
        for name in WARMUP_QUERIES:
            QUERIES[name](ctx.spark, ctx.sf_dir).write.mode(
                "overwrite").format("noop").save()

    def measure(self) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from async_event_streams_spark.queries import QUERIES

        ctx, tr = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        order = [self.names[i] for i in ctx.rng.permutation(len(self.names))]
        t_suite = time.perf_counter()
        for i, name in enumerate(order):
            ctx.attempted += 1
            with tr.span(f"query:{name}", "query", query=name) as qa:
                if tr.enabled:
                    self._before_query(sc, name)
                t0 = time.perf_counter()
                try:
                    with tr.span("construct", "queries") as ca:
                        df = QUERIES[name](ctx.spark, ctx.sf_dir)
                        if tr.enabled:
                            ca["eager_jobs"] = len(
                                sc.statusTracker().getJobIdsForGroup(f"q:{name}")
                            )
                    obs = Observation(f"perfbench_rows_{i}")
                    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    with tr.span("execute", "exec"):
                        observed.write.mode("overwrite").format("noop").save()
                    self.rows[name] = int(obs.get["rows"])
                    self.latency[name] = time.perf_counter() - t0
                except Exception as exc:  # noqa: BLE001 - counted, run goes on
                    ctx.fail(1, f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                if tr.enabled:
                    self._after_query(observed, qa)
        suite_s = time.perf_counter() - t_suite
        if tr.enabled:
            sc.setJobGroup("perfbench", "after the query pass")
        lat = list(self.latency.values()) or [suite_s]
        ctx.detail.update(suite_s=suite_s, order=order,
                          latency_s=self.latency)
        return dict(latency_ms=iqm_ms(lat),
                    rate_per_s=len(self.latency) / suite_s)

    def _before_query(self, sc, name: str) -> None:
        from async_event_streams_spark.util import (
            artifact_build_secs,
            drain_artifact_events,
        )

        sc.setJobGroup(f"q:{name}", name)
        drain_artifact_events()
        self._build_secs0 = sum(artifact_build_secs().values())

    def _after_query(self, observed, qa: dict) -> None:
        from async_event_streams_spark.util import (
            artifact_build_secs,
            drain_artifact_events,
        )

        from spans import catalyst_phases_ms

        events = drain_artifact_events()
        qa["artifact_builds"] = sum(1 for _, what in events if what == "build")
        qa["artifact_hits"] = sum(1 for _, what in events if what == "hit")
        qa["artifact_build_s"] = (
            sum(artifact_build_secs().values()) - self._build_secs0
        )
        phases = catalyst_phases_ms(observed)
        qa["analysis_ms"] = phases.get("analysis", 0.0)
        qa["optimize_ms"] = phases.get("optimization", 0.0)
        qa["planning_ms"] = phases.get("planning", 0.0)

    def check(self) -> None:
        """Row counts against the DuckDB oracle for every query run, and
        a full value-hash compare for a seed-chosen subset."""
        from async_event_streams_spark.queries import ORACLES, QUERIES
        from tests.oracle_compare import compare, duckdb_conn

        ctx = self.ctx
        con = duckdb_conn(ctx.sf_dir)
        expected = {
            n: con.execute(f"SELECT count(*) FROM ({ORACLES[n]})").fetchone()[0]
            for n in self.rows
        }
        if ctx.inject_wrong_count and expected:
            first = sorted(expected)[0]
            expected[first] += 1
        bad = [n for n in self.rows if self.rows[n] != expected[n]]
        ctx.fail(len(bad), "row count != oracle: " + ", ".join(
            f"{n} {self.rows[n]} vs {expected[n]}" for n in bad))
        ok = sorted(set(self.rows) - set(bad))
        picks = [ok[i] for i in ctx.rng.choice(len(ok), min(2, len(ok)), replace=False)]
        for name in picks:
            res = compare(name, QUERIES[name](ctx.spark, ctx.sf_dir),
                          con.execute(ORACLES[name]).df())
            ctx.fail(int(not res.ok), f"{name}: oracle hash mismatch {res.detail}")
        ctx.detail["hash_checked"] = picks

    def summarize(self) -> None:
        pass

    def close(self) -> None:
        pass


# -- fanout ----------------------------------------------------------------------


class Fanout:
    """Open-loop Poisson arrivals into a FIFO topic read by two direct
    sinks and a FizzBuzz pipe whose output topic feeds a third sink,
    then one closed-loop burst drained by a chained barrier."""

    PAYLOAD = "n long, user_id long, value double, sched double"
    LABELED = "n long, label string, sched double"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.rate = 500 if ctx.smoke else 2000  # events/s, steady phase
        # untimed warm-up traffic opens the steady phase: micro-batches
        # in a fresh JVM run up to twice as slow for their first seconds
        self.warm_s = 0 if ctx.smoke else WARMUP_S
        self.n_steady = self.rate * (self.warm_s + ctx.seconds)
        self.n_burst = 2000 if ctx.smoke else 12000

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from async_event_streams_spark.topics import Topic, TopicRegistry, pipe

        ctx, tr = self.ctx, self.ctx.tracer
        ev = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"),
                           columns=["user_id", "value"])
        self.events = (ev.column("user_id").to_numpy(),
                       ev.column("value").to_numpy())
        root = topic_root(ctx, "fanout")
        reg = TopicRegistry()
        self.src = Topic(ctx.spark, "events", self.PAYLOAD, root, reg)
        self.labels = Topic(ctx.spark, "labels", self.LABELED, root, reg)
        cols = ["event_id", "n", "sched"]
        self.subs = [Collector(tr, "sub-a", cols), Collector(tr, "sub-b", cols)]
        self.chain = Collector(tr, "chainsink",
                               ["source_event_id", "n", "label", "sched"])
        pipe(self.src, sink_fn=self.subs[0], name="sub-a")
        pipe(self.src, sink_fn=self.subs[1], name="sub-b")
        pipe(self.src, fn=classify, target=self.labels, name="classify")
        pipe(self.labels, sink_fn=self.chain, name="chainsink")
        self.src.post([{"n": -1, "user_id": 0, "value": 0.0, "sched": 0.0}])
        self.src.barrier(chain=True)

    def _segments(self, lo: int, hi: int, sched, size: int) -> list[list[dict]]:
        """Segments of `size` events n in [lo, hi): payload replayed
        from the events table, `sched` the segment's due offset."""
        users, values = self.events
        segs = []
        for k, start in enumerate(range(lo, hi, size)):
            s = float(sched[k]) if sched is not None else 0.0
            segs.append([
                {"n": i, "user_id": int(users[i % len(users)]),
                 "value": float(values[i % len(values)]), "sched": s}
                for i in range(start, min(hi, start + size))
            ])
        return segs

    def _post(self, rows: list[dict]) -> None:
        with self.ctx.tracer.span("post", "topics.topic", n=len(rows)):
            self.src.post(rows)

    def measure(self) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        n_segs = -(-self.n_steady // SEGMENT_EVENTS)
        # Poisson arrivals: exponential gaps between segment posts,
        # offsets in seconds from the start of the steady phase
        gaps = ctx.rng.exponential(SEGMENT_EVENTS / self.rate, n_segs)
        offsets = np.cumsum(gaps) - gaps[0]
        steady = self._segments(0, self.n_steady, offsets, SEGMENT_EVENTS)
        # the burst is one segment, so the pipe's batch holding it is
        # above the bulk threshold and republishes through post_df
        (burst,) = self._segments(self.n_steady, self.n_steady + self.n_burst,
                                  None, self.n_burst)
        late = np.zeros(n_segs)
        self.t_start = time.perf_counter() + 0.05
        with tr.span("steady", "perfbench.phase"):
            for k, rows in enumerate(steady):
                due = self.t_start + offsets[k]
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                late[k] = time.perf_counter() - due
                self._post(rows)
            with tr.span("barrier", "topics.topic"):
                self.src.barrier(chain=True)
        t0 = time.perf_counter()
        with tr.span("burst", "perfbench.phase"):
            self._post(burst)
            with tr.span("barrier", "topics.topic"):
                self.src.barrier(chain=True)
        burst_s = time.perf_counter() - t0
        self.n_total = self.n_steady + self.n_burst
        ctx.attempted += self.n_total
        lat = self._latencies()
        ctx.detail.update(
            generator_late_ms_p99=float(np.percentile(late, 99) * 1000),
            burst_s=burst_s, **{k: v for k, v in lat.items() if k != "all"},
        )
        return dict(latency_ms=iqm_ms(lat["all"]),
                    rate_per_s=self.n_burst / burst_s)

    def _latencies(self) -> dict:
        """Delivery latency of steady-phase events after the warm-up,
        from each event's scheduled send time to its arrival in a sink."""
        out, pooled = {}, []
        for key, sinks in (("sub", self.subs), ("chain", [self.chain])):
            lat = []
            for s in sinks:
                a = s.arrays("n")
                m = ((a["n"] >= 0) & (a["n"] < self.n_steady)
                     & (a["sched"] >= self.warm_s))
                lat.append(a["arrival"][m] - (self.t_start + a["sched"][m]))
            lat = np.concatenate(lat)
            pooled.append(lat)
            out[f"{key}_p50_ms"] = pct_ms(lat, 50)
            out[f"{key}_p99_ms"] = pct_ms(lat, 99)
            out[f"{key}_samples"] = int(len(lat))
        out["all"] = np.concatenate(pooled)
        return out

    def check(self) -> None:
        """Every sink sees every event exactly once in ascending order;
        chain labels match the closed-form FizzBuzz."""
        ids = np.arange(1, self.n_total + 1)  # id 0 is the warm-up event
        bad = np.zeros(self.n_total, bool)
        for s in self.subs:
            a = s.arrays("event_id")
            bad |= fifo_failures(a["event_id"], ids)
            m = a["event_id"] > 0
            wrong = a["event_id"][m][a["n"][m] != a["event_id"][m] - 1]
            bad[np.clip(wrong - 1, 0, self.n_total - 1)] = True
        a = self.chain.arrays("source_event_id")
        bad |= fifo_failures(a["source_event_id"], ids)
        m = a["n"] >= 0
        mislabeled = a["n"][m][a["label"][m] != fizzbuzz(a["n"][m])]
        bad[np.clip(mislabeled, 0, self.n_total - 1)] = True
        self.ctx.fail(int(bad.sum()), f"fanout: {int(bad.sum())} events "
                      "missed, duplicated, reordered or mislabeled")

    def summarize(self) -> None:
        self.ctx.tracer.add("pipe", "summary", 0.0, 0.0,
                            **segment_counts(self.labels.dir))

    def close(self) -> None:
        for t in (self.src, self.labels):
            t.close(drain=False)


# -- dedup_ingest ----------------------------------------------------------------


class DedupIngest:
    """The documents corpus published twice (the second pass an exact
    re-crawl) in waves through a text-keyed 4-partition topic, drained
    by per-partition exact-dedup pipes into a unique-docs topic."""

    PAYLOAD = "doc_id long, text string, lang string"
    PARTITIONS = 4
    COMPACT_EVERY = 4

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        # two passes of seconds // 3 waves of about 2 s each: a span
        # close to the run's seconds
        self.waves_per_pass = 1 if ctx.smoke else max(1, ctx.seconds // 3)

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from async_event_streams_spark.streaming.dedup import (
            partitioned_exact_dedup_pipes,
        )
        from async_event_streams_spark.topics import (
            PartitionedTopic,
            Topic,
            TopicRegistry,
            pipe,
        )

        ctx = self.ctx
        self.docs = pq.read_table(
            os.path.join(ctx.sf_dir, "documents.parquet"),
            columns=["doc_id", "text", "lang"],
        ).to_pandas()
        root = topic_root(ctx, "dedup")
        self.state_root = os.path.join(root, "_state")
        reg = TopicRegistry()
        self.src = PartitionedTopic(
            ctx.spark, "docs", self.PAYLOAD, root, key_col="text",
            num_partitions=self.PARTITIONS, registry=reg,
        )
        self.unique = Topic(ctx.spark, "unique", self.PAYLOAD, root, reg)
        partitioned_exact_dedup_pipes(
            self.src, self.unique, self.state_root,
            compact_every=self.COMPACT_EVERY,
        )
        self.sink = Collector(ctx.tracer, "chainsink", ["doc_id", "text"])
        pipe(self.unique, sink_fn=self.sink, name="chainsink")
        warm = ctx.spark.createDataFrame(
            [(-1, "__warmup__", "en")], self.PAYLOAD)
        self.src.post_df(warm)
        self.src.barrier(chain=True)

    def measure(self) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        waves = []
        for _ in range(2):  # the crawl, then its exact re-crawl
            perm = ctx.rng.permutation(len(self.docs))
            for idx in np.array_split(perm, self.waves_per_pass):
                waves.append(ctx.spark.createDataFrame(
                    self.docs.iloc[np.sort(idx)], self.PAYLOAD))
        self.per_partition = np.zeros(self.PARTITIONS, dtype=np.int64)
        wave_s = []
        t_all = time.perf_counter()
        for df in waves:
            t0 = time.perf_counter()
            with tr.span("wave", "perfbench.phase"):
                with tr.span("post_df", "topics.partitioned"):
                    ids = self.src.post_df(df)
                with tr.span("barrier", "topics.topic"):
                    self.src.barrier(chain=True)
            wave_s.append(time.perf_counter() - t0)
            for i, (first, last) in ids.items():
                self.per_partition[i] += last - first + 1
        total = time.perf_counter() - t_all
        self.n_posted = 2 * len(self.docs)
        ctx.attempted += self.n_posted
        ctx.detail.update(waves=len(waves), docs=self.n_posted, wave_s=wave_s)
        return dict(latency_ms=iqm_ms(wave_s), rate_per_s=self.n_posted / total)

    def check(self) -> None:
        """The unique topic holds exactly one row per distinct text."""
        a = self.sink.arrays("doc_id")
        texts = a["text"][a["text"] != "__warmup__"]
        got, counts = np.unique(texts, return_counts=True)
        want = np.unique(self.docs["text"].to_numpy())
        missing = len(np.setdiff1d(want, got))
        extra = int((counts - 1).sum()) + len(np.setdiff1d(got, want))
        self.kept = len(texts)
        self.ctx.fail(missing + extra, f"dedup: {missing} distinct texts "
                      f"missing, {extra} duplicate or unknown rows")

    def summarize(self) -> None:
        dirs = sum(
            len([d for d in os.listdir(os.path.join(self.state_root, p))
                 if d.startswith("batch=")])
            for p in os.listdir(self.state_root)
        )
        skew = float(self.per_partition.max() / max(1.0, self.per_partition.mean()))
        self.ctx.tracer.add(
            "dedup", "summary", 0.0, 0.0,
            kept_frac=self.kept / self.n_posted, state_dirs_end=dirs,
            partition_skew=skew,
        )

    def close(self) -> None:
        self.src.close(drain=False)
        self.unique.close(drain=False)


WORKLOADS = {
    "queries": QuerySuite,
    "fanout": Fanout,
    "dedup_ingest": DedupIngest,
}
