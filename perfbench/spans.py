"""In-memory span recorder and the samplers the benchmark reads from
outside the package: Spark's own status store, streaming-query
progress events, /proc host counters and process-tree memory.

Nothing here touches the package's internals. Spans are recorded
around the benchmark's own calls into the package, plus spans rebuilt
after the run from Spark's job records and streaming progress events.
A disabled `Tracer` records nothing, so the untraced run pays only a
context-manager entry per call.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Spans as plain dicts: id, parent, name, layer, t0, t1 (seconds
    on the `time.perf_counter` clock) and free-form attrs."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        # wall-clock time = perf_counter time + epoch; lets spans rebuilt
        # from Spark's epoch-millisecond records share our clock
        self.epoch = time.time() - time.perf_counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 1

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    def add(self, name, layer, t0, t1, parent=None, **attrs) -> int:
        """Record an already-timed span; returns its id."""
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self.spans.append(
                dict(id=sid, parent=parent, name=name, layer=layer,
                     t0=t0, t1=t1, attrs=attrs)
            )
        return sid

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time the block as a child of this thread's current span.
        Yields the attrs dict, so the block can attach counts."""
        if not self.enabled:
            yield attrs
            return
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        st = self._stack()
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(
                    dict(id=sid, parent=parent, name=name, layer=layer,
                         t0=t0, t1=t1, attrs=attrs)
                )

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self.epoch

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# -- Spark status store ------------------------------------------------------


def record_spark_jobs(spark, tracer: Tracer, parent_of, default_parent):
    """Rebuild one span per finished Spark job from the driver's status
    store, parented by `parent_of(job_group, start) -> span id or None`,
    with the job's stage and task totals as attrs."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        grp = job.jobGroup()
        group = grp.get() if grp.isDefined() else None
        totals = dict(stages=0, tasks=0, run_ms=0, gc_ms=0, shuffle_read=0,
                      shuffle_write=0, spill=0)
        sids = job.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped (reused shuffle output)
            totals["stages"] += 1
            totals["tasks"] += st.numCompleteTasks()
            totals["run_ms"] += st.executorRunTime()
            totals["gc_ms"] += st.jvmGcTime()
            totals["shuffle_read"] += st.shuffleReadBytes()
            totals["shuffle_write"] += st.shuffleWriteBytes()
            totals["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        t0 = tracer.from_epoch_ms(sub.get().getTime())
        parent = parent_of(group, t0)
        tracer.add(
            f"job:{job.jobId()}", "spark.job", t0,
            tracer.from_epoch_ms(done.get().getTime()),
            parent=parent if parent is not None else default_parent,
            group=group, **totals,
        )


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time of `df`'s own query
    execution, from its QueryPlanningTracker (forces planning first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# -- streaming progress -------------------------------------------------------


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _segment(offset) -> int | None:
    if not offset:
        return None
    try:
        return int(json.loads(offset).get("segment"))
    except (ValueError, TypeError, AttributeError):
        return None


def progress_listener(tracer: Tracer, role_of):
    """A StreamingQueryListener that turns every micro-batch progress
    event into a span (layer `stream.<role>`) carrying the engine's own
    duration split. `role_of(query_name) -> role or None`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            role = role_of(p.name)
            if role is None:
                return
            d = p.durationMs
            start = _iso_to_epoch(p.timestamp) - tracer.epoch
            src = p.sources[0] if p.sources else None
            end_seg = _segment(src.endOffset) if src else None
            latest_seg = _segment(src.latestOffset) if src else None
            tracer.add(
                "microbatch", f"stream.{role}", start,
                start + d.get("triggerExecution", 0) / 1000.0,
                role=role, query=p.name, run_id=str(p.runId), batch=p.batchId,
                rows=p.numInputRows,
                latestOffset_ms=d.get("latestOffset", 0),
                planning_ms=d.get("queryPlanning", 0),
                addBatch_ms=d.get("addBatch", 0),
                commit_ms=d.get("walCommit", 0) + d.get("commitOffsets", 0),
                trigger_ms=d.get("triggerExecution", 0),
                lag_segments=(
                    latest_seg - end_seg
                    if latest_seg is not None and end_seg is not None
                    else 0
                ),
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# -- host and memory ----------------------------------------------------------


def host_sample() -> dict:
    """Load average and aggregate /proc/stat CPU counters (Linux)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return dict(load1=load1, total=sum(v), idle=v[3] + v[4],
                steal=v[7] if len(v) > 7 else 0)


def host_delta(a: dict, b: dict) -> dict:
    total = max(1, b["total"] - a["total"])
    return dict(
        load1_start=a["load1"],
        load1_end=b["load1"],
        cpu_busy_frac=1.0 - (b["idle"] - a["idle"]) / total,
        steal_frac=(b["steal"] - a["steal"]) / total,
    )


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` in the process tree."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set size (VmHWM) over `root_pid` and all its
    live descendants: the driver JVM and the Python processes."""
    total_kb = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
