"""Per-layer metrics and the self-time table, computed from a spans file
alone, plus the tracing overhead against an untraced run.

    python3 perfbench/report.py SPANS.json [--untraced RUN_OUTPUT.txt]

SPANS.json is what a `--trace 1` run writes (its path is printed on
stderr). RUN_OUTPUT.txt is the captured standard output of a
`--trace 0` run with the same workload, seed and seconds; its last line
holds the untraced end-to-end figures, and the overhead is the traced
figure minus the untraced one.

`run.py --trace 1` prints exactly `layer_metrics()` of the file it
writes, so the per-layer table is reproducible from the file.
"""

from __future__ import annotations

import argparse
import json
from collections import defaultdict

import numpy as np

ROLES = ("sub", "classify", "chainsink", "dedup")


def _p(values, q) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def _covered(intervals, lo, hi) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per layer: span count, summed duration, and summed self time
    (each span's duration minus the part its children cover)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    out: dict[str, dict] = defaultdict(lambda: dict(spans=0, total_s=0.0, self_s=0.0))
    for s in spans:
        if s["layer"] == "summary":
            continue
        dur = s["t1"] - s["t0"]
        row = out[s["layer"]]
        row["spans"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - _covered(kids.get(s["id"], ()), s["t0"], s["t1"])
    return dict(out)


def layer_metrics(doc: dict) -> dict[str, float]:
    spans, meta = doc["spans"], doc["meta"]
    by_layer = defaultdict(list)
    for s in spans:
        by_layer[s["layer"]].append(s)

    def dur(layer):
        return sum(s["t1"] - s["t0"] for s in by_layer[layer])

    def attr_sum(layer, key):
        return sum(s["attrs"].get(key, 0) for s in by_layer[layer])

    (m0, m1), = [(s["t0"], s["t1"]) for s in by_layer["perfbench.phase"]
                 if s["name"] == "measure"]
    m: dict[str, float] = {}
    m["session.start_s"] = dur("session")

    m["queries.construct_s"] = dur("queries")
    m["queries.eager_jobs"] = attr_sum("queries", "eager_jobs")
    for k in ("analysis_ms", "optimize_ms", "planning_ms"):
        m[f"queries.{k}"] = attr_sum("query", k)

    jobs = by_layer["spark.job"]
    exec_ids = {s["id"] for s in by_layer["exec"]}
    # the timed writes' jobs are parented under execute spans; without
    # any (topic workloads) every job of the run counts
    scope = [j for j in jobs if j["parent"] in exec_ids] if exec_ids else jobs
    m["exec.execute_s"] = dur("exec")
    m["exec.jobs"] = len(scope)
    m["exec.stages"] = sum(j["attrs"]["stages"] for j in scope)
    m["exec.tasks"] = sum(j["attrs"]["tasks"] for j in scope)
    busy_window = m["exec.execute_s"] if exec_ids else m1 - m0
    m["exec.task_busy_frac"] = (
        sum(j["attrs"]["run_ms"] for j in scope) / 1000.0
        / max(1e-9, busy_window * meta["cores"])
    )
    mb = 1024.0 * 1024.0
    m["exec.shuffle_read_mb"] = sum(j["attrs"]["shuffle_read"] for j in scope) / mb
    m["exec.shuffle_write_mb"] = sum(j["attrs"]["shuffle_write"] for j in scope) / mb
    m["exec.spill_mb"] = sum(j["attrs"]["spill"] for j in scope) / mb
    m["exec.gc_s"] = sum(j["attrs"]["gc_ms"] for j in scope) / 1000.0

    builds = attr_sum("query", "artifact_builds")
    hits = attr_sum("query", "artifact_hits")
    m["artifact.builds"] = builds
    m["artifact.hits"] = hits
    m["artifact.hit_ratio"] = hits / (builds + hits) if builds + hits else 0.0
    m["artifact.build_s"] = attr_sum("query", "artifact_build_s")

    topic = by_layer["topics.topic"]
    posts = [s for s in topic if s["name"] == "post"]
    post_ms = [(s["t1"] - s["t0"]) * 1000.0 for s in posts]
    m["topic.post_ms_p50"] = _p(post_ms, 50)
    m["topic.post_ms_p99"] = _p(post_ms, 99)
    post_s = sum(s["t1"] - s["t0"] for s in posts)
    m["topic.post_eps"] = (
        sum(s["attrs"]["n"] for s in posts) / post_s if post_s else 0.0
    )
    barrier_ms = [(s["t1"] - s["t0"]) * 1000.0 for s in topic if s["name"] == "barrier"]
    m["topic.barrier_ms_p50"] = _p(barrier_ms, 50)

    for role in ROLES:
        b = by_layer[f"stream.{role}"]
        rows = [s["attrs"]["rows"] for s in b]
        pre = f"stream.{role}."
        m[pre + "batches"] = len(b)
        m[pre + "empty_batches"] = sum(1 for r in rows if r == 0)
        m[pre + "rows_per_batch"] = float(np.mean(rows)) if rows else 0.0
        for k in ("latestOffset_ms", "planning_ms", "addBatch_ms",
                  "commit_ms", "trigger_ms"):
            m[pre + k] = float(sum(s["attrs"][k] for s in b))
        m[pre + "trigger_ms_p50"] = _p([s["attrs"]["trigger_ms"] for s in b], 50)
        # share of the measure window this role's queries spent in a batch
        n_queries = len({s["attrs"]["query"] for s in b}) or 1
        busy = sum(_covered([(s["t0"], s["t1"])], m0, m1) for s in b)
        m[pre + "busy_frac"] = busy / max(1e-9, (m1 - m0) * n_queries)
        m[pre + "lag_segments_max"] = max(
            (s["attrs"]["lag_segments"] for s in b), default=0)

    # share of the sink queries' micro-batch time spent in the
    # benchmark's own sink code: each sink span minus the Spark jobs its
    # query ran inside it (reading the micro-batch is the engine's work)
    run_of = {s["attrs"]["query"]: s["attrs"]["run_id"]
              for s in spans if s["layer"].startswith("stream.")}
    jobs_of = defaultdict(list)
    for j in jobs:
        jobs_of[j["attrs"]["group"]].append((j["t0"], j["t1"]))
    sink_self = trigger_ms = 0.0
    for s in by_layer["perfbench.sink"]:
        q = s["attrs"]["query"]
        sink_self += (s["t1"] - s["t0"]) - _covered(
            jobs_of.get(run_of.get(q), ()), s["t0"], s["t1"])
    for s in spans:
        if s["layer"].startswith("stream.") and s["attrs"]["query"] in {
                x["attrs"]["query"] for x in by_layer["perfbench.sink"]}:
            trigger_ms += s["attrs"]["trigger_ms"]
    m["sink.self_frac"] = sink_self * 1000.0 / trigger_ms if trigger_ms else 0.0

    summary = {s["name"]: s["attrs"] for s in by_layer["summary"]}
    pipe = summary.get("pipe", {})
    for k in ("republish_small", "republish_bulk", "republish_rows"):
        m[f"pipe.{k}"] = pipe.get(k, 0)
    dedup = summary.get("dedup", {})
    m["ptopic.post_df_s"] = dur("topics.partitioned")
    m["ptopic.partition_skew"] = dedup.get("partition_skew", 0.0)
    m["dedup.kept_frac"] = dedup.get("kept_frac", 0.0)
    m["dedup.state_dirs_end"] = dedup.get("state_dirs_end", 0)

    detail = meta["detail"]
    for k in ("sub_p50_ms", "sub_p99_ms", "chain_p50_ms", "chain_p99_ms"):
        m[f"deliver.{k}"] = detail.get(k, 0.0)
    m["generator.late_ms_p99"] = detail.get("generator_late_ms_p99", 0.0)
    m["process.peak_rss_mb"] = meta["peak_rss_mb"]
    host = meta["host"]
    m["host.cpu_busy_frac"] = host["cpu_busy_frac"]
    m["host.steal_frac"] = host["steal_frac"]
    m["host.load1_start"] = host["load1_start"]
    m["trace.spans"] = len(spans)
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--untraced", help="stdout of the matching --trace 0 run")
    args = ap.parse_args()
    with open(args.spans) as f:
        doc = json.load(f)
    meta = doc["meta"]
    print(f"# {meta['workload']} seed={meta['seed']} seconds={meta['seconds']}")
    print(f"{'layer':24s} {'spans':>7s} {'total_s':>10s} {'self_s':>10s}")
    for layer, row in sorted(self_times(doc["spans"]).items()):
        print(f"{layer:24s} {row['spans']:7d} {row['total_s']:10.3f} "
              f"{row['self_s']:10.3f}")
    print()
    for k, v in layer_metrics(doc).items():
        print(f"{k:36s} {v:14.4f}")
    if args.untraced:
        with open(args.untraced) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        untraced = json.loads(lines[-1])["metrics"]
        print("\n# tracing overhead (traced - untraced)")
        for k, v in meta["end_to_end"].items():
            base = untraced[k]["value"]
            print(f"{k:16s} traced {v:12.4f} untraced {base:12.4f} "
                  f"diff {v - base:+12.4f} ({(v - base) / base:+.1%})")


if __name__ == "__main__":
    main()
