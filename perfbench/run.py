#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see README.md) against the package next to this
directory on local[nproc], checks its outputs, and prints as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics, computed from
the spans file the run writes. The line before it carries the run's
context: host load and steal, nproc, memory, pyspark version and
workload detail figures.

Everything the run writes goes under .perfbench/ at the repository
root. --smoke shrinks inputs and rates (sf0.001) for the self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "async_event_streams_spark"
DEADLINE_S = 170  # a run must end within 180 s; give up cleanly before


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs and tiny rates (self-test)")
    ap.add_argument("--inject-wrong-count", action="store_true",
                    help="corrupt one expected row count (self-test)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Match the tier-1 environment and keep every file the run writes
    (Spark scratch, temp files, topic logs) inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    sys.path[:0] = [HERE, REPO, os.path.join(REPO, "tools")]


def dataset(work: str, sf: float, seed: int) -> str:
    """The seed's generated tables (tools/gen_sf.py), built once per
    checkout and seed."""
    out = os.path.join(work, "data", f"sf{sf}-seed{seed}")
    if not os.path.isdir(out):
        import gen_sf

        part = f"{out}.part{os.getpid()}"
        gen_sf.generate(sf, part, seed=seed)
        try:
            os.rename(part, out)
        except OSError:  # a concurrent run with this seed got there first
            shutil.rmtree(part)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process under
    it, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = spans.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def job_parent(tracer):
    """Parent a Spark job under the construct or execute span of the
    query whose job group launched it, by start time."""
    phases: dict[str, list] = {}
    for sp in tracer.spans:
        if sp["layer"] == "query":
            phases[sp["attrs"]["query"]] = [
                (c["id"], c["t0"], c["t1"]) for c in tracer.spans
                if c["parent"] == sp["id"]
            ] + [(sp["id"], sp["t0"], sp["t1"])]

    def parent(group, t0):
        if not group or not group.startswith("q:"):
            return None
        for sid, a, b in phases.get(group[2:], ()):
            if a <= t0 <= b:
                return sid
        return phases[group[2:]][-1][0] if group[2:] in phases else None

    return parent


def watchdog() -> None:
    """Kill the whole process tree if the run overstays: no result is
    printed, so the run counts as failed."""
    print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
    for p in spans.descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found in {REPO}",
              file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()

    work = os.path.join(REPO, ".perfbench")
    prepare_env(work)
    import numpy as np
    import pyspark

    import report
    from workloads import WORKLOADS, Ctx, role_of

    sf_dir = dataset(work, 0.001 if args.smoke else 0.01, args.seed)
    from async_event_streams_spark.session import get_spark

    tracer = spans.Tracer(bool(args.trace))
    host0 = spans.host_sample()
    t0 = time.perf_counter()
    with tracer.span("run", "run"):
        run_id = tracer.current()
        with tracer.span("session.start", "session"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            if args.trace:
                spark.streams.addListener(spans.progress_listener(tracer, role_of))
            ctx = Ctx(
                spark=spark, tracer=tracer,
                rng=np.random.default_rng(args.seed), seconds=args.seconds,
                smoke=args.smoke, sf_dir=sf_dir, work_dir=work,
                inject_wrong_count=args.inject_wrong_count,
            )
            wl = WORKLOADS[args.workload](ctx)
            try:
                with tracer.span("setup", "perfbench.phase"):
                    wl.setup()
                setup_s = time.perf_counter() - t0
                with tracer.span("measure", "perfbench.phase"):
                    e2e = wl.measure()
                e2e["setup_s"] = setup_s
                peak_rss_mb = spans.tree_peak_rss_mb(os.getpid())
                wl.check()
                if args.trace:
                    wl.summarize()
            finally:
                wl.close()
                for root in ctx.roots:
                    shutil.rmtree(root, ignore_errors=True)
            if args.trace:
                time.sleep(0.5)  # let the listener bus deliver the last events
                spans.record_spark_jobs(spark, tracer, job_parent(tracer), run_id)
        except BaseException:
            stop_spark(spark)
            raise
    stop_spark(spark)
    host = spans.host_delta(host0, spans.host_sample())
    ctx_line = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, nproc=os.environ["SPARK_GRAFT_CPUS"],
        mem_gb=round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        pyspark=pyspark.__version__, host=host, end_to_end=e2e,
        peak_rss_mb=peak_rss_mb,
        error_frac=ctx.failed / max(1, ctx.attempted), detail=ctx.detail,
    )
    for note in ctx.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    if args.trace:
        path = os.path.join(work, f"spans-{args.workload}-seed{args.seed}.json")
        meta = dict(ctx_line, cores=int(ctx_line["nproc"]))
        tracer.dump(path, meta)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
        values = report.layer_metrics(dict(meta=meta, spans=tracer.spans))
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    timer.cancel()
    print(json.dumps(dict(perfbench=ctx_line)))
    print(json.dumps(dict(
        correct=ctx.failed == 0,
        attempted=ctx.attempted,
        failed=ctx.failed,
        metrics={m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                 for m in wanted},
    )))
    return 0


if __name__ == "__main__":
    sys.exit(main())
