"""Self-test of the benchmark in smoke mode (sf0.001 inputs, tiny rates).

    python3 -m pytest perfbench/test_perfbench.py -q

Every metric BENCHMARK.json names prints with its unit on every
workload, traced and untraced; an injected wrong expected row count is
counted as a failure; and without the package next to it the benchmark
exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run(workload: str, trace: int, *extra: str, cwd: str = REPO):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke", *extra],
        capture_output=True, text=True, timeout=300, cwd=cwd,
    )


def result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace, key):
    context, out = result(run(workload, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert context["error_frac"] == 0
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], float), name
        if key == "end_to_end":
            assert v["value"] > 0, name


def test_wrong_expected_count_raises_error_frac():
    context, out = result(run("queries", 0, "--inject-wrong-count"))
    assert out["failed"] >= 1 and not out["correct"]
    assert context["error_frac"] > 0


def test_without_the_package_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("queries", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
