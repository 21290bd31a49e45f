"""Smoke pass of the benchmark command: every workload, untraced and
traced, must emit exactly the metrics BENCHMARK.json declares, each with
its declared unit, and pass its output checks. Several minutes of
spark-submit runs; skipped where spark-submit is not installed."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

pytestmark = pytest.mark.skipif(shutil.which("spark-submit") is None,
                                reason="spark-submit is not installed")


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable if c == "python3" else c for c in BENCH["command"]]
    out = subprocess.run(
        cmd + ["--workload", workload, "--seed", "7", "--seconds", str(BENCH["run_seconds"]),
               "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_emitted(workload, trace, section):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable if c == "python3" else c for c in BENCH["command"]]
    out = subprocess.run(
        cmd + ["--workload", BENCH["workloads"][0]["name"], "--seed", "1",
               "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
