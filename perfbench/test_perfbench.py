"""Smoke tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/ -q

Each test runs ``perfbench/run.py`` on the real workloads with a short
``--seconds`` (which shortens trickle_fresh's schedule; hot_redelivery's
input is fixed) as a separate process, the way it is run for real, so
every run pays Spark's start-up and the module takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

pytestmark = pytest.mark.slow


def _bench_processes() -> list[int]:
    """Processes still running from any benchmark run directory."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if b".perfbench_tmp" in cmd or b".perfbench_tmp" in env:
            found.append(int(name))
    return found


def _run(workload: str, trace: int, seed: int = 3, cwd: Path = ROOT) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    assert _bench_processes() == [], "a process outlived the benchmark run"
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    out = json.loads(stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    rc, out = _run(workload, trace=0)
    assert rc == 0
    metrics = _result(out)["metrics"]
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_and_exact_job_counts(workload):
    runs = []
    for _ in range(2):
        rc, out = _run(workload, trace=1)
        assert rc == 0
        runs.append(_result(out)["metrics"])
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    for metrics in runs:
        assert {k: v["unit"] for k, v in metrics.items()} == want
    jobs = [m["spark.jobs_per_batch"]["value"] for m in runs]
    assert jobs[0] >= 1 and jobs[0] == int(jobs[0]) and jobs[0] == jobs[1]
    if workload == "trickle_fresh":
        # the base is committed so that the 2nd timed batch always folds
        assert [m["lake.merge.folds"]["value"] for m in runs] == [1, 1]


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(WORKLOADS[0], trace=0, cwd=tmp_path)
    assert rc != 0
    assert '"metrics"' not in out
