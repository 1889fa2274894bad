"""End-to-end runs of the benchmark. Each run starts a Spark session; the
counter tests make two traced runs per workload (several minutes)."""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ["query_mix", "versioned_ingest"]
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
         "sources.files_discovered", "checkpoint.rdds_released")


def _run(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "8", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@functools.cache
def _two_traced_runs(workload: str) -> tuple[dict, dict]:
    metrics = []
    for _ in range(2):
        p = _run(ROOT, workload, 5, 1)
        assert p.returncode == 0, p.stderr[-2000:]
        result = json.loads(p.stdout.splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        metrics.append({k: v["value"] for k, v in result["metrics"].items()})
    return metrics[0], metrics[1]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "query_mix", 1, 0)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_exact_counters_repeat_on_one_seed(workload):
    a, b = _two_traced_runs(workload)
    assert {k: a[k] for k in EXACT} == {k: b[k] for k in EXACT}
    assert a["spark.jobs"] > 0 and a["spark.failed_tasks"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_codegen_compiles_repeat_on_one_seed(workload):
    a, b = _two_traced_runs(workload)
    assert a["codegen.compiles"] == b["codegen.compiles"]
