"""The benchmark's own tests, at a small scale.

    python3 -m pytest medbench/tests -q

Each test runs the benchmark from the repository root in a subprocess,
as a benchmark runner would, and reads the result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402

SCALE = "0.01"
WORKLOADS = ("medallion_batch", "lake_dml", "corpus_ingest")


def run(workload, trace=0, extra=(), cwd=ROOT, seed=3):
    return subprocess.run(
        [sys.executable, "medbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    out = result(run(workload))
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == [n for n, _, _ in harness.END_TO_END]
    for name, unit, _ in harness.END_TO_END:
        m = out["metrics"][name]
        assert m["unit"] == unit
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    out = result(run(workload, trace=1))
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == [n for n, _, _ in harness.PER_LAYER]
    for name, unit, _ in harness.PER_LAYER:
        assert out["metrics"][name]["unit"] == unit
    assert out["metrics"]["spark.unattributed_jobs"]["value"] == 0
    assert out["metrics"]["spark.jobs"]["value"] > 0
    if workload == "lake_dml":
        assert out["metrics"]["ingest.ingest_batch.jobs"]["value"] > 0
        assert out["metrics"]["snapshot.compact.s"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_a_check(workload):
    out = result(run(workload, extra=("--corrupt",)))
    assert not out["correct"]
    assert out["failed"] >= 1


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "medbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("medallion_batch", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in harness.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in harness.PER_LAYER]
    # corpus_ingest runs by hand; lake_dml's traced run covers its layers
    assert [w["name"] for w in spec["workloads"]] == ["medallion_batch", "lake_dml"]
