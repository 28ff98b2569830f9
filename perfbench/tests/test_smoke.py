"""Smoke mode end to end: each workload in both modes reports every
metric BENCHMARK.json declares, with its unit, passes its output
checks, and a seed reproduces the same input digest. Starts Spark;
about a minute per run."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["multimodal-direct", "caption-skew-at-scale"]
SEED = 5


def _run(workload, trace, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )


@pytest.fixture(scope="module")
def runs():
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            proc = _run(w, trace)
            assert proc.returncode == 0, proc.stderr[-3000:]
            detail, result = proc.stdout.strip().splitlines()[-2:]
            assert detail.startswith("perfbench-detail ")
            out[w, trace] = json.loads(detail.split(" ", 1)[1]), json.loads(result)
    return out


def _declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_reported(runs, workload, trace):
    _, result = runs[workload, trace]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    assert {n: m["unit"] for n, m in result["metrics"].items()} == declared
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_reproduces_the_input_digest(runs, workload):
    assert runs[workload, 0][0]["input_digest"] == runs[workload, 1][0]["input_digest"]


def test_level_above_the_host_cores_is_not_measured():
    proc = _run(WORKLOADS[0], 0, "--cores", "100000")
    assert proc.returncode == 2
    assert "invalid level" in proc.stderr and proc.stdout.strip() == ""
