"""Tiny-size smoke test of the benchmark itself.

    python -m pytest perfbench/test_smoke.py -q

Each case runs perfbench/run.py in its own process (it starts and stops
its own Spark session) at a tenth of the normal input size.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int = 0, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_declared(result: dict, declared: list[dict]) -> None:
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", ["suite_exact", "suite_sketch", "resume_append"])
def test_every_end_to_end_metric_is_printed(workload):
    res = _run(workload)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    _assert_declared(res, BENCH["end_to_end"])
    assert all(res["metrics"][m["name"]]["value"] > 0 for m in BENCH["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_per_layer_metric_is_printed(workload):
    res = _run(workload, 1)
    assert res["correct"]
    _assert_declared(res, BENCH["per_layer"])


def test_corrupted_expected_matrix_counts_as_failed():
    res = _run("suite_sketch", 0, "--corrupt-expected")
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert res["metrics"]["ok_ops_ratio"]["value"] == 0.0
