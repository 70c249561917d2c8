"""Smoke test of the benchmark at tiny sizes (20k rows, sf0.001, a few
lookups). Run from the root of a checkout:

    python3 -m pytest perfbench/test_smoke.py -q

It checks that every metric BENCHMARK.json names is printed, that a
deliberately corrupted output counts as a failed operation, and that the
benchmark refuses to run outside a checkout of the package.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_printed(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest_lookup", "library"])
def test_corrupted_output_is_a_failed_operation(workload):
    res = _run(workload, 0, "--corrupt")
    assert res["failed"] >= 1 and not res["correct"]


def test_refuses_to_run_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src, open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    with open(tmp_path / "BENCHMARK.json", "w") as fh:
        json.dump(SPEC, fh)
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "ingest_lookup", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
