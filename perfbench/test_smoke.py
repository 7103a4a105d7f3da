"""Smoke runs of every workload at tiny size, started from a cwd outside
the checkout: the result line has the contract's keys, every check
passes, and the printed metric names and units are exactly the ones
BENCHMARK.json lists.  A directory holding only BENCHMARK.json and the
benchmark fails without printing a result.

    python3 -m pytest perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def _run(script: str, cwd, *args: str) -> subprocess.CompletedProcess:
    # no inherited PYTHONPATH: the run must find the package by itself
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, script, "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload, trace, tmp_path):
    out = _run(os.path.join(HERE, "run.py"), tmp_path, "--workload",
               workload, "--trace", str(trace), "--scale", "0.1")
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert ({k: v["unit"] for k, v in res["metrics"].items()}
            == {m["name"]: m["unit"] for m in want})
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_bare_directory_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path / "perfbench" / "run.py"), tmp_path,
               "--workload", SPEC["workloads"][0]["name"])
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
