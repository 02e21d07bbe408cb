"""Tiny-size smoke runs of every workload through ``run.py``: each run must
finish, pass its output checks and emit every metric BENCHMARK.json names.

Each test copies the package and the benchmark into a temporary directory
and runs there, so the repository's own ``perfbench/.scratch`` is left
alone. About a minute per run at ``local[nproc]``; a traced run makes an
untraced run first.
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
REPO = os.path.dirname(BENCH)


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _checkout(tmp_path, with_package: bool = True) -> str:
    root = tmp_path / "checkout"
    shutil.copytree(BENCH, root / "perfbench", ignore=shutil.ignore_patterns(".scratch", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), root / "BENCHMARK.json")
    if with_package:
        shutil.copytree(os.path.join(REPO, "search_engine_spark"), root / "search_engine_spark",
                        ignore=shutil.ignore_patterns("__pycache__"))
    return str(root)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def test_refuses_to_run_without_the_program(tmp_path):
    cwd = _checkout(tmp_path, with_package=False)
    p = _run(cwd, "--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_run_emits_every_metric(tmp_path, workload):
    cwd = _checkout(tmp_path)
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(cwd, "--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--scale", "0.05")
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0, p.stdout[-3000:]
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        if key == "end_to_end":
            assert all(v["value"] > 0 for v in out["metrics"].values())
    # nothing of the run is left behind outside its own scratch
    assert sorted(os.listdir(cwd)) == ["BENCHMARK.json", "perfbench", "search_engine_spark"]
