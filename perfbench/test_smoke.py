"""Smoke test of the benchmark: every workload once at its tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Each run is a separate driver process (a fresh JVM), so this takes a few
minutes. It checks the result line against BENCHMARK.json: the keys, every
metric name and unit, and that the outputs were correct.
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
sys.path.insert(0, HERE)

import harness as H  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    return res


def _check_metrics(res: dict, spec: list[dict]) -> None:
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_spec_lists_every_metric():
    assert {w["name"] for w in SPEC["workloads"]} <= set(W.WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == H.per_layer_names()
    layers = {m["name"].split(".")[0] for m in SPEC["per_layer"]} - {"trace"}
    assert layers == set(H.LAYERS)


@pytest.mark.parametrize("workload", list(W.WORKLOADS))
def test_traced_run(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "3",
                       "--seconds", "1", "--trace", "1", "--tiny"))
    _check_metrics(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.coverage"] >= 0.9
    assert sum(m[f"{l}.self_s"] for l in H.LAYERS) > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "4",
                       "--seconds", "1", "--trace", "0", "--tiny"))
    _check_metrics(res, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_package(tmp_path):
    """Run from a directory holding only the benchmark, it exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
