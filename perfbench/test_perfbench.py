"""Self-test of the benchmark: ``python3 -m pytest perfbench -q`` from the
repository root (a few minutes: every workload runs once per trace mode
at the tiny size, plus one run with a deliberately wrong result)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args: str, cwd: str = ROOT, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_every_metric_is_printed_with_its_unit(workload: str, trace: str) -> None:
    out = _result(_run("--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", trace, "--size", "tiny"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_injected_wrong_result_is_counted(workload: str) -> None:
    out = _result(_run("--workload", workload, "--seed", "5", "--seconds", "1",
                       "--size", "tiny", "--inject-fault"))
    assert out["failed"] >= 1 and out["correct"] is False


def test_fails_without_the_package(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", cwd=str(tmp_path),
             timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_same_topk_tolerates_only_ties() -> None:
    sys.path.insert(0, ROOT)
    from workloads import same_topk

    a = [("d1", 3.0), ("d2", 2.0), ("d3", 2.0), ("d4", 1.0)]
    assert same_topk(a, [("d1", 3.0), ("d3", 2.0), ("d2", 2.0), ("d4", 1.0)], 1e-6)
    assert not same_topk(a, [("d2", 3.0), ("d1", 2.0), ("d3", 2.0), ("d4", 1.0)], 1e-6)
    assert not same_topk(a, a[:3], 1e-6)
    assert not same_topk(a, [("d1", 3.1)] + a[1:], 1e-6)
    # a tie band cut by top-k at the end of the list may hold other docs
    assert same_topk(a[:3], [("d1", 3.0), ("d2", 2.0), ("d9", 2.0)], 1e-6)
