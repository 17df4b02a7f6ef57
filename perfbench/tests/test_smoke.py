"""Harness smoke test at tiny sizes: every metric ``BENCHMARK.json``
names is printed with its unit, a deliberately wrong expected value is
counted as a failure, and a directory without the engine refuses to run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,group", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_printed(workload, trace, group):
    out = _result(_run(ROOT, workload, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [m["name"] for m in SPEC[group]]
    for m in SPEC[group]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if group == "end_to_end":
            assert got["value"] > 0, m["name"]


#: the check each workload's deliberately wrong value must trip
TAMPERED_CHECK = {"nightly_load": "cartera", "dashboard": "!= DuckDB"}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expectation_is_counted_as_failure(workload):
    p = _run(ROOT, workload, 0, "--wrong-expectation")
    out = _result(p)
    assert out["failed"] >= 1 and not out["correct"]
    summary = json.loads(p.stdout.strip().splitlines()[-2].removeprefix("perfbench: "))
    assert any(TAMPERED_CHECK[workload] in f for f in summary["failures"]), summary["failures"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("_work", "_traces", "__pycache__"))
    p = _run(str(tmp_path), WORKLOADS[0], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
