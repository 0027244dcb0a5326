"""Self-test of the benchmark in its tiny-size smoke mode. Run from the
repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    CONTRACT = json.load(_fh)
with open(os.path.join(ROOT, "perfbench", "workloads.json"), encoding="utf-8") as _fh:
    WORKLOADS = sorted(json.load(_fh)["workloads"])


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in CONTRACT[section]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_run_prints_every_metric_and_passes_checks(workload):
    proc = bench("--workload", workload, "--seed", "3", "--seconds", "6", "--trace", "1",
                 "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = (json.loads(line) for line in proc.stdout.splitlines()[-2:])
    assert result["correct"] is True, detail["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units("per_layer")
    # the untraced half's end-to-end metrics ride in the detail line
    e2e = detail["end_to_end"]
    for name, unit in units("end_to_end").items():
        assert e2e[name]["unit"] == unit and e2e[name]["value"] > 0
    assert e2e["error_rate"]["value"] == 0


def test_untraced_smoke_run_prints_end_to_end_metrics():
    proc = bench("--workload", "wide_plist_stream", "--seed", "4", "--seconds", "4",
                 "--trace", "0", "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "operator_mix", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
