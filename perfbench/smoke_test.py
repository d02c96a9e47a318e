"""Smoke test for the benchmark itself.

    python3 perfbench/smoke_test.py          # or: python3 -m pytest perfbench/smoke_test.py

Runs every workload at the tiny scale, untraced and traced, and checks
that each run's output checks pass and that each metric BENCHMARK.json
names is printed with its unit.  Also checks that the benchmark fails
(non-zero exit, no result line) in a directory holding only
BENCHMARK.json and perfbench/, where the program is absent.  Takes a few
minutes on 4 CPUs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "5", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _check_result(workload: str, trace: int) -> None:
    proc = _run(CHECKOUT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, set(got) ^ {m["name"] for m in wanted}
    for m in wanted:
        entry = got[m["name"]]
        assert entry["unit"] == m["unit"], (m["name"], entry)
        assert isinstance(entry["value"], (int, float)), (m["name"], entry)
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in wanted), got


def test_workloads_untraced() -> None:
    for w in SPEC["workloads"]:
        _check_result(w["name"], 0)


def test_workloads_traced() -> None:
    for w in SPEC["workloads"]:
        _check_result(w["name"], 1)


def test_fails_without_program() -> None:
    bare = os.path.join(HERE, "_smoke", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_*", "__pycache__"))
        shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
        proc = _run(bare, SPEC["workloads"][0]["name"], 0)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(os.path.join(HERE, "_smoke"), ignore_errors=True)


if __name__ == "__main__":
    for test in (test_fails_without_program, test_workloads_untraced, test_workloads_traced):
        test()
        print(f"ok {test.__name__}", flush=True)
    sys.exit(0)
