"""Smoke test of the benchmark at a few hundred rows per table.

Run with ``python3 -m pytest perfbench/test_smoke.py``.  It checks that every
metric BENCHMARK.json names is printed with its unit and sample count, that
a deliberately corrupted expected result is counted as a failure (so the
correctness check can fail), and that the command fails without the engine.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _check_result(lines: list[str], section: str) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    return result


def _check_report(lines: list[str], section: str) -> None:
    for m in SPEC[section]:
        pat = re.compile(rf"^# {re.escape(m['name'])} = \S+ {re.escape(m['unit'])} \(n=\d+\)$")
        assert any(pat.match(line) for line in lines), m["name"]


def test_first_workload_prints_every_end_to_end_metric():
    code, lines = _run("--workload", SPEC["workloads"][0]["name"], "--smoke", "--trace", "0")
    assert code == 0, lines[-5:]
    result = _check_result(lines, "end_to_end")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert all(v["value"] > 0 for v in result["metrics"].values())
    _check_report(lines, "end_to_end")


def test_traced_run_prints_every_per_layer_metric():
    code, lines = _run("--workload", SPEC["workloads"][-1]["name"], "--smoke", "--trace", "1")
    assert code == 0, lines[-5:]
    result = _check_result(lines, "per_layer")
    assert result["correct"]
    _check_report(lines, "end_to_end")
    _check_report(lines, "per_layer")
    assert any(line.startswith("# layer times, measured ops") for line in lines)


def test_corrupted_expectation_counts_as_failure():
    code, lines = _run("--workload", "reason", "--smoke", "--trace", "0", "--corrupt-expected")
    assert code == 1
    result = _check_result(lines, "end_to_end")
    assert not result["correct"] and result["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    code, lines = _run("--workload", SPEC["workloads"][0]["name"], "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and not any(line.startswith("{") for line in lines)
