"""Smoke test of the benchmark itself: a tiny run of each workload prints
every metric BENCHMARK.json names, with its unit, and a deliberately wrong
expected answer is counted as a failure.

Run from the repository root: python3 -m pytest perfbench/test_smoke.py -q
(a few minutes: every run starts Spark).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def left_running() -> list[int]:
    """Processes still alive that were started with this checkout's
    benchmark scratch directory in their environment (a server, its JVM,
    an in-process Spark's JVM or its Python workers)."""
    mark = os.path.join(ROOT, ".perfbench_run").encode()
    pids = []
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if mark in f.read():
                    pids.append(int(pid))
        except (OSError, ValueError):
            pass
    return pids


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """Run the benchmark and check it left no process running; returns ({metric: (value, unit)} from the printed
    lines, the final JSON object)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert left_running() == []
    lines = out.stdout.strip().splitlines()
    printed = {}
    for ln in lines[:-1]:
        name, value, unit = ln.split()
        printed[name] = (float(value), unit)
    return printed, json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,group", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_prints_with_unit(workload, trace, group):
    printed, result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC[group]:
        assert printed[m["name"]][1] == m["unit"], m["name"]
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == 0:
        assert printed["failed_ratio"] == (0.0, "ratio")
        for name in ("read_p50_ms", "peak_rss_mb"):
            assert printed[name][0] > 0, name
    if trace == 1 and workload == "dialect_corpus":
        # the wrapped layers account for Engine.run_statement within 10%
        assert printed["trace.unattributed_share"][0] <= 0.10


@pytest.mark.parametrize("workload", ["dialect_corpus", "write_mix"])
def test_wrong_expected_answer_counts_as_failure(workload):
    printed, result = bench(workload, 0, "--wrong-answer")
    assert result["failed"] >= 1
    assert result["correct"] is False


def test_refuses_without_the_engine(tmp_path):
    """In a tree without the engine package the benchmark exits non-zero
    and prints no result."""
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for name in os.listdir(HERE):
        if name.endswith((".py", ".json")):
            (dst / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run(
        [sys.executable, str(dst / "run.py"), "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
