"""Benchmark self-test at a tiny size.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each case starts ``perfbench/run.py`` in a subprocess with a fresh JVM
(about 30–60 s a run on 4 cores, most of it the cold set-up).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = ["--docs", "200", "--batch-queries", "10", "--seconds", "1"]


def bench(cwd: Path, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run([sys.executable, *SPEC["command"][1:], *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return proc.returncode, None


def assert_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_with_unit(workload):
    rc, result = bench(ROOT, "--workload", workload, "--seed", "7",
                       "--trace", "0", *TINY)
    assert rc == 0 and result is not None
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_answer_raises_error_rate(workload):
    """A traced run with one answer altered before the checks: every
    per-layer metric is printed with its unit, and the error shows."""
    rc, result = bench(ROOT, "--workload", workload, "--seed", "7",
                       "--trace", "1", "--corrupt", *TINY)
    assert rc == 0 and result is not None
    assert not result["correct"] and result["failed"] >= 1
    assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["error_rate"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("out", ".work", "__pycache__"))
    rc, result = bench(tmp_path, "--workload", WORKLOADS[0], "--seed", "1",
                       "--trace", "0", "--seconds", "1")
    assert rc != 0 and result is None
