"""Toy-size smoke test of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced at ``--scale toy`` (the
2k-page corpus; curate has one input size). Every run must print every
metric ``BENCHMARK.json`` names for its mode and pass its output checks.
"""

from __future__ import annotations

import json
import math
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace),
         "--scale", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["crawl_polite", "curate", "crawl_bfs"])
def test_workload_reports_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1

    section = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in section]
    for m in section:
        got = result["metrics"][m["name"]]
        assert NAME.fullmatch(m["name"])
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert math.isfinite(got["value"])
        if not trace:  # end-to-end metrics are never 0
            assert got["value"] > 0, m["name"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "crawl_polite", 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_union_seconds_counts_overlap_once():
    sys.path.insert(0, str(ROOT))
    from perfbench.tracing import union_seconds

    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_seconds([(0, 10), (2, 3)]) == 10.0
