"""Self-test of the benchmark: each workload once, tiny and traced.

    python3 -m pytest perfbench -q

Each run uses sf0.001 and tracing, with ``--seconds 1`` so that it makes the
cold pass and no warm pass, and must
print every metric BENCHMARK.json names with its unit, get every statement
right, and account for each statement's wall time with its layers' self
times to within 10%.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_df", "sql_adhoc", "pipeline", "etl_write")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_once(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    spec = _spec()

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert report["error_rate"] == 0, report["errors"]
    assert result["correct"] and result["failed"] == 0

    printed = {"end_to_end": report["end_to_end"], "per_layer": result["metrics"]}
    for group, metrics in printed.items():
        for m in spec[group]:
            assert m["name"] in metrics, f"{group} metric {m['name']} missing"
            assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
            assert isinstance(metrics[m["name"]]["value"], (int, float)), m["name"]

    cover = report["layers"]["self.cover"]
    assert 0.9 <= cover <= 1.1, f"layer self times cover {cover:.3f} of statement wall time"


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark there is nothing to measure."""
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (tmp_path / "perfbench" / name).write_text(open(os.path.join(HERE, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch_df", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
