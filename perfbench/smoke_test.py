"""Tiny-size smoke test of every workload (about 4 minutes on 4 cores).

    python3 -m pytest perfbench/smoke_test.py -q

Each workload must print every end-to-end metric with its unit, pass its
own output check, and report ``error_rate`` > 0 once one wrong output row
is injected. One traced run must print every per-layer metric.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, *extra: str) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _reported(lines: list[str], name: str) -> tuple[float, str]:
    for line in lines:
        m = re.match(rf"^{re.escape(name)}\s+(-?[\d.]+)\s+(\S+)", line)
        if m:
            return float(m.group(1)), m.group(2)
    raise AssertionError(f"{name} not reported")


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_reports_and_catches_a_wrong_row(workload):
    lines, result = _run(workload, "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END)
    for name, (unit, _) in END_TO_END.items():
        assert _reported(lines, name)[1] == unit
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
    assert _reported(lines, "error_rate") == (0.0, "ratio")

    lines, result = _run(workload, "--trace", "0", "--inject-wrong-row")
    assert not result["correct"] and result["failed"] >= 1
    assert _reported(lines, "error_rate")[0] > 0


def test_traced_run_reports_every_layer_metric():
    lines, result = _run("cdc_tail", "--trace", "1")
    assert result["correct"]
    assert set(result["metrics"]) == set(PER_LAYER)
    for name, (unit, _, _) in PER_LAYER.items():
        assert _reported(lines, name)[1] == unit
        assert result["metrics"][name]["unit"] == unit
    assert result["metrics"]["streaming.batches"]["value"] >= 1
    assert result["metrics"]["streaming.jobs_per_batch"]["value"] >= 1


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in PER_LAYER.items()
    }
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
