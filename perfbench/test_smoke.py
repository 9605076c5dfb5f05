"""Smoke test of the benchmark harness at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session (about a minute each). It checks the
output contract, not performance: every metric named in BENCHMARK.json is
emitted with its unit, names are well formed, and the counts stay within
16 end-to-end and 128 per-layer metrics.
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
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--docs", "400"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("summary ")
    return json.loads(lines[-2][len("summary "):]), json.loads(lines[-1])


def test_spec_limits():
    e2e, layers = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    names = [m["name"] for m in e2e + layers]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= \
        next(m for m in e2e if m["name"] == "setup_s").items()
    assert max(m["bound"] for m in e2e) == \
        next(m["bound"] for m in e2e if m["name"] == "setup_s") <= 0.25


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted(workload, trace):
    summary, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in spec}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert summary["failed_frac"] == 0.0 and "stored_mb" in summary
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
