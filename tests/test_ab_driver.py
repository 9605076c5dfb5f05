"""scripts/ab.py, the A/B driver, on fake arms: no Spark and no git.

Each fake arm is a ``python -c`` command at ``.`` that appends its label to a
log file, takes its n-th scripted run (n = how often its label is in the log)
and prints perfbench-shaped ``summary`` and result lines.
"""

import json
import os
import shlex
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BOUNDS = {m["name"]: m["bound"] for m in json.load(_f)["end_to_end"]}


def _arm(log, label, runs):
    code = f"""
import json, sys
with open({str(log)!r}, "a") as f:
    f.write({label!r})
r = {runs!r}[open({str(log)!r}).read().count({label!r}) - 1]
print("summary " + json.dumps({{"input_sha256": r.get("sha", "s0")}}))
print(json.dumps({{"correct": r.get("correct", True), "attempted": 4,
                  "failed": r.get("failed", 0),
                  "metrics": {{k: {{"value": v, "unit": "s"}}
                              for k, v in r["m"].items()}}}}))
sys.exit(r.get("exit", 0))
"""
    return f"{shlex.quote(sys.executable)} -c {shlex.quote(code)}"


def _drive(tmp_path, a_runs, b_runs):
    assert len(a_runs) == len(b_runs)
    log = tmp_path / "order.log"
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "ab.py"),
         "--a", ".", "--b", ".", "--pairs", str(len(a_runs)),
         "--a-cmd", _arm(log, "A", a_runs), "--b-cmd", _arm(log, "B", b_runs)],
        capture_output=True, text=True, timeout=60)
    report = json.loads(out.stdout.strip().splitlines()[-1])
    rows = {r["metric"]: r for r in report["rows"]}
    return out.returncode, report, rows, log.read_text(), out.stdout


def _walls(*ws):
    return [{"m": {"wall_s": w}} for w in ws]


def test_pairs_alternate_which_arm_runs_first(tmp_path):
    code, _, _, order, stdout = _drive(tmp_path, _walls(1, 1, 1, 1),
                                       _walls(1, 1, 1, 1))
    assert order == "ABBAABBA"
    assert code == 0
    assert "pair 0 (A first)" in stdout and "pair 1 (B first)" in stdout


def test_ties_count_for_neither_arm(tmp_path):
    # the last pair differs only in float rounding: 0.1 + 0.2 != 0.3
    _, _, rows, _, _ = _drive(tmp_path, _walls(1, 1, 1, 1, 0.3),
                              _walls(1, 0.5, 2, 1, 0.1 + 0.2))
    assert (rows["wall_s"]["b_wins"], rows["wall_s"]["a_wins"]) == (1, 1)
    assert rows["wall_s"]["pairs"] == 5


def test_spread_is_a_interquartile_range(tmp_path):
    _, _, rows, _, _ = _drive(tmp_path, _walls(5, 1, 4, 2, 3),
                              _walls(3, 3, 3, 3, 3))
    # inclusive quartiles of 1..5 are 2 and 4
    assert rows["wall_s"]["a_median"] == 3
    assert rows["wall_s"]["a_iqr"] == 2
    assert "claim" not in rows["wall_s"]


def test_bounds_come_from_benchmark_json(tmp_path):
    bw, br = BOUNDS["wall_s"], BOUNDS["pair_recall"]
    a = [{"m": {"wall_s": 1.0, "pair_recall": 1.0}}] * 3
    b = [{"m": {"wall_s": 1.0 + 0.8 * bw, "pair_recall": 1.0 - 1.2 * br}}] * 3
    code, _, rows, _, stdout = _drive(tmp_path, a, b)
    wall, recall = rows["wall_s"], rows["pair_recall"]
    assert (wall["bound"], recall["bound"]) == (bw, br)
    assert wall["within_bound"] and not recall["within_bound"]
    assert code == 1 and "WORSE" in stdout
    # A wins every pair on both metrics by more than its zero spread
    assert wall["claim"] == recall["claim"] == "A better"


def test_pair_with_other_input_is_refused(tmp_path):
    a = _walls(1, 1, 1)
    b = [{"m": {"wall_s": 2}}, {"m": {"wall_s": 100}, "sha": "other"},
         {"m": {"wall_s": 2}}]
    code, report, rows, _, stdout = _drive(tmp_path, a, b)
    assert code == 1
    assert report["refused"] == [{"pair": 1, "A": "s0", "B": "other"}]
    assert rows["wall_s"]["b_median"] == 2
    assert rows["wall_s"]["a_wins"] == 2
    assert "REFUSED pair 1" in stdout


def test_failed_runs_are_listed_and_never_averaged(tmp_path):
    a = [{"m": {"wall_s": 1}}, {"m": {"wall_s": 100}, "exit": 3},
         {"m": {"wall_s": 100}, "correct": False}, {"m": {"wall_s": 1}}]
    b = [{"m": {"wall_s": 2}}, {"m": {"wall_s": 2}},
         {"m": {"wall_s": 100}, "failed": 1}, {"m": {"wall_s": 4}}]
    code, report, rows, _, _ = _drive(tmp_path, a, b)
    assert code == 1
    assert [(f["pair"], f["arm"]) for f in report["failures"]] == [
        (1, "A"), (2, "A"), (2, "B")]
    assert report["failures"][0]["error"].startswith("exit 3")
    # only pairs 0 and 3, where both runs passed, are compared
    assert rows["wall_s"]["a_median"] == 1
    assert rows["wall_s"]["b_median"] == 3
    assert rows["wall_s"]["a_wins"] == 2
