#!/usr/bin/env python3
"""Run two arms in strictly alternated pairs and compare their metrics.

An arm is a git revision plus a command line. A revision is checked out with
``git worktree add --detach`` under a scratch directory, or given as ``.`` for
the working tree as it stands. Each arm's command runs with its own checkout
as the working directory and first on ``PYTHONPATH``: local PySpark Python
workers import the package from the driver process's working directory, and
``local-cluster`` executors, which run elsewhere, from ``PYTHONPATH``.

    # a change against its parent on the declared benchmark
    python3 scripts/ab.py --a HEAD~1 --b . --workload near_dup_skewed --seed 21 --pairs 10

    # two masters at one revision
    SPARK_DRIVER_MEM=4g python3 scripts/ab.py --a . --b . --pairs 3 \\
        --a-cmd 'python3 bench.py --skip-queries --n-docs 20000 --master local-cluster[1,1,2048]' \\
        --b-cmd 'python3 bench.py --skip-queries --n-docs 20000 --master local-cluster[4,1,2048]'

Pair i (from 0) runs A first when i is even and B first when it is odd. A run's
record is its last stdout line that parses as a JSON object after at most one
leading tag word (perfbench's result line, ``bench.py``'s line, the
``SUBMIT_SUMMARY`` line); its metrics are the record's ``metrics.*.value``
entries if it has them, else its top-level numbers, plus ``wall_clock_s``,
which the driver times itself. A run with no JSON line has only that.

The report gives, per metric: each arm's median and wins (ties count for
neither), A's interquartile range, whether the gain rule holds (one arm wins
nine tenths of all pairs by a median gap wider than A's interquartile range),
and for the end-to-end metrics of ``BENCHMARK.json`` B's relative difference
against the metric's ``bound``. A pair whose arms report different
``input_sha256`` values is refused; a run that exits non-zero, reports
``correct: false`` or ``failed > 0`` is listed. Either way the pair is left out
of every median and count, and the exit status is 1, as it is when a bound is
exceeded. The last line is the whole report as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_CMD = ("python3 perfbench/run.py --workload {workload} --seed {seed} "
               "--seconds 14 --trace 0")


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def parse_output(stdout: str) -> tuple[dict | None, str | None]:
    """(record, input_sha256) of one run's stdout; see the module docstring."""
    objs = []
    for line in stdout.splitlines():
        line = line.strip()
        for text in (line, line.partition(" ")[2]):
            try:
                obj = json.loads(text)
            except ValueError:
                continue
            if isinstance(obj, dict):
                objs.append(obj)
            break
    sha = next((o["input_sha256"] for o in objs if "input_sha256" in o), None)
    return (objs[-1] if objs else None), sha


def metrics_of(record: dict) -> dict[str, float]:
    nested = record.get("metrics")
    if isinstance(nested, dict):
        return {k: float(v["value"]) for k, v in nested.items()
                if isinstance(v, dict) and _is_num(v.get("value"))}
    return {k: float(v) for k, v in record.items() if _is_num(v)}


def _env(cwd: str) -> dict[str, str]:
    path = os.environ.get("PYTHONPATH")
    return dict(os.environ, PYTHONPATH=cwd + (os.pathsep + path if path else ""))


def run_once(argv: list[str], cwd: str) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(argv, cwd=cwd, env=_env(cwd), capture_output=True,
                          text=True)
    wall = time.perf_counter() - t0
    record, sha = parse_output(proc.stdout)
    record, error = record or {}, None
    if proc.returncode != 0:
        tail = " | ".join(proc.stderr.strip().splitlines()[-3:])
        error = f"exit {proc.returncode}: {tail}"
    elif record.get("correct") is False:
        error = "correct: false"
    elif _is_num(record.get("failed")) and record["failed"] > 0:
        error = f"failed: {record['failed']}"
    return {"metrics": {**metrics_of(record), "wall_clock_s": wall},
            "sha": sha, "error": error}


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(name: str, rev: str, scratch: str, made: list[str]) -> str:
    """The arm's working directory: the repo root for ``.``, else a fresh
    detached worktree whose package must resolve inside it."""
    if rev == ".":
        return ROOT
    sha = _git("rev-parse", "--verify", rev + "^{commit}")
    path = os.path.join(scratch, f"{name}-{sha[:12]}")
    _git("worktree", "add", "--detach", path, sha)
    made.append(path)
    found = subprocess.run(
        [sys.executable, "-c",
         "import corpus_dedup_spark as m; print(m.__file__)"],
        cwd=path, env=_env(path), check=True, capture_output=True,
        text=True).stdout.strip()
    print(f"arm {name}: corpus_dedup_spark resolves to {found}", flush=True)
    if not os.path.realpath(found).startswith(os.path.realpath(path) + os.sep):
        raise SystemExit(f"arm {name}: the package resolves outside {path}")
    return path


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def compare(pairs: list[dict], spec: dict) -> dict:
    """Per-metric comparison of alternated pairs ``{"A": run, "B": run}``,
    over the pairs whose two runs both passed on the same input."""
    better = {m["name"]: m["better"]
              for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    better["wall_clock_s"] = "lower"
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    failures = [{"pair": i, "arm": arm, "error": p[arm]["error"]}
                for i, p in enumerate(pairs) for arm in "AB" if p[arm]["error"]]
    refused = [{"pair": i, "A": p["A"]["sha"], "B": p["B"]["sha"]}
               for i, p in enumerate(pairs)
               if not (p["A"]["error"] or p["B"]["error"])
               and p["A"]["sha"] and p["B"]["sha"] and p["A"]["sha"] != p["B"]["sha"]]
    skip = {f["pair"] for f in failures + refused}
    used = [p for i, p in enumerate(pairs) if i not in skip]
    rows = []
    for name in dict.fromkeys(k for p in used for k in p["A"]["metrics"]):
        both = [(p["A"]["metrics"][name], p["B"]["metrics"][name])
                for p in used if name in p["A"]["metrics"] and name in p["B"]["metrics"]]
        if not both:
            continue
        a, b = [x for x, _ in both], [y for _, y in both]
        direction = better.get(name)
        sign = -1 if direction == "higher" else 1  # > 0: B lower, or better
        # values equal up to float rounding (cpu_s is summed clock ticks) tie
        gaps = [sign * (x - y) for x, y in both
                if not math.isclose(x, y, rel_tol=1e-9)]
        ma, mb = statistics.median(a), statistics.median(b)
        row = {"metric": name, "better": direction, "a_median": ma,
               "b_median": mb, "a_iqr": _iqr(a), "pairs": len(pairs),
               "b_wins": sum(g > 0 for g in gaps),
               "a_wins": sum(g < 0 for g in gaps)}
        if direction:
            # the gain rule: nine tenths of all pairs, and a median gap wider
            # than A's own spread
            gap = sign * (ma - mb)
            if row["b_wins"] >= 0.9 * len(pairs) and gap > row["a_iqr"]:
                row["claim"] = "B better"
            elif row["a_wins"] >= 0.9 * len(pairs) and -gap > row["a_iqr"]:
                row["claim"] = "A better"
        if name in bounds:
            rel = (mb - ma) / ma if ma else (0.0 if mb == ma else float("inf"))
            row.update(b_rel=rel, bound=bounds[name],
                       within_bound=sign * rel <= bounds[name])
        rows.append(row)
    return {"rows": rows, "failures": failures, "refused": refused}


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.4g}"


def render(pairs: list[dict], report: dict) -> list[str]:
    """Per-pair lines, the metric table and the list of what went wrong."""
    names = [r["metric"] for r in report["rows"]]
    lines = []
    for i, p in enumerate(pairs):
        cells = [f"{n} {_fmt(p['A']['metrics'].get(n))}/{_fmt(p['B']['metrics'].get(n))}"
                 for n in names]
        first = "A" if i % 2 == 0 else "B"
        lines.append(f"pair {i} ({first} first), A/B: " + ", ".join(cells))
    lines.append(f"{'metric':<28} {'better':>7} {'A median':>10} {'B median':>10} "
                 f"{'A IQR':>9} {'B wins':>7} {'A wins':>7}  B vs A")
    for r in report["rows"]:
        notes = [f"{r['b_rel']:+.1%}, bound {r['bound']:.0%}: "
                 + ("ok" if r["within_bound"] else "WORSE")] if "b_rel" in r else []
        notes += [r["claim"]] if "claim" in r else []
        lines.append(f"{r['metric']:<28} {r['better'] or 'lower?':>7} "
                     f"{_fmt(r['a_median']):>10} {_fmt(r['b_median']):>10} "
                     f"{_fmt(r['a_iqr']):>9} {r['b_wins']:>3}/{r['pairs']:<3} "
                     f"{r['a_wins']:>3}/{r['pairs']:<3}  " + "; ".join(notes))
    for f in report["failures"]:
        lines.append(f"FAILED pair {f['pair']} arm {f['arm']}: {f['error']}")
    for r in report["refused"]:
        lines.append(f"REFUSED pair {r['pair']}: input_sha256 A {r['A']} != B {r['B']}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="revision of arm A, or .")
    ap.add_argument("--b", required=True, help="revision of arm B, or .")
    ap.add_argument("--a-cmd", help="arm A's command (default: perfbench)")
    ap.add_argument("--b-cmd", help="arm B's command (default: perfbench)")
    ap.add_argument("--workload", default="near_dup_skewed")
    ap.add_argument("--seed", type=int, default=21)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--scratch", help="worktree parent (default: a temp dir)")
    args = ap.parse_args(argv)

    default = DEFAULT_CMD.format(workload=args.workload, seed=args.seed)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = args.scratch or tempfile.mkdtemp(prefix="ab-")
    made: list[str] = []
    try:
        arms = {}
        for name, rev, cmd in (("A", args.a, args.a_cmd), ("B", args.b, args.b_cmd)):
            cwd = checkout(name, rev, scratch, made)
            arms[name] = (shlex.split(cmd or default), cwd)
            print(f"arm {name}: {rev} at {cwd}: {cmd or default}", flush=True)
        pairs = []
        for i in range(args.pairs):
            pairs.append({n: run_once(*arms[n]) for n in ("AB" if i % 2 == 0 else "BA")})
            print(render(pairs, compare(pairs, spec))[i], flush=True)
    finally:
        for path in made:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", path],
                           capture_output=True)
        if not args.scratch:
            shutil.rmtree(scratch, ignore_errors=True)
    report = compare(pairs, spec)
    print("\n".join(render(pairs, report)[len(pairs):]))
    print(json.dumps({**report, "pairs": pairs}))
    breached = any(r.get("within_bound") is False for r in report["rows"])
    return 1 if report["failures"] or report["refused"] or breached else 0


if __name__ == "__main__":
    sys.exit(main())
