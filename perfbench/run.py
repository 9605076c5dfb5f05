#!/usr/bin/env python3
"""Benchmark of corpus_dedup_spark on generated web pages, on local[2].

    python3 perfbench/run.py --workload exact_verify_search --seed 1 \\
        --seconds 14 --trace 0

Run it from the repository root; the workloads are in ``workloads.py``. It
derives the workload's input from ``--seed``, starts a Spark session with
``build_session``'s own config, loads and caches the input, runs four
discarded full-size warm-up iterations (set-up ends here), then repeats the
workload's body and checks every iteration's output against a reference the
workload computes once per seed, outside every timed step. The body runs a fixed
number of iterations, ``--seconds`` divided by the workload's nominal
iteration length (at least three), so that it measures for about
``--seconds`` seconds.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (medians over the body's iterations); with
``--trace 1`` they are the per-layer spans of traced iterations, and every
layer a workload does not call reads 0. The line before it is a summary:
every end-to-end figure, ``stored_mb`` and ``failed_frac`` (both 0 unless a
checkpoint was written or a check failed), the input checksum and the
per-iteration samples.

Everything the run writes stays under ``.perfbench/`` in the repository
root: the base-corpus cache, Spark's scratch directories and the run's own
files, which are deleted when it ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Two task slots on a 4-vCPU host: each task keeps a JVM thread and its Python
# worker busy at once, and the JIT and GC threads need room beside them. At
# local[4] the same iterations took 30-70 % more CPU and no less wall time,
# and their times moved with the host's load.
CORES = 2
SHUFFLE_PARTITIONS = CORES
DRIVER_MEM = "4g"        # the session default (24g) exceeds a 15 GiB host
WARMUPS = 4              # discarded full-size iterations: the JIT compiles
                         # 14 s of CPU in the first and still 2-3 s in the
                         # fourth, and iteration time and CPU fall with it
MIN_ITERS = 3            # body iterations, however short --seconds is
TRACED = 2               # traced iterations (each after an untraced one);
                         # 2 x 10 search probes = 20 latency samples
MB = 1e6


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _start_session(run_dir: str):
    from corpus_dedup_spark.plans.session import build_session

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    # every JVM spark-submit starts (its launcher too) keeps its scratch files
    # in the run directory and writes no perf-data file; its JIT compiler
    # threads all start with the JVM and never retire, so that ProcTree can
    # subtract their CPU exactly (a retiring thread's CPU since its last
    # reading would otherwise land in whichever iteration it exits in)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads")
    spark = build_session(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()      # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def _load(spark, path: str):
    """The cached input DataFrame every iteration starts from. A local
    checkpoint, not ``cache()``, so that clearing the operators' own caches
    between iterations leaves the input in place."""
    return (spark.read.parquet(path).repartition(SHUFFLE_PARTITIONS)
            .localCheckpoint(eager=True))


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from workloads import EXTRA_LAYER_METRICS, SPAN_FIELDS, SPANS

    names = {"setup.session.wall_s": "s", "setup.load.wall_s": "s",
             "setup.warmup.wall_s": "s", "trace.overhead_s": "s",
             "workers.peak_rss_mb": "MB", "workers.largest_peak_rss_mb": "MB"}
    for span in SPANS:
        names.update({f"{span}.{k}": u for k, u in SPAN_FIELDS.items()})
    names.update(EXTRA_LAYER_METRICS)
    return names


# Python worker RSS is a per-layer metric, not an end-to-end one: how many
# workers Spark forks and which one gets the largest batch vary with task
# timing; at local[4] on a 4-vCPU VM (4 to 8 workers) its per-run median
# spread 28 % across seeds.
END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s",
              "shuffle_write_mb": "MB", "pair_recall": "ratio"}


def run(args, run_dir: str, cache_dir: str) -> tuple[dict, dict]:
    from inputs import make_inputs
    from meters import Meter, ProcTree, RssPeak, StageCounters
    from workloads import UNTIMED, WORKLOADS

    cls = WORKLOADS[args.workload]
    shape = cls.shape if args.docs is None else cls.shape.scaled(args.docs)
    t0 = time.perf_counter()
    inputs = make_inputs(cache_dir, run_dir, shape, args.seed)
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = _start_session(run_dir)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    tree = ProcTree(jvm_pid)
    attempted = failed = 0
    recalls: list[float] = []

    def count(check) -> None:
        nonlocal attempted, failed
        ok, recall, errors = check
        attempted += 1
        recalls.append(recall)
        if not ok:
            failed += 1
            print(f"check failed: {errors}", file=sys.stderr)

    def checked(wl, out, first=False) -> None:
        try:
            count(wl.check(out, first))
        except Exception:  # a broken output must count as a failed iteration
            traceback.print_exc()
            count((False, 0.0, ["check raised"]))
        spark.catalog.clearCache()

    try:
        # worker RSS is a per-layer figure, so only a traced run samples it
        with RssPeak(tree) if args.trace else contextlib.nullcontext() as rss:
            meter = Meter(tree, rss, StageCounters(spark))
            t = time.perf_counter()
            pages = _load(spark, inputs.pages_path)
            load_s = time.perf_counter() - t
            wl = cls(spark, pages, inputs, run_dir)
            wl.prepare()
            warmup_s = 0.0
            for i in range(WARMUPS):
                t = time.perf_counter()
                out = wl.iterate()
                warmup_s += time.perf_counter() - t
                checked(wl, out, first=i == 0)
            setup_s = session_s + load_s + warmup_s

            walls, cpus, shuffles, rss_largest, rss_sums = [], [], [], [], []
            traced: list[dict] = []
            # A fixed count, not a deadline: the first iterations after the
            # warm-up still speed up, so every run must take its median over
            # the same positions in that trend. A traced run alternates
            # untraced and traced iterations, so both sit at the same positions.
            n_body = TRACED if args.trace else \
                max(MIN_ITERS, round(args.seconds / cls.nominal_iter_s))
            for _ in range(n_body):
                try:
                    out, c = meter.measure("body", wl.iterate)
                except Exception:  # a failed iteration is counted, not timed
                    traceback.print_exc()
                    count((False, 0.0, ["iteration raised"]))
                    continue
                walls.append(c["wall_s"])
                cpus.append(c["cpu_s"])
                shuffles.append(c["shuffle_write_bytes"] / MB)
                rss_largest.append(c["workers_largest_peak_rss_bytes"] / MB)
                rss_sums.append(c["workers_peak_rss_bytes"] / MB)
                checked(wl, out)
                if args.trace:
                    t = time.perf_counter()
                    m = wl.trace(meter)
                    m["_wall"] = time.perf_counter() - t - m.pop(UNTIMED, 0.0)
                    traced.append(m)
                    spark.catalog.clearCache()

            layers: dict[str, float] = {}
            if traced:
                for k in traced[0]:
                    layers[k] = _median([m[k] for m in traced])
                for check in wl.finish_trace(layers, meter):
                    count(check)
                layers["trace.overhead_s"] = layers.pop("_wall") - _median(walls)
                layers["setup.session.wall_s"] = session_s
                layers["setup.load.wall_s"] = load_s
                layers["setup.warmup.wall_s"] = warmup_s
                layers["workers.peak_rss_mb"] = _median(rss_sums)
                layers["workers.largest_peak_rss_mb"] = _median(rss_largest)
    finally:
        _stop_session(spark)

    e2e = {
        "wall_s": _median(walls),
        "cpu_s": _median(cpus),
        "setup_s": setup_s,
        "shuffle_write_mb": _median(shuffles),
        "pair_recall": min(recalls),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "n_docs": inputs.n_docs,
        "input_sha256": inputs.sha256, "body_iterations": len(walls),
        "wall_s_samples": walls, "cpu_s_samples": cpus,
        "shuffle_write_mb_samples": shuffles,
        "inputs_s": inputs_s,
        "setup": {"session_s": session_s, "load_s": load_s, "warmup_s": warmup_s},
        "stored_mb": wl.stored_mb,
        "failed_frac": failed / attempted,
        **e2e,
    }
    if args.trace:
        names = per_layer_names()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in names.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return summary, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size override (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)

    import corpus_dedup_spark  # noqa: F401 - fail before any output without it
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    # scratch files of this process, the JVM and the Python workers go here
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    try:
        summary, result = run(args, run_dir, os.path.join(work, "cache"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("summary " + json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
