#!/usr/bin/env python
"""Cluster entry point for spark-submit: run the full checkpointed dedup pipeline.

  spark-submit --py-files dist/corpus_dedup_spark.zip scripts/submit_pipeline.py \
      --input /path/to/pages_parquet_or_table --work-dir /path/to/checkpoints

On a cluster the SparkSession comes from spark-submit's conf (no .master() override);
locally it falls back to local[*].
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages parquet path or table name (url, warc_ts, html, text, lang)")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--mode", default="sentence")
    ap.add_argument("--max-length", type=int, default=0)
    ap.add_argument("--jaccard-threshold", type=float, default=0.8)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--repeats", type=int, default=1,
                    help="run the pipeline N times in-process and report the "
                         "best wall (same warmup+best-of protocol as bench.py: "
                         "iteration 1 pays per-executor JIT compile, codegen "
                         "and Python-worker imports — a per-run CONSTANT that "
                         "a production-length run amortizes to ~0)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("corpus_dedup_pipeline").getOrCreate()

    from corpus_dedup_spark.config import DedupConfig
    from corpus_dedup_spark.plans.pipeline import DedupPipeline, table_rows

    cfg = DedupConfig(mode=args.mode, max_length=args.max_length,
                      jaccard_threshold=args.jaccard_threshold)
    pages = (spark.read.parquet(args.input) if "/" in args.input
             else spark.table(args.input))
    n_docs = pages.count()
    # pipeline wall is timed AFTER session creation and the input count, so
    # JVM/executor cold-start (a constant at every cluster size) is excluded
    # from the scaling comparison
    walls = []
    import shutil
    for i in range(max(1, args.repeats)):
        wd = args.work_dir if args.repeats <= 1 else f"{args.work_dir}_i{i}"
        pipe = DedupPipeline(spark, cfg, wd, run_id=args.run_id)
        t0 = time.time()
        out = pipe.run(pages)
        # stage row counts from parquet footer metadata (the
        # Iceberg-manifest-stats analog) — five df.count() jobs here were
        # pure serial overhead, re-scanning tables the pipeline just wrote
        stages = {name: pipe.stage_rows.get(name)
                  if name in pipe.stage_rows
                  else table_rows(pipe._stage_dir(name))
                  for name in out}
        walls.append(time.time() - t0)
        if i < args.repeats - 1:
            shutil.rmtree(wd, ignore_errors=True)
    wall = min(walls)

    # per-stage walls from the lineage rows (written by _record_lineage)
    try:
        stage_walls = {
            r["stage"]: r["wall_ms"] / 1000.0
            for r in pipe.lineage().select(
                "stage", F.col("counters")["wall_ms"].alias("wall_ms")
            ).distinct().collect()
        }
    except Exception:
        stage_walls = {}

    summary = {
        "run_id": pipe.run_id,
        "config_hash": cfg.config_hash(),
        "stages": stages,
        "stage_wall_sec": {k: round(v, 2) for k, v in stage_walls.items()},
        "n_docs": n_docs,
        "pipeline_wall_sec": round(wall, 3),
        "walls_sec": [round(w, 3) for w in walls],
        "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
    }
    print("SUBMIT_SUMMARY " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
