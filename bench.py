#!/usr/bin/env python
"""Per-round benchmark: headline dedup pipelines + representative queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Prints ONE JSON line:
  {"metric": "...", "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the end-to-end reference pipeline (sentence extract → normalize → global
first-wins dedup → reassembly) plus the near-dup LSH+CC pipeline, over a deterministic
synthetic web-pages table sized proportionally to sf (cached under .bench_cache/).
Also reports docs/s and exact-pair recall as extra keys.

Scaling evidence (1→4 executors): run two `--master local-cluster[N,1,2048]`
commands as the two arms of `scripts/ab.py`; see that script and SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def ensure_pages_cache(sf: float, seed: int = 42,
                       n_docs: int | None = None) -> tuple[str, str]:
    """Generate (once) and cache the synthetic pages + truth tables for this sf.

    The pages table is written as a multi-file parquet DIRECTORY (16 files,
    8k-row row groups) — the layout any distributed writer produces. A single
    one-row-group file gives Spark exactly ONE input split, which serializes
    every map stage regardless of cluster size; that is a test-harness
    artifact, not how a production table (or a 100 TB Iceberg table) reads,
    and it silently invalidated executor-scaling comparisons on the
    checkpointed pipeline (the in-memory bench repartitions after read, so it
    was unaffected).
    """
    if n_docs is None:
        n_docs = max(1000, int(500_000 * sf))
    tag = f"sf{sf}_n{n_docs}_seed{seed}"
    pages_path = os.path.join(CACHE_DIR, f"pages_{tag}.parquet")
    truth_path = os.path.join(CACHE_DIR, f"truth_{tag}.parquet")
    if os.path.isfile(pages_path):
        os.remove(pages_path)  # legacy single-file, single-row-group layout
    if not (os.path.exists(pages_path) and os.path.exists(truth_path)):
        os.makedirs(CACHE_DIR, exist_ok=True)
        from corpus_dedup_spark.sources.pages import generate_pages

        pages, truth_pairs, _clusters = generate_pages(n_docs, seed=seed)
        # Spark can't read nanosecond parquet timestamps
        pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
        n_files = 16 if n_docs >= 16_000 else 1
        chunk = -(-len(pages) // n_files)
        os.makedirs(pages_path, exist_ok=True)
        for i in range(n_files):
            part = pages.iloc[i * chunk:(i + 1) * chunk]
            if len(part):
                part.to_parquet(
                    os.path.join(pages_path, f"part-{i:05d}.parquet"),
                    index=False, row_group_size=8192)
        truth_pairs.to_parquet(truth_path, index=False)
    return pages_path, truth_path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument("--n-docs", type=int, default=None,
                    help="override synthetic corpus size (default 500k*sf)")
    ap.add_argument("--master", default=None,
                    help="master URL override, e.g. local-cluster[4,1,4096] for "
                         "real separate executor JVMs (--cores should equal the "
                         "total core count for partition sizing)")
    args = ap.parse_args()

    sf = _sf_from_dir(args.sf_dir)
    pages_path, truth_path = ensure_pages_cache(sf, n_docs=args.n_docs)

    from pyspark.sql import functions as F

    from corpus_dedup_spark.config import DedupConfig
    from corpus_dedup_spark.operators.exact_dedup import (run_exact_dedup,
                                                          run_exact_dedup_observed)
    from corpus_dedup_spark.operators.minhash_lsh import near_dup_clusters
    from corpus_dedup_spark.plans.queries import QUERIES
    from corpus_dedup_spark.plans.session import build_session

    # Scale-aware task granularity: ~8k docs (~12 MB text) per task, clamped to
    # [max(cores, 8), 3*cores]. The upper bound gives 3 waves per stage so a
    # single straggler (co-tenant CPU steal, residual skew) cannot idle the other
    # cores for a stage tail; the lower bound stops tiny inputs from paying 96
    # tasks' fixed cost (measured 2x the whole near-dup leg at 50k docs / 32
    # cores). AQE may still coalesce small shuffles below this — parts is the
    # *initial* partition count.
    n_docs_hint = args.n_docs or max(1000, int(500_000 * sf))
    parts = max(args.cores, 8, min(3 * args.cores, n_docs_hint // 8000))
    spark = build_session(
        app_name=f"bench_c{args.cores}",
        master=args.master or f"local[{args.cores}]",
        shuffle_partitions=parts,
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    pages = pages.repartition(parts).cache()
    pages.count()  # warm cache so generation/IO is excluded from pipeline timings

    # Warm-up: spawn/reuse the Python UDF workers and JIT the JVM paths on a small
    # slice, so timings reflect steady-state executors (a real cluster's workers are
    # long-lived); cold-start worker fork/import otherwise dominates at high core
    # counts and corrupts the N-vs-4N comparison.
    warm = pages.limit(4000).repartition(parts)
    run_exact_dedup(warm)[2].collect()
    near_dup_clusters(warm, DedupConfig(jaccard_threshold=0.5)).count()

    # The sandbox host has noisy co-tenants (measured: the SAME pipeline swings
    # 2s↔13s run-to-run in one process): each headline section runs BENCH_REPEATS
    # times and reports the minimum — the least-stolen window is the closest
    # estimate of true cost. An explicit BENCH_REPEATS is honored as-is (scaling
    # scripts set 2 to bound round wall-clock; smoke runs can set 1).
    repeats = int(os.environ.get("BENCH_REPEATS", "4"))

    def fresh_pages():
        # operators persist() intermediates; drop them between repeats so every
        # repeat recomputes the full pipeline (only the input stays cached)
        spark.catalog.clearCache()
        p = pages.cache()
        p.count()
        return p

    # Headline legs, INTERLEAVED repeats (exact, near, exact, near, ...): the
    # host's co-tenant storms last minutes — back-to-back repeats of one leg can
    # all land inside a single storm, while interleaving gives each leg samples
    # spread across the whole measurement window at no extra cost.
    #
    # headline 1: reference exact-dedup pipeline end-to-end — ONE job: the
    # summary counters ride along as an Observation on the reassembly action.
    # AQE is disabled for this leg only (runtime conf, restored after): the
    # pipeline is a fixed two-exchange shape with NO joins and uniform
    # content-hash keys — there is nothing for AQE to adapt, and its per-stage
    # re-planning barrier is pure driver latency (measured 1.60 s → 1.12 s at
    # 50k docs/32 cores, alternating A/B). The near-dup leg keeps AQE: its
    # bucket/verify joins benefit from skew splitting and coalescing.
    cfg = DedupConfig(jaccard_threshold=0.5)
    exact_samples: list[float] = []
    near_samples: list[float] = []

    def one_headline_round():
        p = fresh_pages()
        # try/finally: an exception mid-leg must not leak AQE=off into every
        # later measurement (restore the value read before the leg, not "true")
        aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            t0 = time.time()
            deduped, obs = run_exact_dedup_observed(p)
            n_out = deduped.count()
            stats_row = obs.get
            exact_samples.append(time.time() - t0)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)

        p = fresh_pages()
        t0 = time.time()
        clusters = near_dup_clusters(p, cfg).cache()
        n_clustered = clusters.count()
        near_samples.append(time.time() - t0)
        return n_out, stats_row, clusters, n_clustered

    for _ in range(repeats):
        n_out, stats_row, clusters, n_clustered = one_headline_round()
    # Storm detection: a >2x spread across same-code samples is the fingerprint
    # of co-tenant CPU steal (measured 5-6x swings on this host), not of the
    # code under test. Take up to 6 extra interleaved rounds hunting a clean
    # window (r5: 2 extras were exhausted on a day of back-to-back storms
    # while the true walls were 2x lower — each extra round costs ~15-30 s
    # and only runs when the artifact would otherwise record noise), and
    # annotate the residual spread in the output JSON so a noisy round is
    # readable as noisy from the artifact alone.
    spread = lambda s: (max(s) / min(s)) if s and min(s) > 0 else 1.0  # noqa: E731

    def settled(s: list[float]) -> bool:
        # the minimum is trustworthy once a SECOND sample lands within 25%
        # of it — the cumulative max/min spread can never settle (one stormy
        # early sample pins it high forever), so it would always burn every
        # extra round even after a clean window was found twice
        b = sorted(s)[:2]
        return len(b) > 1 and b[0] > 0 and b[1] / b[0] <= 1.25

    extra = 0
    while extra < 6 and repeats > 1 and not (settled(exact_samples)
                                             and settled(near_samples)):
        extra += 1
        n_out, stats_row, clusters, n_clustered = one_headline_round()
    t_exact, t_near = min(exact_samples), min(near_samples)
    timings["pages_exact_dedup"] = round(t_exact, 3)
    timings["pages_near_dup_clusters"] = round(t_near, 3)

    # exact-pair recall vs planted truth (clusters agree ⇒ pair recalled)
    truth = spark.read.parquet(truth_path)
    lab = clusters
    joined = (
        truth.filter(F.col("kind") == "exact")
        .join(lab.withColumnRenamed("url", "url_a")
                 .withColumnRenamed("cluster_id", "c_a"), "url_a")
        .join(lab.withColumnRenamed("url", "url_b")
                 .withColumnRenamed("cluster_id", "c_b"), "url_b")
    )
    rec = joined.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("c_a") == F.col("c_b")).alias("hit"),
    ).collect()[0]
    recall = (rec["hit"] / rec["n"]) if rec["n"] else 1.0

    # representative operator queries on the driver's sf tables — best-of-N like
    # the headline legs (a single sample is at the mercy of co-tenant storms and
    # reads as a phantom regression round-over-round)
    q_repeats = int(os.environ.get("BENCH_QUERY_REPEATS", "2"))
    if not args.skip_queries:
        # repeats INTERLEAVED across queries (repeat loop outside), like the
        # headline legs: co-tenant storms last minutes, so back-to-back repeats
        # of one query land inside the same storm and best-of-N saves nothing
        q_names = ("token_jaccard_pairs", "cc_bucket_clusters",
                   "substring_search", "embedding_top1", "event_hourly",
                   "sentence_dedup_pages", "boilerplate_bigrams",
                   "url_canonical", "exact_substr_spans",
                   # r5 training-prep family
                   "sequence_pack", "asof_purchase", "unigram_lm")

        # indexed search: the index is built ONCE per window size (the production
        # shape — src/search_mode.c builds its tables once per session); probes are
        # then pure filter+verify. Both phases ride INSIDE the interleaved repeat
        # loop — in r4 they were timed once, outside it, so a single co-tenant
        # storm minute fabricated a 4.8x phantom regression on search_index_build.
        from corpus_dedup_spark import kernel
        from corpus_dedup_spark.operators.search import (build_fingerprint_index,
                                                         search)
        from corpus_dedup_spark.plans.queries import SEARCH_QUERY

        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("url"), "text")
        qlen = len(kernel.utf8_decode_buffer(SEARCH_QUERY.encode()))

        for _ in range(q_repeats):
            for qname in q_names:
                spark.catalog.clearCache()
                t0 = time.time()
                QUERIES[qname](spark, args.sf_dir).count()
                t = round(time.time() - t0, 3)
                timings[qname] = min(timings.get(qname, float("inf")), t)

            spark.catalog.clearCache()
            t0 = time.time()
            sidx = build_fingerprint_index(docs, window=qlen).persist()
            sidx.count()
            t = round(time.time() - t0, 3)
            timings["search_index_build"] = min(
                timings.get("search_index_build", float("inf")), t)
            t0 = time.time()
            for probe_q in (SEARCH_QUERY, "partition", "zz-no-hit-zz"[:qlen]):
                search(sidx, docs, probe_q.ljust(qlen)[:qlen]).count()
            t = round(time.time() - t0, 3)
            timings["substring_search_probe3"] = min(
                timings.get("substring_search_probe3", float("inf")), t)
            sidx.unpersist()

    total = t_exact + t_near
    out = {
        "metric": "e2e_dedup_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / total, 1) if total > 0 else None,
        "docs_per_sec_exact": round(n_docs / t_exact, 1) if t_exact > 0 else None,
        "unique_units": int(stats_row["unique_units"]),
        "duplicate_units": int(stats_row["duplicate_units"]),
        "n_docs_out": n_out,
        "n_clustered": n_clustered,
        "exact_pair_recall": round(recall, 5),
        "cores": args.cores,
        # host-noise annotation: best/worst sample ratio per headline leg and
        # how many storm-triggered extra rounds ran. A spread near 1.0 means
        # the minima are trustworthy; >2 means the host was stormy and even
        # best-of-N may overstate cost (see BENCH.md on co-tenant swings).
        "exact_sample_spread": round(spread(exact_samples), 2),
        "near_sample_spread": round(spread(near_samples), 2),
        "storm_extra_rounds": extra,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
