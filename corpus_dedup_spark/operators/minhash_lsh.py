"""MinHash + LSH near-duplicate detection (north-rule core: H5/H6/J4/J5).

Pipeline: units → shingle-hash sets → batched MinHash signatures (vectorized numpy in
pandas UDFs) → band hashes → explode → bucket self-join (candidates) → exact shingle-set
Jaccard verify (never trust hashes alone — quirk Q6 generalized) → edges.

Scale design:
- The bucket self-join shuffles on band_hash; hot buckets (boilerplate hosts) are CAPPED
  at cfg.max_bucket_size and logged, bounding the quadratic blowup; AQE skew-join splits
  the rest.
- Exact duplicates are guaranteed caught: identical unit lists ⇒ identical shingle sets
  ⇒ identical signatures ⇒ colliding in every band.
- Verify joins candidates back to (sorted, distinct) shingle arrays and computes Jaccard
  with JVM-side array_intersect/array_union sizes — no Python in the verify hot path.
- Default 32 bands × 4 rows: P(candidate | J=0.8) = 1-(1-0.8^4)^32 ≈ 1-5e-8 — recall
  headroom far beyond the ≥0.99 target.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.functions.udfs import make_band_hashes_udf


def doc_features(pages: DataFrame, cfg: DedupConfig, id_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """pages → (id, shingles, sig) in ONE fused pandas-UDF pass (extraction +
    shingling + batched MinHash share a single Arrow round-trip).

    Columns are pruned to (id, text) first so scans never read html/binary payloads.
    """
    from corpus_dedup_spark.functions.udfs import make_features_udf

    features = make_features_udf(cfg)
    return (
        pages.select(id_col, text_col)
        .withColumn("_f", features(F.col(text_col)))
        .select(id_col, F.col("_f.shingles").alias("shingles"),
                F.col("_f.sig").alias("sig"))
    )


def band_explode(features: DataFrame, cfg: DedupConfig, id_col: str = "url") -> DataFrame:
    """(id, sig) → (id, band_id, band_hash): one row per LSH band."""
    bands = make_band_hashes_udf(cfg)
    return features.select(
        id_col, F.posexplode(bands(F.col("sig"))).alias("band_id", "band_hash")
    )


def doc_band_features(pages: DataFrame, cfg: DedupConfig, id_col: str = "url",
                      text_col: str = "text") -> DataFrame:
    """pages → (id, shingles, bands): the near-dup pipeline's ONE feature pass
    (extraction + shingling + MinHash + band hashing fused; the signature never
    leaves the worker — see make_band_features_udf)."""
    from corpus_dedup_spark.functions.udfs import make_band_features_udf

    features = make_band_features_udf(cfg)
    return (
        pages.select(id_col, text_col)
        .withColumn("_f", features(F.col(text_col)))
        .select(id_col, F.col("_f.shingles").alias("shingles"),
                F.col("_f.bands").alias("bands"))
    )


def candidate_pairs(bands_df: DataFrame, cfg: DedupConfig,
                    id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """Bucket self-join → distinct candidate pairs (id_a < id_b).

    Returns (pairs, dropped_buckets): buckets larger than cfg.max_bucket_size are
    excluded from the join and reported for lineage (skew cap — a 1M-member
    boilerplate bucket would otherwise produce 10^12 pairs).
    """
    # r6: ONE band-row exchange, SHARED by sizing and bucket collection.
    # Both aggregations key on (band_id, band_hash); hanging them off one
    # explicit repartition makes their Exchange subtrees identical, so
    # Spark's exchange reuse materializes the shuffle once and reads it
    # twice (verified in the executed plan: a single shuffle write). The r5
    # shape paid TWO band-row shuffle writes — the sizing groupBy's map-side
    # partial combine only collapses intra-partition bucket repeats, and
    # band hashes are high-entropy, so its "shuffle ~distinct buckets" was
    # ~0.9x a full band-row shuffle here (measured: the shared exchange won
    # every alternated pair at 500k docs/32c, best 4.38 s vs 4.83 s; the
    # same holds at scale unless the corpus is so duplicate-heavy that the
    # partial combine collapses the sizing stream by >2x, the write:read
    # cost ratio). The cap SAFETY is unchanged: hot buckets are detected on
    # count rows, the drop set broadcasts, and the anti-join filters the
    # band stream BEFORE any bucket materialization — no reducer ever
    # collects an uncapped bucket.
    rep = bands_df.repartition("band_id", "band_hash")
    sizes = rep.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bucket_n"))
    dropped = sizes.filter(F.col("bucket_n") > cfg.max_bucket_size)
    ok = rep.join(
        F.broadcast(dropped.select("band_id", "band_hash")),
        ["band_id", "band_hash"], "left_anti",
    )
    # Pair generation: ONE shuffle (groupBy bucket → sorted member list, bounded by
    # max_bucket_size) + two streamed explodes — measured 2.2x faster than the
    # bucket self-join, which shuffles every band row twice. The nested explode
    # streams through whole-stage codegen, so per-task memory stays O(bucket), not
    # O(bucket^2).
    buckets = (
        ok.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = (
        buckets
        .select(F.explode(F.sequence(F.lit(0), F.size("ids") - 2)).alias("i"), "ids")
        .select(
            F.element_at("ids", F.col("i") + 1).alias("id_a"),
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )
    return pairs, dropped


def _inter_union_batch(blobs_a, blobs_b) -> tuple[np.ndarray, np.ndarray]:
    """Per-pair (|A∩B|, |A∪B|) for a whole batch of sorted-unique-u64 blob pairs
    in ONE vectorized pass (no per-pair Python): concatenate every pair's two
    blobs into a single (pair_id, value) table and lexsort it. Within a pair
    each side is sorted-unique, so an equal (pair, value) run has length ≤ 2 and
    means "value on both sides" — count those runs per pair with one bincount.
    O(B log B) for B total hashes per batch, independent of the pair count."""
    n = len(blobs_a)
    ba = [bytes(a or b"") for a in blobs_a]
    bb = [bytes(b or b"") for b in blobs_b]
    na = np.fromiter((len(a) for a in ba), np.int64, n) // 8
    nb = np.fromiter((len(b) for b in bb), np.int64, n) // 8
    vals = np.frombuffer(b"".join(ba) + b"".join(bb), np.uint64)
    pid = np.concatenate([np.repeat(np.arange(n, dtype=np.int64), na),
                          np.repeat(np.arange(n, dtype=np.int64), nb)])
    order = np.lexsort((vals, pid))
    sv, sp = vals[order], pid[order]
    dup = (sv[1:] == sv[:-1]) & (sp[1:] == sp[:-1])
    ni = np.bincount(sp[1:][dup], minlength=n).astype(np.int64)
    return ni, na + nb - ni


def _inter_union_udf():
    """(sh_a blob, sh_b blob) → struct(n_inter, n_union). Shingle blobs are
    sorted-unique u64 (see make_features_udf); the whole Arrow batch is counted
    in one vectorized lexsort pass (_inter_union_batch)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("n_inter", LongType()),
        StructField("n_union", LongType()),
    ])

    @pandas_udf(schema)
    def inter_union(sa: pd.Series, sb: pd.Series) -> pd.DataFrame:
        ni, nu = _inter_union_batch(sa, sb)
        return pd.DataFrame({"n_inter": ni, "n_union": nu})

    # The UDF is pure, but letting Catalyst treat it as deterministic allows the
    # downstream jaccard-threshold Filter to push through the Project and
    # RE-EVALUATE the UDF (two ArrowEvalPython nodes, 2x the verify cost —
    # observed in the physical plan). Non-deterministic pins it to one evaluation.
    return inter_union.asNondeterministic()


def verify_jaccard(pairs: DataFrame, features: DataFrame, cfg: DedupConfig,
                   id_col: str = "url") -> DataFrame:
    """Exact shingle-set Jaccard for every candidate pair (J5).

    Set math runs in a vectorized pandas UDF over the packed u64 shingle blobs
    (candidate pairs are few after banding; the blob representation keeps the
    persisted features table cheap to cache — see make_features_udf)."""
    sh = features.select(F.col(id_col), F.col("shingles"))
    iu = _inter_union_udf()
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a")
                     .withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b")
                .withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("_iu", iu(F.col("sh_a"), F.col("sh_b")))
        .withColumn("n_inter", F.col("_iu.n_inter"))
        .withColumn("n_union", F.col("_iu.n_union"))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") > 0,
                   F.col("n_inter") / F.col("n_union")).otherwise(F.lit(0.0)),
        )
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
    )
    return out


def near_dup_edges(pages: DataFrame, cfg: DedupConfig, id_col: str = "url"
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full LSH leg: returns (verified_pairs, features, dropped_buckets).

    verified_pairs = candidates with exact Jaccard ≥ cfg.jaccard_threshold.

    The persisted feature table is hash-partitioned on the id when the master
    runs real executors (yarn, k8s, standalone, local-cluster), so BOTH verify
    joins reuse the cached partitioning (alias-aware output partitioning)
    instead of re-shuffling the shingle-blob table twice — the 100 TB sizing
    table's assumption. Single-JVM ``local[N]`` skips it: there the pairs
    broadcast and the extra full shuffle is pure cost (measured +~2 s on 50k
    docs/32 cores, the r2 bench regression).
    """
    # ONE fused UDF pass; features feed both the band explode and the verify
    # join — materialize once (the persisted row is just a shingle blob + 32
    # band hashes, the cheap-to-cache representation).
    master = pages.sparkSession.conf.get("spark.master", "local[*]")
    # "local-cluster[...]" does NOT match: it runs real executor JVMs
    is_single_jvm = master == "local" or master.startswith("local[")
    features = doc_band_features(pages, cfg, id_col)
    if not is_single_jvm:
        features = features.repartition(id_col)
    features = features.persist()
    bands_df = features.select(
        id_col, F.posexplode("bands").alias("band_id", "band_hash")
    )
    pairs, dropped = candidate_pairs(bands_df, cfg, id_col)
    verified = verify_jaccard(pairs, features, cfg, id_col).filter(
        F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    )
    return verified, features, dropped


def near_dup_clusters(pages: DataFrame, cfg: DedupConfig,
                      id_col: str = "url") -> DataFrame:
    """LSH edges → connected components → (url, cluster_id) for ALL pages
    (singletons cluster with themselves)."""
    from corpus_dedup_spark.operators.connected_components import (
        attach_labels, connected_components)

    verified, _features, _dropped = near_dup_edges(pages, cfg, id_col)
    labels = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return attach_labels(pages.select(id_col), labels, id_col).select(
        id_col, "cluster_id"
    )
