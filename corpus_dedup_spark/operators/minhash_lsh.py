"""MinHash + LSH near-duplicate detection (north-rule core: H5/H6/J4/J5).

Pipeline: units → shingle-hash sets → batched MinHash signatures → band hashes (one
fused pandas UDF, vectorized numpy) → explode → bucket member lists (candidates) →
exact shingle-set Jaccard verify (never trust hashes alone — quirk Q6 generalized) →
edges.

Scale design:
- Band rows cross ONE shuffle, hash-partitioned on (band_id, band_hash). A window
  over those partitions sizes every bucket; buckets over cfg.max_bucket_size (hot
  boilerplate hosts) are never collected and come back as the dropped frame, which
  bounds the quadratic blowup and tells the caller what the cap cut.
- The key routes, the url decides (quirk Q6). Band rows and candidate pairs carry
  an 8-byte xxhash64 of the url, not the url. The verify joins map each key back
  to every url that carries it and score each url pair exactly, so a colliding key
  costs verify work but can never make a wrong edge or lose one.
- Exact duplicates are guaranteed caught: identical unit lists ⇒ identical shingle sets
  ⇒ identical signatures ⇒ colliding in every band.
- Verify joins candidates back to the packed sorted-unique shingle blobs and counts
  |A∩B| and |A∪B| for a whole Arrow batch in one vectorized numpy pass.
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
from pyspark.sql.window import Window

from corpus_dedup_spark.config import DedupConfig


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


def band_explode(features: DataFrame, id_col: str = "url") -> DataFrame:
    """(id, bands) → (id, band_id, band_hash): one row per LSH band."""
    return features.select(
        id_col, F.posexplode("bands").alias("band_id", "band_hash"))


def candidate_pairs(bands_df: DataFrame, cfg: DedupConfig,
                    id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """Bucket members → distinct candidate pairs (id_a < id_b).

    Returns (pairs, dropped_buckets): buckets larger than cfg.max_bucket_size are
    excluded from pair generation and returned as (band_id, band_hash, bucket_n),
    one row per bucket (skew cap — a 1M-member boilerplate bucket would
    otherwise produce 10^12 pairs).
    """
    # ONE band-row exchange. The window sizes each bucket inside the partitions
    # the repartition made (a sort, no second exchange), and the collect_list
    # aggregation keys on the same columns, so it reuses that partitioning too.
    # A bucket over the cap only passes through the window's spillable row
    # buffer; no reducer ever collects it into a list. Singleton buckets are
    # filtered before the aggregation (bucket_n counts NULL ids, so the
    # size(ids) filter still guards the pair explode).
    sized = bands_df.repartition("band_id", "band_hash").withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_hash")))
    dropped = (
        sized.filter(F.col("bucket_n") > cfg.max_bucket_size)
        .select("band_id", "band_hash", "bucket_n").distinct()
    )
    # Pair generation: bucket → sorted member list (bounded by max_bucket_size)
    # + two streamed explodes — measured 2.2x faster than the bucket self-join.
    # The nested explode streams through whole-stage codegen, so per-task
    # memory stays O(bucket), not O(bucket^2).
    buckets = (
        sized.filter(F.col("bucket_n").between(2, cfg.max_bucket_size))
        .groupBy("band_id", "band_hash")
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


def _scored(joined: DataFrame) -> DataFrame:
    """(id_a, id_b, sh_a, sh_b) → (id_a, id_b, n_inter, n_union, jaccard): the
    scoring tail both verify paths share, one inter_union evaluation."""
    iu = _inter_union_udf()
    return (
        joined
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


def verify_jaccard(pairs: DataFrame, features: DataFrame, cfg: DedupConfig,
                   id_col: str = "url") -> DataFrame:
    """Exact shingle-set Jaccard for every candidate pair (J5).

    Set math runs in a vectorized pandas UDF over the packed u64 shingle blobs
    (candidate pairs are few after banding; the blob representation keeps the
    persisted features table cheap to cache — see make_band_features_udf)."""
    sh = features.select(F.col(id_col), F.col("shingles"))
    return _scored(
        pairs.join(sh.withColumnRenamed(id_col, "id_a")
                     .withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b")
                .withColumnRenamed("shingles", "sh_b"), "id_b"))


def _doc_key(col):
    """64-bit key of a document id, the near-dup leg's band and pair routing
    key (:func:`edges_from_features`). A hook of its own so that a test can
    weaken it."""
    return F.xxhash64(col)


def _verify_keyed(pairs: DataFrame, features: DataFrame,
                  id_col: str) -> DataFrame:
    """Key pairs (id_a, id_b) → scored id pairs. Each key maps back to every
    (id, shingles) row that carries it, so a colliding key expands to all of
    its ids; the ids then decide. Two keys that differ can only give ids that
    differ, each id pair once. One key paired with itself gives every pair of
    its ids in both orders, and itself with itself, so only id_a < id_b is
    kept there. A NULL id takes no part, as in :func:`candidate_pairs`. The
    ids are oriented least/greatest; the counts are symmetric, so the blobs
    need no swap."""
    def side(s: str) -> DataFrame:
        return features.filter(F.col(id_col).isNotNull()).select(
            _doc_key(F.col(id_col)).alias(f"k_{s}"),
            F.col(id_col).alias(f"u_{s}"), F.col("shingles").alias(f"sh_{s}"))

    joined = (
        pairs.select(F.col("id_a").alias("k_a"), F.col("id_b").alias("k_b"))
        .join(side("a"), "k_a").join(side("b"), "k_b")
        .filter((F.col("k_a") != F.col("k_b")) | (F.col("u_a") < F.col("u_b")))
    )
    return _scored(joined.select(
        F.least("u_a", "u_b").alias("id_a"),
        F.greatest("u_a", "u_b").alias("id_b"), "sh_a", "sh_b"))


def edges_from_features(features: DataFrame, cfg: DedupConfig,
                        id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """Fused features (id, shingles, bands) → (verified_pairs, dropped_buckets):
    band explode → bucket candidates → exact Jaccard, kept at
    ≥ cfg.jaccard_threshold. ``features`` is read twice (banding and the verify
    join), so callers hand in a persisted or checkpointed table.

    The band and pair exchanges carry a 64-bit key of the id (:func:`_doc_key`),
    not the id, so band rows are (key, band_id, band_hash) and pairs two longs.
    The key routes, the id decides (quirk Q6): the verify joins map each key
    back to all of its ids and score every id pair exactly, so a key collision
    can cost verify work but never a wrong or missing edge. The key is computed
    on the fly; the features layout does not carry it."""
    keyed = features.select(_doc_key(F.col(id_col)).alias("_k"), "bands")
    pairs, dropped = candidate_pairs(band_explode(keyed, "_k"), cfg, "_k")
    verified = _verify_keyed(pairs, features, id_col).filter(
        F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    )
    return verified, dropped


def near_dup_edges(pages: DataFrame, cfg: DedupConfig, id_col: str = "url"
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full LSH leg: returns (verified_pairs, features, dropped_buckets).

    verified_pairs = candidates with exact Jaccard ≥ cfg.jaccard_threshold.
    ``features`` is persisted here and the caller owns ``features.unpersist()``
    once the verified pairs have been consumed.

    The persisted feature table is hash-partitioned on the id's key
    (:func:`_doc_key`) when the master runs real executors (yarn, k8s,
    standalone, local-cluster), so BOTH keyed verify joins can reuse the
    cached partitioning (alias-aware output partitioning) instead of
    re-shuffling the shingle-blob table twice — the 100 TB sizing table's
    assumption. Single-JVM ``local[N]`` skips it: there the pairs broadcast
    and the extra full shuffle is pure cost (measured +~2 s on 50k docs/32
    cores, the r2 bench regression).
    """
    # ONE fused UDF pass; features feed both the band explode and the verify
    # join — materialize once (the persisted row is just a shingle blob + 32
    # band hashes, the cheap-to-cache representation).
    master = pages.sparkSession.conf.get("spark.master", "local[*]")
    # "local-cluster[...]" does NOT match: it runs real executor JVMs
    is_single_jvm = master == "local" or master.startswith("local[")
    features = doc_band_features(pages, cfg, id_col)
    if not is_single_jvm:
        features = features.repartition(_doc_key(F.col(id_col)))
    features = features.persist()
    verified, dropped = edges_from_features(features, cfg, id_col)
    return verified, features, dropped


def near_dup_clusters(pages: DataFrame, cfg: DedupConfig,
                      id_col: str = "url") -> DataFrame:
    """LSH edges → connected components → (url, cluster_id) for ALL pages
    (singletons cluster with themselves)."""
    from corpus_dedup_spark.operators.connected_components import (
        attach_labels, connected_components)

    verified, features, _dropped = near_dup_edges(pages, cfg, id_col)
    labels = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # connected_components consumed the edges eagerly (localCheckpoint +
    # count) and attach_labels reads only pages and labels
    features.unpersist()
    return attach_labels(pages.select(id_col), labels, id_col).select(
        id_col, "cluster_id"
    )
