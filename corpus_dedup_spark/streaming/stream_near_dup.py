"""Structured Streaming near-dup flagging — incremental MinHash/LSH against a
static corpus index.

The batch near-dup pipeline (operators/minhash_lsh.py) answers "which documents
in THIS corpus are near-duplicates of each other"; the continuously-arriving
question is "is this NEW page a near-duplicate of anything already in the
corpus". That is a stream-STATIC join, which Structured Streaming executes
stateless-ly per micro-batch — no stream-stream state, no watermark coupling:

1. the corpus side is indexed ONCE in batch (``corpus_band_index``): one fused
   feature pass → exploded (band_id, band_hash) rows plus a shingle table —
   at scale both live as bucketed tables keyed the way the join probes them,
2. each micro-batch runs the SAME fused extract→shingle→MinHash→band UDF the
   batch engine uses (one Arrow round-trip per batch),
3. band-bucket equi-join against the corpus index = LSH candidate generation;
   candidates deduplicate per (new page, corpus doc) and are verified with the
   exact shingle-set Jaccard kernel (never trust the bands alone — quirk Q6
   carried into streaming).

State-lifetime contract (same explicit-choice rule as stream_dedup): the
candidate dedup before verify is the ONLY stateful operator.
``bounded_state=True`` uses dropDuplicatesWithinWatermark (safe on unbounded
streams; a candidate pair recurring later than the watermark delay re-verifies
— harmless, just duplicate work); ``bounded_state=False`` is exact
once-per-pair across the whole run but its state grows with flagged pairs.

Candidate-bucket skew: the static index is built with the batch engine's skew
cap (buckets above ``cfg.max_bucket_size`` are dropped and reported), so a
boilerplate band hash cannot fan one streamed page out to millions of corpus
rows — the same bound the batch candidate stage enforces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.operators.minhash_lsh import doc_band_features


def corpus_band_index(corpus_pages: DataFrame, cfg: DedupConfig,
                      id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """(bands, shingles) for the static corpus side.

    bands: (corpus_id, band_id, band_hash) with hot buckets dropped (skew
    cap, identical rule to the batch candidate stage); shingles:
    (corpus_id, corpus_shingles) for the exact verify. Persist or write both
    — the stream probes them every micro-batch."""
    feats = doc_band_features(corpus_pages, cfg, id_col=id_col)
    bands = feats.select(
        F.col(id_col).alias("corpus_id"),
        F.posexplode("bands").alias("band_id", "band_hash"),
    )
    hot = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cfg.max_bucket_size)
        .select("band_id", "band_hash")
    )
    bands = bands.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")
    shingles = feats.select(F.col(id_col).alias("corpus_id"),
                            F.col("shingles").alias("corpus_shingles"))
    return bands, shingles


def stream_near_dup_flags(spark: SparkSession, input_dir: str, schema,
                          corpus_bands: DataFrame, corpus_shingles: DataFrame,
                          cfg: DedupConfig, watermark: str = "1 hour",
                          *, bounded_state: bool) -> DataFrame:
    """Streaming (url, corpus_id, jaccard) flags: every new page paired with
    each corpus document whose LSH bucket it shares AND whose exact shingle
    Jaccard clears ``cfg.jaccard_threshold``. Append-mode safe."""
    from corpus_dedup_spark.operators.minhash_lsh import _inter_union_udf

    pages = (
        spark.readStream.schema(schema).parquet(input_dir)
        .withWatermark("warc_ts", watermark)
    )
    # same fused UDF as doc_band_features, inlined to carry warc_ts through
    # (the watermark column must survive to the stateful dedup; a join back
    # to pages would be a stream-stream join)
    from corpus_dedup_spark.functions.udfs import make_band_features_udf

    features = make_band_features_udf(cfg)
    feats = (
        pages.select("url", "warc_ts", features(F.col("text")).alias("_f"))
        .select("url", "warc_ts", F.col("_f.shingles").alias("shingles"),
                F.col("_f.bands").alias("bands"))
    )
    stream_bands = feats.select(
        "url", "warc_ts", "shingles",
        F.posexplode("bands").alias("band_id", "band_hash"),
    )
    cands = (
        stream_bands.join(corpus_bands, ["band_id", "band_hash"])
        .select("url", "warc_ts", "shingles", "corpus_id")
    )
    cands = (cands.dropDuplicatesWithinWatermark(["url", "corpus_id"])
             if bounded_state else
             cands.dropDuplicates(["url", "corpus_id"]))
    iu = _inter_union_udf()
    verified = (
        cands.join(corpus_shingles, "corpus_id")
        .withColumn("_iu", iu(F.col("shingles"), F.col("corpus_shingles")))
        .select(
            "url", "corpus_id",
            (F.col("_iu.n_inter") / F.greatest(F.col("_iu.n_union"), F.lit(1)))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
    )
    return verified
