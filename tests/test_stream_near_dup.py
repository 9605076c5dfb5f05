"""Streaming near-dup flags: stream-vs-static LSH+verify equals batch truth."""

import pyspark.sql.functions as F

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.operators.minhash_lsh import (_inter_union_udf,
                                                      doc_features)
from corpus_dedup_spark.streaming.stream_near_dup import (
    corpus_band_index, stream_near_dup_flags)
from tests.helpers import drain_to_memory, pages_spark


def _batch_truth(spark, stream_df, corpus_df, cfg):
    """From-definition truth: exact Jaccard of every (stream, corpus) pair
    over the SAME shingle kernel, thresholded — a superset of what LSH can
    flag; the planted copies (identical text ⇒ jaccard 1.0) must all be
    flagged by the stream too."""
    sf = doc_features(stream_df, cfg).select(
        F.col("url"), F.col("shingles").alias("sh_a"))
    cf = doc_features(corpus_df, cfg).select(
        F.col("url").alias("corpus_id"), F.col("shingles").alias("sh_b"))
    iu = _inter_union_udf()
    return (
        sf.crossJoin(cf)
        .withColumn("_iu", iu(F.col("sh_a"), F.col("sh_b")))
        .select(
            F.col("url").alias("id_a"), F.col("corpus_id").alias("id_b"),
            (F.col("_iu.n_inter")
             / F.greatest(F.col("_iu.n_union"), F.lit(1))).alias("jaccard"),
        )
    )


def test_stream_flags_planted_corpus_copies(spark, tmp_path):
    cfg = DedupConfig(jaccard_threshold=0.8)
    corpus, _, _ = pages_spark(spark, n_docs=40, seed=11)
    corpus = corpus.withColumn(
        "url", F.concat(F.lit("corpus-"), F.col("url"))).cache()

    # stream batch = 10 exact copies of corpus docs + 10 unrelated docs
    copies = (corpus.orderBy("url").limit(10)
              .withColumn("url", F.concat(F.lit("new-"), F.col("url"))))
    fresh, _, _ = pages_spark(spark, n_docs=10, seed=999)
    fresh = fresh.withColumn("url", F.concat(F.lit("fresh-"), F.col("url")))
    stream_df = copies.unionByName(fresh).cache()
    path = str(tmp_path / "incoming")
    stream_df.write.mode("overwrite").parquet(path)

    bands, shingles = corpus_band_index(corpus, cfg)
    bands, shingles = bands.cache(), shingles.cache()
    q = drain_to_memory(stream_near_dup_flags(
        spark, path, stream_df.schema, bands, shingles, cfg,
        bounded_state=False), "snd_test")
    q.awaitTermination(180)
    got = {(r["url"], r["corpus_id"]): r["jaccard"]
           for r in spark.sql("select * from snd_test").collect()}

    # every planted copy is flagged against its corpus source at jaccard 1.0
    for r in copies.select("url").collect():
        src = r["url"].replace("new-", "", 1)
        assert got.get((r["url"], src)) == 1.0, (r["url"], src)
    # everything flagged is truly above threshold (no hash-trust false flags)
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in _batch_truth(spark, stream_df, corpus, cfg)
        .filter(F.col("jaccard") >= cfg.jaccard_threshold).collect()
    }
    assert set(got).issubset(set(truth))
    for k, j in got.items():
        assert abs(j - truth[k]) < 1e-12
