"""End-to-end corpus-cleaning composition: URL canonicalization → exact
dedup → corpus-frequency boilerplate → PII scrub → decontamination, chained
on one synthetic pages table. Each stage is oracle-verified separately; this
test pins that they COMPOSE (schemas line up, no stage breaks the next)."""

import pyspark.sql.functions as F
from pyspark.sql import Window

from corpus_dedup_spark.functions.text import scrub_pii_expr
from corpus_dedup_spark.functions.urls import canonical_url_expr
from corpus_dedup_spark.operators.boilerplate import (
    boilerplate_ngram_stats, decontaminate_ngram_hits)
from corpus_dedup_spark.operators.exact_dedup import run_exact_dedup
from tests.helpers import pages_spark


def test_clean_corpus_composition(spark):
    pages, _, _ = pages_spark(spark, n_docs=120, seed=7)
    # stage 1: URL canonical first-wins (plant variant spellings)
    pages = pages.withColumn(
        "url_raw",
        F.concat(F.lit("HTTPS://WWW."), F.col("url"), F.lit(":443/?utm_s=x")))
    pages = pages.withColumn("canon", canonical_url_expr(F.col("url_raw")))
    keep = pages.withColumn(
        "rk", F.row_number().over(Window.partitionBy("canon").orderBy("url")))
    pages1 = keep.filter(F.col("rk") == 1).drop("rk", "url_raw", "canon")
    assert pages1.count() == pages.select("canon").distinct().count()

    # stage 2: exact sentence dedup
    _, docs, stats = run_exact_dedup(pages1)
    srow = stats.collect()[0]
    assert srow["duplicate_units"] > 0  # planted dups got collapsed

    # stage 3: boilerplate measurement on the deduped text
    bstats = boilerplate_ngram_stats(
        docs.select(F.col("url").alias("doc_id"),
                    F.col("dedup_text").alias("text")), n=2, min_docs=5)
    b = bstats.agg(F.sum("n_boiler").alias("nb"),
                   F.sum("n_grams").alias("ng")).collect()[0]
    assert b["ng"] > 0 and 0 <= b["nb"] <= b["ng"]

    # stage 4: PII scrub is a no-op on the synthetic corpus but must not
    # disturb anything else (idempotent on clean text)
    scrubbed = docs.select(
        "url", scrub_pii_expr(F.col("dedup_text")).alias("t"),
        F.col("dedup_text"))
    assert scrubbed.filter(F.col("t") != F.col("dedup_text")).count() == 0

    # stage 5: decontamination against a 10-doc "benchmark"
    bench = docs.limit(10).select(F.col("url").alias("doc_id"),
                                  F.col("dedup_text").alias("text"))
    dec = decontaminate_ngram_hits(
        docs.select(F.col("url").alias("doc_id"),
                    F.col("dedup_text").alias("text")), bench, n=5)
    flagged = dec.filter(F.col("is_contaminated") == 1).count()
    assert flagged >= 10  # at minimum the benchmark members flag themselves
