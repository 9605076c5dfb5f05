"""Test inputs and oracles: planted pages as a Spark table, the row-level
dedup counters, and a drain for streaming queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from corpus_dedup_spark.sources.pages import generate_pages


def pages_spark(spark, n_docs: int = 1000, seed: int = 42):
    """Planted pages (``generate_pages``) as a Spark DataFrame with the pages
    input schema; returns (pages, truth_pairs, clusters)."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    pdf, truth_pairs, clusters = generate_pages(n_docs, seed)
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ])
    return spark.createDataFrame(pdf, schema=schema), truth_pairs, clusters


def dedup_stats(units_marked):
    """The reference summary counters (src/dedup.c:1113-1141) over
    ``mark_duplicates`` output, one row per occurrence."""
    return units_marked.agg(
        F.count("*").alias("total_units"),
        F.count_if(~F.col("is_dup")).alias("unique_units"),
        F.count_if(F.col("is_dup")).alias("duplicate_units"),
        F.sum(F.length("norm_unit")).alias("bytes_processed"),
    )


def drain_to_memory(stream, query_name: str, output_mode: str = "append"):
    """Start ``stream`` into an in-memory table named ``query_name`` with an
    availableNow trigger, which drains the files present once and stops;
    returns the StreamingQuery."""
    return (stream.writeStream.format("memory").queryName(query_name)
            .outputMode(output_mode).trigger(availableNow=True).start())
