"""Storage-bucketed corpus state gives the same incremental-dedup rows as a
plain one.

With the corpus keeper table stored bucketed by norm_unit (Iceberg
``bucket(norm_unit, N)`` in production), the incremental anti-join is
co-located: only the new batch shuffles (the plan shape is also
tests/test_plans.py::test_bucketed_anti_join). Spark's native bucketed
tables stand in for Iceberg here; bucketing is a physical property only.
"""
from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_corpus(spark):
    """A corpus keeper-state table bucketed by norm_unit (8 buckets)."""
    name = "corpus_state_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    corpus = spark.createDataFrame(
        [(f"c{i}", f"Corpus sentence number {i}.".encode()) for i in range(200)],
        ["url", "norm_unit"])
    (corpus.write.mode("overwrite")
     .bucketBy(8, "norm_unit").sortBy("norm_unit")
     .saveAsTable(name))
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_anti_join_reads_bucketed_state_without_exchange(spark, bucketed_corpus):
    from corpus_dedup_spark.operators.exact_dedup import dedup_against_corpus

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # bucket-join elimination requires partitioning arity == bucket count;
    # AQE off so the final plan string is the static plan (stable to grep)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        new = spark.createDataFrame(
            [("n1", "Corpus sentence number 3. Brand new sentence."),
             ("n2", "Wholly fresh content here.")], ["url", "text"])
        corpus_units = spark.table(bucketed_corpus).select("norm_unit")
        _kept, deduped = dedup_against_corpus(new, corpus_units)
        plan = _plan(deduped)

        # the corpus-state side scans the bucketed files with NO Exchange above
        # the scan: every Exchange in the plan must sit on the new-batch side
        # (below it is the Python extraction, never the state-table scan)
        scan_line = [ln for ln in plan.splitlines()
                     if "corpus_state_bucketed" in ln and "Scan" in ln]
        assert scan_line, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        for chunk in plan.split("Exchange")[1:]:
            # text below each Exchange up to the next operator tree break:
            # the bucketed table must not appear under any Exchange
            assert "corpus_state_bucketed" not in chunk.split("Scan parquet")[0], plan

        out = {r["url"]: r["dedup_text"] for r in deduped.collect()}
        assert out["n1"] == "Brand new sentence."
        assert out["n2"] == "Wholly fresh content here."
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_bucketed_state_vs_plain_state_same_rows(spark, bucketed_corpus):
    """Bucketing is a physical property only: identical results either way."""
    from corpus_dedup_spark.operators.exact_dedup import dedup_against_corpus

    new = spark.createDataFrame(
        [("n1", "Corpus sentence number 7. Another new one."),
         ("n2", "Corpus sentence number 8.")], ["url", "text"])
    bucketed = spark.table(bucketed_corpus).select("norm_unit")
    plain = bucketed.repartition(4)
    _k1, d1 = dedup_against_corpus(new, bucketed)
    _k2, d2 = dedup_against_corpus(new, plain)
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))
