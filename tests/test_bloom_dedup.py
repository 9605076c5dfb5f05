"""Bloom-prefiltered incremental dedup (bloom_dedup.py).

The contract under test: NO false negatives ever, false positives resolved
by the exact join — so the pipeline output is bit-identical to the plain
anti-join even when the filter is deliberately undersized.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from corpus_dedup_spark.operators.bloom_dedup import (
    bloom_incremental_dedup,
    bloom_params,
    build_bloom,
    with_bloom_maybe,
)


def test_bloom_params():
    m, k = bloom_params(1000, 0.01)
    assert m & (m - 1) == 0  # power of two
    assert m >= 8192  # ≥ 9.58 bits/key for 1% fpp
    assert 1 <= k <= 16
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


class TestFilterSemantics:
    def _keys(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.encode(F.concat(F.lit("key-"), F.col("id")), "UTF-8")
            .alias("norm_unit"))

    def test_no_false_negatives(self, spark):
        member = self._keys(spark, 0, 2000)
        bm, m, k = build_bloom(member, "norm_unit", 2000, 0.01)
        probed = with_bloom_maybe(member, spark, bm, m, k, "norm_unit")
        assert probed.filter(~F.col("_maybe")).count() == 0

    def test_false_positive_rate_bounded(self, spark):
        bm, m, k = build_bloom(self._keys(spark, 0, 2000), "norm_unit",
                               2000, 0.01)
        fresh = self._keys(spark, 100_000, 104_000)
        fp = with_bloom_maybe(fresh, spark, bm, m, k, "norm_unit") \
            .filter(F.col("_maybe")).count()
        assert fp / 4000 < 0.05  # target 1%, generous margin

    def test_bitmap_incrementally_orable(self, spark):
        """The persistable-state story: OR of two batch bitmaps ≡ the filter
        of the union (same m/k) — so state never needs rebuilding."""
        a, _, _ = build_bloom(self._keys(spark, 0, 500), "norm_unit", 1000, 0.01)
        b, _, _ = build_bloom(self._keys(spark, 500, 1000), "norm_unit", 1000, 0.01)
        u, _, _ = build_bloom(self._keys(spark, 0, 1000), "norm_unit", 1000, 0.01)
        assert np.array_equal(a | b, u)


class TestIncrementalDedup:
    def _split(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") < 40)
        new = (
            docs.filter(F.col("doc_id") >= 40)
            .unionByName(corpus.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
        )
        from corpus_dedup_spark.operators.exact_dedup import (
            dedup_units, explode_units_arrow)
        cu = dedup_units(explode_units_arrow(corpus, id_col="doc_id"),
                         id_col="doc_id").select("norm_unit")
        return new, cu

    def _collect(self, df):
        return sorted(map(tuple, df.select("doc_id", "dedup_text",
                                           "n_units").collect()))

    def test_equals_plain_anti_join(self, spark, sf_dir):
        from corpus_dedup_spark.operators.exact_dedup import \
            dedup_against_corpus

        new, cu = self._split(spark, sf_dir)
        _, plain = dedup_against_corpus(new, cu, id_col="doc_id")
        _, bloomed, probed = bloom_incremental_dedup(new, cu, n_items=4096,
                                                     id_col="doc_id")
        assert self._collect(bloomed) == self._collect(plain)
        probed.unpersist()

    def test_exact_under_heavy_false_positives(self, spark, sf_dir):
        """Undersize the filter (64 bits for hundreds of keys → most probes
        collide) — the verify join must still produce the exact result."""
        from corpus_dedup_spark.operators.exact_dedup import \
            dedup_against_corpus

        new, cu = self._split(spark, sf_dir)
        _, plain = dedup_against_corpus(new, cu, id_col="doc_id")
        _, bloomed, probed = bloom_incremental_dedup(new, cu, n_items=1,
                                                     fpp=0.5, id_col="doc_id")
        assert self._collect(bloomed) == self._collect(plain)
        probed.unpersist()

    def test_caller_releases_probed_stream(self, spark, sf_dir):
        """The persisted probed stream is handed back, so the caller can
        release it: after unpersist, no cache of the call is left behind."""
        new, cu = self._split(spark, sf_dir)
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        _, bloomed, probed = bloom_incremental_dedup(new, cu, n_items=4096,
                                                     id_col="doc_id")
        bloomed.count()
        assert jsc.getPersistentRDDs().size() > before
        probed.unpersist()
        assert jsc.getPersistentRDDs().size() == before

    def test_both_routes_taken(self, spark, sf_dir):
        """Planted corpus copies go maybe; fresh docs go definitely-new."""
        from corpus_dedup_spark.operators.exact_dedup import \
            explode_units_arrow

        new, cu = self._split(spark, sf_dir)
        bm, m, k = build_bloom(cu, "norm_unit", 4096, 0.01)
        units = explode_units_arrow(new, id_col="doc_id")
        routes = {r["_maybe"]: r["count"] for r in
                  with_bloom_maybe(units, spark, bm, m, k, "norm_unit")
                  .groupBy("_maybe").count().collect()}
        assert routes.get(True, 0) > 0 and routes.get(False, 0) > 0


class TestBoundedDriverMerge:
    def test_partial_bitmap_count_bounded(self, spark):
        """r6: the build stage must emit a BOUNDED number of partial bitmaps
        regardless of how many scan tasks the corpus has — the r5 collect of
        one bitmap per scan task was O(n_partitions x m/8) driver-resident."""
        from corpus_dedup_spark.operators.bloom_dedup import (
            MAX_PARTIAL_BITMAPS, _partial_bitmaps, bloom_params)

        keys = spark.range(0, 5000).select(
            F.encode(F.concat(F.lit("key-"), F.col("id")), "UTF-8")
            .alias("norm_unit")).repartition(64)
        m, k = bloom_params(5000, 0.01)
        partials = _partial_bitmaps(keys, "norm_unit", m, k)
        assert partials.rdd.getNumPartitions() <= MAX_PARTIAL_BITMAPS

    def test_coalesced_build_bit_identical(self, spark):
        """The coalesced + incrementally-OR-merged bitmap equals the bitmap
        built from a single partition (OR is associative/commutative; the
        partitioning must not matter)."""
        keys = spark.range(0, 3000).select(
            F.encode(F.concat(F.lit("key-"), F.col("id")), "UTF-8")
            .alias("norm_unit"))
        bm_many, m1, k1 = build_bloom(keys.repartition(64), "norm_unit",
                                      3000, 0.01)
        bm_one, m2, k2 = build_bloom(keys.coalesce(1), "norm_unit",
                                     3000, 0.01)
        assert (m1, k1) == (m2, k2)
        assert np.array_equal(bm_many, bm_one)
