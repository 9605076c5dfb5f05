"""MinHash/LSH near-dup detection: exact-dup guarantee + planted-truth recall."""

import re
from itertools import combinations

import numpy as np
import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.operators import minhash_lsh
from corpus_dedup_spark.operators.minhash_lsh import (band_explode,
                                                      candidate_pairs,
                                                      doc_band_features,
                                                      doc_features,
                                                      edges_from_features,
                                                      near_dup_clusters,
                                                      near_dup_edges)
from tests.helpers import pages_spark
from tests.plans import exchanges, plan_of


@pytest.fixture(scope="module")
def cfg():
    return DedupConfig(jaccard_threshold=0.35)


@pytest.fixture(scope="module")
def planted(spark):
    df, truth_pairs, clusters = pages_spark(spark, n_docs=300, seed=7)
    return df.cache(), truth_pairs, clusters


def test_identical_docs_identical_signatures(spark, cfg):
    df = spark.createDataFrame(
        [("a", "One sentence here. Two sentences here. Third one now."),
         ("b", "One sentence here. Two sentences here. Third one now."),
         ("c", "Completely different text. Nothing shared at all. Zilch.")],
        ["url", "text"])
    feats = doc_features(df, cfg).collect()
    by_url = {r["url"]: r for r in feats}
    assert by_url["a"]["sig"] == by_url["b"]["sig"]
    assert by_url["a"]["sig"] != by_url["c"]["sig"]
    assert by_url["a"]["shingles"] == by_url["b"]["shingles"]


def test_exact_pairs_recall_is_one(spark, cfg, planted):
    """The reference's exact-dup semantics are the floor: recall on planted
    whole-doc-exact pairs must be 1.0 (identical sigs ⇒ same buckets ⇒ J=1)."""
    df, truth_pairs, _ = planted
    verified, feats, _ = near_dup_edges(df, cfg)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    feats.unpersist()
    exact = truth_pairs[truth_pairs["kind"] == "exact"]
    missed = [
        (a, b) for a, b in zip(exact["url_a"], exact["url_b"])
        if (min(a, b), max(a, b)) not in got
    ]
    assert not missed, f"missed {len(missed)}/{len(exact)} exact pairs: {missed[:5]}"


def test_near_pairs_recall(spark, cfg, planted):
    """Recall on planted near pairs, conditioned on true shingle Jaccard ≥ 0.7
    (32 bands × 4 rows: P(candidate | J=0.7) ≈ 0.9998, | J=0.8) ≈ 1-5e-8; pairs
    below the LSH s-curve knee are out of contract — the ≥0.99 north-rule target
    is vs the REFERENCE's assignments, i.e. exact dups, covered by
    test_exact_pairs_recall_is_one)."""
    from corpus_dedup_spark import kernel
    from corpus_dedup_spark.functions.udfs import _shingle_hashes

    df, truth_pairs, _ = planted
    texts = {r["url"]: r["text"] for r in df.select("url", "text").collect()}

    def shingles(url):
        uh = np.array([kernel.fnv1a(u)
                       for u in kernel.extract_units(texts[url].encode())],
                      dtype=np.uint64)
        return set(_shingle_hashes(uh, cfg.shingle_k).tolist())

    near = truth_pairs[truth_pairs["kind"] == "near"]
    eligible = []
    for a, b in zip(near["url_a"], near["url_b"]):
        sa, sb = shingles(a), shingles(b)
        j = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
        if j >= 0.7:
            eligible.append((min(a, b), max(a, b)))
    if not eligible:
        pytest.skip("no near pairs above J=0.7")
    verified, feats, _ = near_dup_edges(df, cfg)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    feats.unpersist()
    hit = sum(p in got for p in eligible)
    recall = hit / len(eligible)
    assert recall >= 0.99, f"near-dup recall {recall:.3f} ({hit}/{len(eligible)})"


def test_clusters_cover_exact_groups(spark, cfg, planted):
    df, truth_pairs, truth_clusters = planted
    out = near_dup_clusters(df, cfg)
    got = {r["url"]: r["cluster_id"] for r in out.collect()}
    assert set(got) == set(truth_clusters["url"])  # every page labeled
    # all members of a planted exact-dup group share one engine cluster
    exact = truth_pairs[truth_pairs["kind"] == "exact"]
    for a, b in zip(exact["url_a"], exact["url_b"]):
        assert got[a] == got[b], (a, b)


def test_clusters_release_feature_cache(spark, cfg, planted):
    """near_dup_clusters persists its feature table for banding + verify and
    releases it once connected_components has consumed the edges."""
    df, _, _ = planted
    near_dup_clusters(df, cfg).count()
    level = doc_band_features(df, cfg).storageLevel
    assert not (level.useMemory or level.useDisk), level


def test_band_explode_evaluates_features_once(spark, cfg, planted):
    """posexplode over the bands column makes Spark infer a size(bands) > 0
    filter; on an uncached features frame it must not evaluate the fused
    feature UDF a second time below the projection."""
    df, _, _ = planted
    bands = band_explode(doc_band_features(df, cfg))
    plan = bands._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_candidates_cross_one_band_exchange(spark, cfg, planted):
    """Band rows are shuffled once: the window that sizes the buckets and the
    collect_list that builds them share the (band_id, band_hash) exchange, and
    no hot-bucket set is broadcast back against the band stream."""
    df, _, _ = planted
    verified, feats, _ = near_dup_edges(df, cfg)
    verified.count()
    plan = verified._jdf.queryExecution().executedPlan().toString()
    feats.unpersist()
    assert plan.count("hashpartitioning(band_id") == 1, plan
    assert "ReusedExchange" not in plan, plan
    assert "BroadcastHashJoin [band_id" not in plan, plan


def test_band_exchange_carries_64bit_key(spark, cfg, planted):
    """The band rows that cross the exchange are (key, band_id, band_hash)
    with a 64-bit key, and no url string."""
    df, _, _ = planted
    verified, feats, _ = near_dup_edges(df, cfg)
    # a long column keeps its ``L`` suffix: ``_k#12L`` → ``_kL``
    band = [re.sub(r"#\d+", "", cols).split(", ")
            for _, cols, args in exchanges(plan_of(verified))
            if args.startswith("hashpartitioning(band_id")]
    feats.unpersist()
    assert band == [["_kL", "band_id", "band_hashL"]], band


def _reaches_cache_unshuffled(node) -> bool:
    """A path from ``node`` down to an InMemoryTableScan crosses no Exchange."""
    if node.nodeName() == "InMemoryTableScan":
        return True
    if node.nodeName() == "Exchange":
        return False
    kids = node.children()
    return any(_reaches_cache_unshuffled(kids.apply(i))
               for i in range(kids.size()))


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_verify_joins_reuse_key_partitioned_features(spark, cfg, planted):
    """Features repartitioned on the key expression feed both shuffled
    verify joins without another exchange: the joins' key columns are
    aliases of that expression. Spark reports the partitioning of a cached
    adaptive plan only once the cache is materialized, hence the count; an
    unmaterialized cache gets the same final plan when adaptive execution
    re-plans after the cache stage."""
    df, _, _ = planted
    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k in confs:
        spark.conf.set(k, "-1")
    feats = doc_band_features(df, cfg).repartition(
        minhash_lsh._doc_key(F.col("url"))).persist()
    try:
        feats.count()
        verified, _ = edges_from_features(feats, cfg)
        root = verified._jdf.queryExecution().executedPlan().executedPlan()
        joins = [n for n in _plan_nodes(root)
                 if n.nodeName() == "SortMergeJoin"]
        assert len(joins) == 2, root.toString()
        assert all(_reaches_cache_unshuffled(j.right()) for j in joins), \
            root.toString()
    finally:
        feats.unpersist()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_colliding_keys_cost_work_never_wrong_edges(spark, cfg, planted,
                                                    monkeypatch):
    """With the key cut to 2 bits nearly every document pair shares a key
    pair, so the verify joins score them all: the edges grow to a superset
    of the unmasked run's, and each is still a distinct url pair in order
    whose exact shingle Jaccard clears the threshold (quirk Q6). A NULL-url
    twin of one page shares all of its buckets and its key bits, and never
    reaches an edge."""
    df, _, _ = planted
    feats = doc_band_features(df, cfg)
    feats = feats.unionByName(
        feats.limit(1).withColumn("url", F.lit(None).cast("string"))).persist()

    def edges():
        verified, _ = edges_from_features(feats, cfg)
        return [tuple(r) for r in verified.select("id_a", "id_b",
                                                  "jaccard").collect()]

    plain = edges()
    monkeypatch.setattr(minhash_lsh, "_doc_key",
                        lambda c: F.xxhash64(c).bitwiseAND(3))
    masked = edges()
    shingles = {r["url"]: set(np.frombuffer(r["shingles"], np.uint64).tolist())
                for r in feats.filter(F.col("url").isNotNull())
                .select("url", "shingles").collect()}
    feats.unpersist()

    pairs = [(a, b) for a, b, _ in masked]
    assert len(set(pairs)) == len(pairs)
    assert all(a is not None and b is not None and a < b for a, b in pairs)
    assert set(plain) <= set(masked)
    assert len(masked) > len(plain)  # the mask reached the join keys
    for a, b, j in masked:
        sa, sb = shingles[a], shingles[b]
        exact = len(sa & sb) / len(sa | sb)
        assert j == pytest.approx(exact), (a, b)
        assert exact >= cfg.jaccard_threshold, (a, b)


def test_skew_cap_drops_hot_buckets(spark, planted):
    """Buckets over the cap come back one row each with their full size,
    exactly a plain groupBy count above the cap; pairs come only from the
    buckets at or under it. A NULL-id band row still counts toward its
    bucket's size (count(*), not count(id))."""
    df, _, _ = planted
    tiny_cap = DedupConfig(jaccard_threshold=0.35, max_bucket_size=2)
    bands_df = band_explode(doc_band_features(df, tiny_cap))
    # a NULL-id row added to a 2-member bucket lifts it over the cap
    two = (bands_df.groupBy("band_id", "band_hash").count()
           .filter(F.col("count") == 2).orderBy("band_id", "band_hash")
           .first())
    bands_df = bands_df.unionByName(spark.createDataFrame(
        [(None, two["band_id"], two["band_hash"])],
        "url string, band_id int, band_hash bigint"))
    pairs, dropped = candidate_pairs(bands_df, tiny_cap)

    ref = (bands_df.groupBy("band_id", "band_hash").agg(F.count("*").alias("n"))
           .filter(F.col("n") > tiny_cap.max_bucket_size))
    got_dropped = sorted(map(tuple, dropped.select(
        "band_id", "band_hash", "bucket_n").collect()))
    assert got_dropped == sorted(map(tuple, ref.collect()))
    assert (two["band_id"], two["band_hash"], 3) in got_dropped
    assert len(got_dropped) > 1  # exact-dup groups of 3+ exceed the cap too

    members: dict = {}
    for r in bands_df.collect():
        members.setdefault((r["band_id"], r["band_hash"]), []).append(r["url"])
    want = set()
    for ids in members.values():
        if len(ids) <= tiny_cap.max_bucket_size:
            want |= set(combinations(sorted(i for i in ids if i is not None), 2))
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got_pairs == want
    assert got_pairs  # the capped run still pairs the buckets it keeps
