"""Shared-block (suffix-prefix-grouping) dup detection vs planted block truth."""

import pytest

from corpus_dedup_spark.operators.block_dups import shared_block_pairs
from tests.helpers import pages_spark


def test_finds_planted_shared_blocks(spark):
    df, truth_pairs, _ = pages_spark(spark, n_docs=200, seed=21)
    blocks = truth_pairs[truth_pairs["kind"] == "block"]
    if len(blocks) == 0:
        pytest.skip("no block pairs planted")
    got = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
           for r in shared_block_pairs(df, window=48).collect()}
    hit = sum((min(a, b), max(a, b)) in got
              for a, b in zip(blocks["url_a"], blocks["url_b"]))
    # planted blocks are 3 full sentences (>> 48 cps) copied verbatim
    assert hit == len(blocks), f"found {hit}/{len(blocks)} planted block pairs"


def test_stride_detects_long_blocks(spark):
    shared = "X" * 10 + "the shared block of text that is long enough to span " * 3
    df = spark.createDataFrame(
        [("a", "prefix one. " + shared + " suffix a"),
         ("b", "totally different lead-in text here! " + shared + " tail b"),
         ("c", "nothing in common with the others at all, truly unique")],
        ["url", "text"])
    got = shared_block_pairs(df, window=32, stride=8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert ("a", "b") in pairs
    assert all("c" not in p for p in pairs)


def test_no_false_positives_on_distinct_texts(spark):
    # interleave the doc index into every word so no 40-cp window repeats across docs
    df = spark.createDataFrame(
        [(f"u{i}", " ".join(f"w{i}x{j}" for j in range(40))) for i in range(10)],
        ["url", "text"])
    assert shared_block_pairs(df, window=40).count() == 0
