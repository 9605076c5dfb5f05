"""Connected components: correctness on known graphs + convergence on chains."""

import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark.operators.connected_components import (
    attach_labels, connected_components)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df)
    return {r["node"]: r["cluster_id"] for r in out.collect()}


def test_two_components(spark):
    got = _labels(spark, [("b", "a"), ("b", "c"), ("e", "f")])
    assert got == {"a": "a", "b": "a", "c": "a", "e": "e", "f": "e"}


def test_chain_converges_log_rounds(spark):
    # path graph 0-1-2-...-15: worst case for naive propagation
    nodes = [f"n{i:02d}" for i in range(16)]
    edges = list(zip(nodes, nodes[1:]))
    got = _labels(spark, edges)
    assert set(got.values()) == {"n00"}
    assert len(got) == 16


def test_duplicate_and_reversed_edges(spark):
    got = _labels(spark, [("a", "b"), ("b", "a"), ("a", "b"), ("c", "b")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_attach_labels_singletons(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], ["url"])
    labels = connected_components(spark.createDataFrame([("a", "b")], ["src", "dst"]))
    out = {r["url"]: r["cluster_id"]
           for r in attach_labels(nodes, labels, "url").collect()}
    assert out == {"a": "a", "b": "a", "z": "z"}


def test_distributed_path_matches_driver_path(spark):
    # force the iterative star loop (driver_max_edges=0) and compare against the
    # driver union-find on a graph with chains, cliques and reversed duplicates
    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(12)]           # chain
        + [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]  # clique
        + [("x", "y"), ("y", "x"), ("z", "y")]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    dist = {r["node"]: r["cluster_id"]
            for r in connected_components(df, driver_max_edges=0).collect()}
    drv = {r["node"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert dist == drv
    assert set(dist.values()) == {"c0", "k0", "x"}


def test_driver_path_non_string_ids(spark):
    df = spark.createDataFrame([(2, 1), (3, 2), (10, 11)], ["src", "dst"])
    got = {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_non_convergence_raises(spark):
    # one star round cannot reach the fixpoint of a 12-node chain: the loop
    # must refuse to return partial labels
    edges = [(f"c{i:02d}", f"c{i+1:02d}") for i in range(11)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, driver_max_edges=0, max_iter=1)
