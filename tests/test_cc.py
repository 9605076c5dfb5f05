"""Connected components: correctness on known graphs + convergence on chains."""

import random

import pytest

from corpus_dedup_spark.operators.connected_components import (
    DRIVER_CC_MAX_EDGES, attach_labels, connected_components)


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df, **kw)
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


@pytest.mark.parametrize("driver_max_edges", [DRIVER_CC_MAX_EDGES, 0])
def test_repeated_edges_same_labels_both_paths(spark, driver_max_edges):
    """The edge list reaches either path without a distinct: repeated and
    reversed copies of every edge give the labels of the plain list."""
    base = ([(f"c{i}", f"c{i+1}") for i in range(6)]
            + [(f"k{i}", f"k{j}") for i in range(4) for j in range(i + 1, 4)]
            + [("x", "y")])
    noisy = base * 3 + [(b, a) for a, b in base]
    want = _labels(spark, base)
    assert set(want.values()) == {"c0", "k0", "x"}
    assert _labels(spark, noisy, driver_max_edges=driver_max_edges) == want


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


def _random_graph(seed: int) -> list:
    """Chains, stars and a few random extra edges over shuffled string ids,
    with duplicate and reversed copies of some edges."""
    rng = random.Random(seed)
    ids = [f"v{i:03d}" for i in range(120)]
    rng.shuffle(ids)
    edges, at = [], 0
    while at < len(ids) - 1:
        size = rng.randint(2, 12)
        part, at = ids[at:at + size], at + size
        if rng.random() < 0.5:
            edges += list(zip(part, part[1:]))                 # chain
        else:
            edges += [(part[0], v) for v in part[1:]]         # star
    edges += [tuple(rng.sample(ids, 2)) for _ in range(6)]
    noise = rng.sample(edges, len(edges) // 4)
    return edges + noise + [(b, a) for a, b in noise]


@pytest.mark.parametrize("seed", [1, 2])
def test_star_path_matches_driver_on_random_graphs(spark, seed):
    """The distributed star loop stops at a star forest whose labels are the
    driver union-find's, on graphs mixing long chains, stars and repeats."""
    df = spark.createDataFrame(_random_graph(seed), ["src", "dst"])
    star = {r["node"]: r["cluster_id"]
            for r in connected_components(df, driver_max_edges=0).collect()}
    drv = {r["node"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert star == drv


def test_driver_path_non_string_ids(spark):
    df = spark.createDataFrame([(2, 1), (3, 2), (10, 11)], ["src", "dst"])
    got = {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_non_convergence_raises(spark):
    # one star round leaves a 32-node chain far from a star forest: the loop
    # must refuse to return partial labels
    edges = [(f"c{i:02d}", f"c{i+1:02d}") for i in range(31)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, driver_max_edges=0, max_iter=1)
