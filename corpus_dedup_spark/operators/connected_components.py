"""Iterative connected components over a DataFrame edge list (north-rule J6).

Alternating large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", public algorithm) — converges in O(log n) rounds and is
skew-resistant: no per-node neighbor list is ever collected; each round is a
groupBy-min plus an equi-join, both AQE-skew-splittable.

Every round is eagerly localCheckpoint-ed to cut lineage (Catalyst cannot optimize
across iterations — SURVEY.md §4 point 2).

Node ids are any orderable type (string urls work; min() picks the lexicographically
smallest member as the cluster id, which is deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach every neighbor larger than u to u's minimum neighbor (or u itself).

    No distinct here: duplicate edges are harmless to the downstream min-agg and
    _small_star ends with a distinct that restores canonical form — dropping it
    saves one full sort-shuffle of the edge list per round."""
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = both.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("m", F.least("mn", "src")).drop("mn")
    return (
        both.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges downward (u >= v) and attach all of u's neighbors + u to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        oriented.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = mins.select(F.col("src"), F.col("m").alias("dst"))
    return relink.union(self_link).distinct()


def _not_star_nodes(edges: DataFrame) -> int:
    """Nodes that keep the distinct edge set (src > dst) from being a star
    forest: a src that is also a dst, or that has more than one dst. Zero
    means every src points at its root, which is the star rounds' fixpoint
    and the shape the labels are read from. Decided on the ids themselves,
    never on a hash of the edge set (quirk Q6)."""
    ends = edges.select(F.explode(F.array(
        F.struct(F.col("src").alias("node"), F.lit(True).alias("is_src")),
        F.struct(F.col("dst").alias("node"), F.lit(False).alias("is_src")),
    )).alias("end")).select("end.*")
    # a src is in place only if it is that one edge's end and nothing else
    return (ends.groupBy("node")
            .agg(F.max("is_src").alias("is_src"), F.count("*").alias("n"))
            .filter(F.col("is_src") & (F.col("n") > 1))
            .count())


def _driver_union_find(edge_rows: list, spark, id_type) -> DataFrame:
    """Union-find over a collected edge list → labels DataFrame.

    Path-halving + union-by-attachment to the minimum id; cluster_id = minimum
    member, identical to the distributed star algorithm's fixpoint."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    schema = StructType([StructField("node", id_type, False),
                         StructField("cluster_id", id_type, False)])
    # ship labels back through ONE Arrow batch (pandas → createDataFrame uses
    # the Arrow path under the session's arrow.pyspark.enabled): row-by-row
    # pickling of a list of tuples was the driver path's dominant cost at
    # ~10^5 labels, bigger than the union-find itself
    import pandas as pd

    nodes = list(parent)
    pdf = pd.DataFrame({"node": nodes, "cluster_id": [find(n) for n in nodes]})
    return spark.createDataFrame(pdf, schema=schema)


# Below this edge count the component graph is collected and solved with a driver
# union-find: the iterative star rounds cost 2 shuffle stages + a driver sync EACH
# (pure serial time — the Amdahl term of the whole near-dup leg), while 2M edges
# collect in ~100 MB and solve in well under a second. Above it, the distributed
# star loop runs as before (at 10^12 docs the edge list is ~10^11 rows — the
# threshold is decided by an O(1) count, never by collecting first).
DRIVER_CC_MAX_EDGES = 2_000_000


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25,
                         driver_max_edges: int = DRIVER_CC_MAX_EDGES) -> DataFrame:
    """edges(src, dst) → labels(node, cluster_id) for every node appearing in edges.

    cluster_id = minimum node id in the component. Singleton nodes (no edges) are the
    caller's concern (left-join labels back and coalesce to self). Raises
    ``RuntimeError`` if the star loop has not reached its fixpoint, a star
    forest (see :func:`_not_star_nodes`), after ``max_iter`` rounds.

    Duplicate and reversed edges are not removed up front (that would
    shuffle the whole edge list once more): the union-find ignores them and
    ``_small_star`` ends each round with a distinct. So ``n_edges``, which
    picks the path against ``driver_max_edges``, counts duplicate rows too.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    n_edges = e.count()
    if n_edges == 0:
        return e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    if driver_max_edges and n_edges <= driver_max_edges:
        # inbound edges through ONE Arrow table (r6): collect() deserialized
        # every edge into a boxed Row — the same per-row cost the OUTBOUND
        # label path already shed in r5 (00588d4). toArrow() ships the edge
        # list as two columnar buffers; the union-find needs plain Python
        # values either way, so to_pylist() is the only per-edge Python cost.
        tbl = e.toArrow()
        pairs = list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()))
        return _driver_union_find(pairs, e.sparkSession,
                                  e.schema["src"].dataType)

    for _ in range(max_iter):
        # LAZY checkpoint + star-forest check in ONE action: the check's pass
        # materializes the checkpoint blocks as a side effect, halving the
        # per-round job count (each round's driver sync is pure serial time —
        # the Amdahl term that caps N→4N scaling efficiency on short
        # iterative stages).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        if _not_star_nodes(e) == 0:
            break
    else:
        # the star rounds' labels are only correct at the fixpoint; partial
        # labels would silently split components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({n_edges} edges); raise max_iter")

    # converged edge set is a star forest: src points at its root (dst)
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    return members.union(roots).distinct()


def attach_labels(nodes: DataFrame, labels: DataFrame, node_col: str) -> DataFrame:
    """Left-join component labels onto a node table; unlabeled nodes are singletons
    (cluster_id = their own id)."""
    return (
        nodes.join(labels.withColumnRenamed("node", node_col), node_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(node_col)))
    )
