"""SemDeDup-style semantic deduplication over an embedding column.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"): cluster the embedding space, compare pairs only
WITHIN a cluster, and drop every document whose cosine to an earlier
cluster-mate exceeds a threshold (any earlier mate, kept or itself dropped —
the drop decision is local to the pair, which keeps it one join + distinct
rather than a sequential scan). Reuses the IVF building blocks
(operators/ivf_ann.py): seeded-sample centroids + broadcast argmax cell
assignment, so the whole decision — centroids, cells, pair scores, keep
flags — is deterministic and SQL-replayable.

Keep rule (first-wins, exactly SQL-expressible): a vector is DROPPED iff
some vector with a smaller id in the SAME cell has cosine > threshold to
it; kept otherwise. This is SemDeDup's "keep one representative per
ε-neighborhood" with the representative chosen by id order instead of
distance-to-centroid — deterministic across engines and cluster sizes.

Scale shape: never all-pairs. The only quadratic term is the intra-cell
self-join, ~(N/K)² per cell — the SemDeDup contract is that K grows with N
(the paper uses K ≈ N/10⁴). Cells are joined on their id (one shuffle of
(cell, id, vec)); the drop set is a distinct on the loser id, and the keep
flag is a left anti semantics join back to the assignment — no window, no
Python, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_dedup_spark.operators.embedding_dedup import _cosine_expr
from corpus_dedup_spark.operators.ivf_ann import ivf_assign, select_centroids


TARGET_CELL_SIZE = 1024  # docs per cell the (N/K)² self-join is sized for


def semantic_dedup(vectors: DataFrame, threshold: float,
                   n_centroids: int | None = None, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(id, cell, kept): SemDeDup keep/drop verdict for every input vector.

    Every input row appears in the output — filtering is the caller's
    ``WHERE kept = 1`` — so the decision itself is auditable (and
    value-hashable) rather than only its survivors.

    ``n_centroids=None`` (r6 default) ENFORCES the K-grows-with-N contract:
    K = ceil(N / TARGET_CELL_SIZE), clamped to ≥ 16, derived from one count
    of the input. The r5 default was a flat 64 — at 10⁹ vectors that is
    1.5·10⁷-member cells and a ~10¹⁴-pair intra-cell join; deriving K keeps
    the expected cell at TARGET_CELL_SIZE and the per-cell join at ~10⁶
    pairs regardless of corpus size (the paper's K ≈ N/10⁴ shape). Passing
    an explicit K is honored unchanged (the oracle replay pins one).

    That count runs eagerly: calling this function with ``n_centroids=None``
    launches a Spark job over ``vectors`` at once, while the returned
    DataFrame is being built, not when it is later acted on.
    """
    if n_centroids is None:
        n = vectors.count()
        n_centroids = max(16, -(-n // TARGET_CELL_SIZE))
    centroids = select_centroids(vectors, n_centroids, id_col, vec_col)
    cells = ivf_assign(vectors, centroids, id_col, vec_col)
    members = (
        vectors.select(id_col, vec_col)
        .join(cells, id_col)
        .select(F.col("cell"), F.col(id_col).alias("_id"),
                F.col(vec_col).alias("_vec"))
    )
    earlier = members.select(
        F.col("cell"), F.col("_id").alias("_eid"), F.col("_vec").alias("_evec"))
    dropped = (
        members.join(earlier, "cell")
        .filter(F.col("_eid") < F.col("_id"))
        .filter(_cosine_expr(F.col("_vec"), F.col("_evec")) > threshold)
        .select(F.col("_id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_d", F.lit(1)),
                   cells[id_col] == dropped["_id"], "left")
        .select(cells[id_col],
                F.col("cell"),
                F.col("_d").isNull().cast("long").alias("kept"))
    )
