"""Embedding-space similarity: brute-force cosine top-k (baseline) and a random-
hyperplane-LSH bucketed variant (the scale path), plus embedding-cosine near-dup pairs.

Scale story: brute-force is O(N·M) — correct but only for small probe sets or as a
per-bucket kernel. The LSH variant buckets vectors by sign-pattern of h random
hyperplanes (deterministic seed), turning global top-k into a bucket-local join —
the same candidates-then-verify shape as MinHash/LSH (J4/J5). Multi-probe (flipping
low-margin bits) trades recall for fan-out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def _cosine_expr(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def brute_force_topk(vectors: DataFrame, probes: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(probe_id, neighbor_id, cosine, rank): exact top-k by cosine.

    probes is expected small (it was broadcast before r6; now it is collected
    into a (n_probes × dim) matrix — the same "must fit on driver+executors"
    contract). The scan side stays partitioned. For all-pairs top-k at scale
    use :func:`lsh_ann_topk`.

    r6 shape: ONE ``mapInArrow`` pass scores a whole Arrow batch against every
    probe with batched numpy and emits only each Arrow batch's LOCAL top-k
    per probe; a window over the surviving ≤ k·n_batches·n_probes rows picks
    the global top-k. The r5 shape — BroadcastNestedLoopJoin feeding three interpreted
    higher-order ``aggregate`` lambdas per pair — evaluated ~6·dim scalar
    expression nodes per pair on an unpartitioned build side. Cosines are
    BIT-identical: the numpy loops reproduce the JVM aggregates'
    left-to-right IEEE-double summation order exactly (acc = (acc + x_d·y_d)
    in d order), so dot, both norms, and dot/(na·nb) round identically.
    Local top-k selection can never change the result: rank order
    (cosine desc NaN-greatest, id asc) is replicated per batch, and the global
    window re-ranks with the same key.

    Preconditions (r6, stricter than the r5 join): embeddings must be
    non-null and fixed-dim (a null/ragged row raises a loud ValueError — the
    r5 SQL path silently gave such rows a NULL cosine that ranked last), and
    ids must be non-null. Every caller in this repo (parquet embeddings,
    test frames) satisfies both; failing loudly beats silently re-ranking.
    """
    import pyarrow as pa

    from corpus_dedup_spark.functions.layout import fan_out

    prows = probes.select(id_col, vec_col).collect()
    kk = int(k)
    # both id columns come from the same id space (probes ⊆ vectors in every
    # caller); emit both with the vectors side's type
    nid_type = dict(vectors.dtypes)[id_col]
    out_schema = (f"probe_id {nid_type}, neighbor_id {nid_type}, "
                  "cosine double")
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    if not prows:
        # empty probe set → empty result with the right schema
        empty = vectors.sparkSession.createDataFrame([], out_schema)
        return empty.withColumn("rank", F.lit(1)).filter(F.lit(False))

    pids = [r[0] for r in prows]
    pmat = np.array([np.asarray(r[1], dtype=np.float64) for r in prows])
    n_p, dim = pmat.shape
    # probe norms: left-to-right sum of squares — the JVM aggregate's order
    pn = np.zeros(n_p)
    for d in range(dim):
        pn = pn + pmat[:, d] * pmat[:, d]
    pn = np.sqrt(pn)

    def fn(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            import pyarrow.compute as pc

            ids = rb.column(0)
            col = rb.column(1)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            lens = np.asarray(pc.list_value_length(col))
            if not (lens == dim).all():
                raise ValueError(
                    "brute_force_topk: ragged/null embedding batch "
                    f"(expected dim {dim})")
            flat = np.asarray(col.flatten(), dtype=np.float64)
            mat = flat.reshape(n, dim)
            # dot and norm with the JVM aggregates' left-to-right order
            dots = np.zeros((n, n_p))
            na = np.zeros(n)
            for d in range(dim):
                c = mat[:, d]
                na = na + c * c
                dots = dots + c[:, None] * pmat[None, :, d]
            cos = dots / (np.sqrt(na)[:, None] * pn[None, :])
            # Spark orders NaN as GREATEST under desc — mirror that in the
            # local selection key so the global window agrees
            key = np.where(np.isnan(cos), np.inf, cos)
            pyids = ids.to_pylist()
            try:
                nid = np.asarray(pyids)
                numeric = nid.dtype != object
            except (TypeError, ValueError):
                numeric = False
            sel_i: list[int] = []
            sel_j: list[int] = []
            for j in range(n_p):
                if numeric:
                    order = np.lexsort((nid, -key[:, j]))
                else:
                    order = sorted(range(n),
                                   key=lambda i: (-key[i, j], pyids[i]))
                taken = 0
                for i in order:
                    if pyids[i] == pids[j]:
                        continue  # probe_id != neighbor_id
                    sel_i.append(int(i))
                    sel_j.append(j)
                    taken += 1
                    if taken >= kk:
                        break
            if not sel_i:
                continue
            take_idx = pa.array(sel_i, type=pa.int64())
            id_field = rb.schema.field(0).type
            yield pa.RecordBatch.from_arrays(
                [pa.array([pids[j] for j in sel_j], type=id_field),
                 ids.take(take_idx),
                 pa.array(cos[sel_i, sel_j], type=pa.float64())],
                schema=pa.schema([
                    pa.field("probe_id", id_field),
                    pa.field("neighbor_id", id_field),
                    pa.field("cosine", pa.float64())]))

    v = fan_out(vectors.select(F.col(id_col), F.col(vec_col)))
    scored = v.mapInArrow(fn, schema=out_schema)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def make_hyperplane_bucket_udf(dim: int, n_planes: int = 16, seed: int = 7,
                               n_tables: int = 1):
    """array<float> → array<int64> of n_tables bucket ids (one per independent
    hyperplane set). Multi-table LSH: P(neighbor missed in all tables) =
    (1 - (1-θ/π)^n_planes)^n_tables. Vectorized: one
    (batch × dim) @ (dim × tables·planes) matmul per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_tables * n_planes))

    @pandas_udf(ArrayType(LongType()))
    def bucket(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([[] for _ in range(len(vecs))])
        signs = (mat @ planes) > 0  # (n, tables*planes)
        n = signs.shape[0]
        out = np.zeros((n, n_tables), dtype=np.int64)
        for t in range(n_tables):
            s = signs[:, t * n_planes:(t + 1) * n_planes]
            bits = np.packbits(s, axis=1, bitorder="little")
            padded = np.zeros((n, 8), dtype=np.uint8)
            padded[:, :bits.shape[1]] = bits
            # salt the bucket id with the table index so tables never cross-match
            out[:, t] = padded.view(np.int64).ravel() * np.int64(1099511628211) \
                + np.int64(t)
        return pd.Series(list(out))

    return bucket


def _bucketed(vectors: DataFrame, n_planes: int, n_tables: int, seed: int,
              id_col: str, vec_col: str, dim: int | None = None) -> DataFrame:
    # dim should be passed by the caller (it is a property of the embedding
    # model, not the data); the .first() probe is a fallback only — it is a
    # 1-row driver action per call, pure latency on a busy cluster
    if dim is None:
        import warnings
        warnings.warn(
            "ANN bucketing probed the embedding dim with a driver-side "
            ".first() — pass dim= explicitly (it is a model property); "
            "the probe adds one job of pure latency per call",
            RuntimeWarning, stacklevel=3)
        dim = len(vectors.select(vec_col).first()[0])
    bucket = make_hyperplane_bucket_udf(dim, n_planes, seed, n_tables)
    return vectors.select(
        F.col(id_col), F.col(vec_col),
        F.explode(bucket(F.col(vec_col))).alias("bucket"),
    ).persist()


def lsh_ann_topk(vectors: DataFrame, k: int = 10, n_planes: int = 12,
                 n_tables: int = 4, seed: int = 7,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int | None = None) -> DataFrame:
    """Approximate all-pairs top-k: multi-table hyperplane buckets, exact cosine
    within buckets, candidates deduped across tables before scoring. Recall rises
    with n_tables and falls with n_planes (bucket granularity)."""
    b = _bucketed(vectors, n_planes, n_tables, seed, id_col, vec_col, dim)
    left = b.select("bucket", F.col(id_col).alias("probe_id"))
    right = b.select("bucket", F.col(id_col).alias("neighbor_id"))
    cand = (
        left.join(right, "bucket")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    v = vectors.select(F.col(id_col), F.col(vec_col))
    scored = (
        cand.join(v.select(F.col(id_col).alias("probe_id"),
                           F.col(vec_col).alias("pv")), "probe_id")
        .join(v.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("nv")), "neighbor_id")
        .withColumn("cosine", _cosine_expr(F.col("pv"), F.col("nv")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def embedding_dup_pairs(vectors: DataFrame, threshold: float = 0.95,
                        n_planes: int = 10, n_tables: int = 4, seed: int = 7,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold), multi-table
    LSH-bucketed. P(pair missed) = (1 - (1-θ/π)^n_planes)^n_tables — e.g. cosine 0.99
    with 10 planes × 4 tables misses < 1%."""
    b = _bucketed(vectors, n_planes, n_tables, seed, id_col, vec_col, dim)
    left = b.select("bucket", F.col(id_col).alias("id_a"))
    right = b.select("bucket", F.col(id_col).alias("id_b"))
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    v = vectors.select(F.col(id_col), F.col(vec_col))
    return (
        cand.join(v.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("va")), "id_a")
        .join(v.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("vb")), "id_b")
        .withColumn("cosine", _cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
