"""Embedding similarity: brute-force exactness and LSH-ANN recall."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark.operators.embedding_dedup import (brute_force_topk,
                                                          lsh_ann_topk)


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_brute_force_matches_numpy(spark, vectors):
    rows = vectors.collect()
    embs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(embs)
    mat = np.stack([embs[i] / np.linalg.norm(embs[i]) for i in ids])
    probes = vectors.filter(F.col("vec_id") < 5)
    got = brute_force_topk(vectors, probes, k=3).collect()
    for pid in range(5):
        sims = mat @ mat[ids.index(pid)]
        order = sorted(((float(-s), i) for i, s in zip(ids, sims) if i != pid))
        expected = [i for _, i in order[:3]]
        mine = [r["neighbor_id"] for r in sorted(
            (x for x in got if x["probe_id"] == pid), key=lambda r: r["rank"])]
        assert mine == expected, pid


def test_brute_force_probe_cap_raises(spark, vectors, monkeypatch):
    from corpus_dedup_spark.operators import embedding_dedup

    monkeypatch.setattr(embedding_dedup, "MAX_PROBES", 3)
    probes = vectors.filter(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="MAX_PROBES=3"):
        brute_force_topk(vectors, probes, k=1)


def test_lsh_ann_recall_on_planted_neighbors(spark):
    """ANN must find planted close neighbors (cos ≈ 0.99). Random vectors have no
    angularly-close top-1, so recall is measured on planted structure — the workload
    ANN exists for."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 32)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(200)]
    for i in range(30):  # planted neighbor of vector i is id 1000+i
        noisy = base[i] + rng.standard_normal(32).astype(np.float32) * 0.05
        rows.append((1000 + i, noisy.tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ann = lsh_ann_topk(df, k=1, n_planes=8, n_tables=4, dim=32).collect()
    got = {r["probe_id"]: r["neighbor_id"] for r in ann}
    hits = sum(got.get(1000 + i) == i for i in range(30))
    assert hits / 30 >= 0.9, f"ANN planted-neighbor recall {hits}/30"


def test_lsh_ann_recall_matches_theory(spark, sf_dir):
    """Measured recall@1 of the LSH ANN path vs the CLOSED-FORM prediction.

    With exact-cosine rescoring, the true NN wins rank 1 whenever it is a
    candidate, so recall@1 = P(NN shares ≥1 bucket) =
    mean_i 1-(1-(1-θ_i/π)^planes)^tables over the probes' true-NN angles θ_i.
    The driver embeddings are random 64-d (true-NN cosine ≈ 0.28–0.48), so the
    prediction at 8 planes × 4 tables is ≈ 0.085 — LOW by design: hyperplane
    LSH targets high-cosine near-dups (see the planted leg below), and random
    data is the adversarial floor. Matching theory here pins the bucketing
    math exactly; an arbitrary ≥-bound could pass with broken salting."""
    import numpy as np

    from corpus_dedup_spark.operators.embedding_dedup import (brute_force_topk,
                                                              lsh_ann_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding").cache()
    bf = brute_force_topk(emb, emb, k=1).collect()
    truth = {r["probe_id"]: r["neighbor_id"] for r in bf}
    theta = np.arccos(np.clip([r["cosine"] for r in bf], -1.0, 1.0))
    planes, tables = 8, 4
    p = 1.0 - (1.0 - (1.0 - theta / np.pi) ** planes) ** tables
    predicted = float(p.mean())

    ann = lsh_ann_topk(emb, k=1, n_planes=planes, n_tables=tables,
                       dim=64).collect()
    got = {r["probe_id"]: r["neighbor_id"] for r in ann if r["rank"] == 1}
    hits = sum(1 for pr, n in truth.items() if got.get(pr) == n)
    recall = hits / len(truth)
    # one seeded draw of the hyperplanes ⇒ allow ~4σ binomial + plane-draw slack
    sigma = float(np.sqrt(predicted * (1 - predicted) / len(truth)))
    assert abs(recall - predicted) <= max(4 * sigma, 0.05), (
        f"recall@1 = {recall:.3f}, theory = {predicted:.3f}")


def test_lsh_ann_recall_planted_near_dups(spark, sf_dir):
    """Operating-point recall: ε-perturbed copies (cosine ≈ 0.999) planted next
    to real vectors must be recovered as top-1 by the LSH path. Theory at 8
    planes × 4 tables gives miss probability < 10^-3 per pair."""
    import numpy as np

    from corpus_dedup_spark.operators.embedding_dedup import lsh_ann_topk

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding").toPandas()
    rng = np.random.default_rng(11)
    planted = []
    for _, row in base.iloc[::10].iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        noisy = v + 0.02 * np.linalg.norm(v) / 8.0 * rng.standard_normal(v.size)
        planted.append((int(row["vec_id"]) + 1_000_000,
                        [float(x) for x in noisy]))
    union = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
         for _, r in base.iterrows()] + planted, ["vec_id", "embedding"])
    ann = lsh_ann_topk(union, k=1, n_planes=8, n_tables=4, dim=64).collect()
    top1 = {r["probe_id"]: r["neighbor_id"] for r in ann if r["rank"] == 1}
    hits = sum(1 for pid, _ in planted if top1.get(pid) == pid - 1_000_000)
    recall = hits / len(planted)
    assert recall >= 0.95, f"planted recall@1 = {recall:.3f}"


def test_bucketed_dim_fallback_warns(spark):
    """Omitting dim= must still work (driver-side .first() probe) but warn
    loudly — the probe is one extra job of pure latency per call."""
    import pytest

    from corpus_dedup_spark.operators.embedding_dedup import lsh_ann_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, -1.0]) for i in range(6)],
        ["vec_id", "embedding"])
    with pytest.warns(RuntimeWarning, match="pass dim= explicitly"):
        ann = lsh_ann_topk(df, k=1, n_planes=4, n_tables=2)
    assert ann.count() >= 0


def test_brute_force_bitwise_matches_jvm_expression_reference(spark, sf_dir):
    """r6 guard: the batched-numpy cosine path must stay BIT-identical to the
    JVM higher-order-aggregate formulation it replaced (same left-to-right
    IEEE summation order), including rank ties — compared at full double
    precision, not rounded."""
    import struct

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from corpus_dedup_spark.operators.embedding_dedup import _cosine_expr

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)

    p = probes.select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("pv"))
    v = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("nv"))
    scored = (v.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
              .withColumn("cosine", _cosine_expr(F.col("pv"), F.col("nv"))))
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    ref = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 2)
           .select("probe_id", "neighbor_id", "cosine", "rank"))

    want = {(r[0], r[1], struct.pack("d", r[2]), r[3]) for r in ref.collect()}
    got = {(r[0], r[1], struct.pack("d", r[2]), r[3])
           for r in brute_force_topk(emb, probes, k=2).collect()}
    assert got == want
