"""Checkpoint / lineage / resume semantics of the staged pipeline."""

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.operators.minhash_lsh import (doc_features,
                                                      near_dup_clusters)
from corpus_dedup_spark.plans.pipeline import STAGES, DedupPipeline
from tests.helpers import pages_spark


@pytest.fixture()
def pages(spark):
    df, _, _ = pages_spark(spark, n_docs=120, seed=11)
    return df


def _cluster_map(out):
    return sorted((r["url"], r["cluster_id"]) for r in out["clusters"].collect())


def test_run_resume_and_invalidation(spark, pages, tmp_path):
    cfg = DedupConfig(jaccard_threshold=0.5)
    wd = str(tmp_path / "wd")
    p1 = DedupPipeline(spark, cfg, wd, run_id="r1")
    out1 = p1.run(pages)
    clusters1 = _cluster_map(out1)
    assert all(p1.stage_is_complete(s) for s in STAGES)
    # the checkpointed stages run the operator's own near-dup dataflow
    assert clusters1 == sorted(
        (r["url"], r["cluster_id"]) for r in near_dup_clusters(pages, cfg).collect())

    # resume: nothing recomputed (stage files untouched)
    mtimes = {s: os.path.getmtime(os.path.join(wd, f"{s}.meta.json")) for s in STAGES}
    p2 = DedupPipeline(spark, cfg, wd, run_id="r2")
    out2 = p2.run(pages)
    assert {s: os.path.getmtime(os.path.join(wd, f"{s}.meta.json")) for s in STAGES} \
        == mtimes
    assert _cluster_map(out2) == clusters1

    # mid-pipeline resume: kill the clusters stage → only it is recomputed
    shutil.rmtree(os.path.join(wd, "clusters"))
    p3 = DedupPipeline(spark, cfg, wd, run_id="r3")
    out3 = p3.run(pages)
    assert _cluster_map(out3) == clusters1
    for s in ("units", "deduped", "features", "edges"):
        assert os.path.getmtime(os.path.join(wd, f"{s}.meta.json")) == mtimes[s]

    # config drift invalidates completed stages
    cfg2 = DedupConfig(jaccard_threshold=0.6)
    p4 = DedupPipeline(spark, cfg2, wd, run_id="r4")
    assert not any(p4.stage_is_complete(s) for s in STAGES)


def test_stale_features_layout_recomputed(spark, pages, tmp_path):
    """A features stage written in the older (id, shingles, sig) layout under
    the same config hash is incomplete: the next run rewrites it and the
    edges recomputed from it give the same clusters."""
    cfg = DedupConfig(jaccard_threshold=0.5)
    wd = str(tmp_path / "wd")
    clusters1 = _cluster_map(DedupPipeline(spark, cfg, wd, run_id="r1").run(pages))

    doc_features(pages, cfg).write.mode("overwrite").parquet(
        os.path.join(wd, "features"))
    meta_path = os.path.join(wd, "features.meta.json")
    with open(meta_path, "w") as f:
        json.dump({"config_hash": cfg.config_hash(), "run_id": "old",
                   "written_at": "2026-01-01T00:00:00Z"}, f)
    for s in ("edges", "clusters"):
        shutil.rmtree(os.path.join(wd, s))

    p2 = DedupPipeline(spark, cfg, wd, run_id="r2")
    assert not p2.stage_is_complete("features")
    out2 = p2.run(pages)
    with open(meta_path) as f:
        assert json.load(f)["run_id"] == "r2"
    assert "bands" in out2["features"].columns
    assert _cluster_map(out2) == clusters1


def test_lineage_rows(spark, pages, tmp_path):
    cfg = DedupConfig(jaccard_threshold=0.5)
    wd = str(tmp_path / "wd")
    p = DedupPipeline(spark, cfg, wd, run_id="rx")
    p.run(pages)
    lin = p.lineage()
    assert set(lin.columns) == {"run_id", "stage", "partition_id", "input_span",
                                "config_hash", "counters", "created_at"}
    stages_seen = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages_seen == set(STAGES)
    row = lin.filter(F.col("stage") == "units").collect()[0]
    assert row["config_hash"] == cfg.config_hash()
    assert row["counters"]["rows_out"] >= 0 and row["counters"]["wall_ms"] >= 0


def test_detect_iceberg_catalog_none_in_sandbox(spark):
    """No Iceberg jar/catalog here: detection must return None and a pipeline
    built with catalog="auto" must stay on the parquet stand-in."""
    from corpus_dedup_spark.plans.pipeline import detect_iceberg_catalog

    assert detect_iceberg_catalog(spark) is None
    p = DedupPipeline(spark, DedupConfig(), "/tmp/unused_wd", catalog="auto")
    assert p.catalog is None


def test_pipeline_iceberg_write_path(spark, pages, tmp_path):
    """Full stage-write path through an Iceberg catalog: writeTo + table
    properties carrying the config hash + lineage counters from the .files
    manifest table. Skipped where no Iceberg catalog is configured (this
    sandbox); runs unchanged on a cluster with one."""
    from corpus_dedup_spark.plans.pipeline import detect_iceberg_catalog

    cat = detect_iceberg_catalog(spark)
    if cat is None:
        pytest.skip("no Iceberg catalog configured")
    cfg = DedupConfig(jaccard_threshold=0.5)
    p = DedupPipeline(spark, cfg, str(tmp_path / "wd"), run_id="ri",
                      catalog=cat)
    p.run(pages)
    assert all(p.stage_is_complete(s) for s in STAGES)
    assert spark.table(p._table_name("deduped")).count() > 0
    lin = p.lineage()
    assert lin.filter(F.col("stage") == "units").count() > 0
