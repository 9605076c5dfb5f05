"""Checkpointed, lineage-tracked, resumable dedup pipeline (north rule: "each stage
checkpoints ... with per-partition lineage rows (partition id, input span, signature
config hash, counters) so runs resume mid-pipeline").

Locally stages persist as parquet directories under ``work_dir`` (an Iceberg catalog is
the production target — the layout below is Iceberg-shaped: one table per stage plus an
append-only ``lineage`` table; swapping ``_write``/``_read`` for ``writeTo(...)`` /
``spark.table(...)`` is the only change needed).

Resume contract: a stage directory with Spark's ``_SUCCESS`` marker AND a matching
``config_hash`` (and, for stages listed in ``STAGE_LAYOUTS``, a matching ``layout``) in
its stage metadata is reused; anything else is recomputed. Stage outputs are
deterministic (keeper rule is orderBy(url, unit_idx); cluster ids are min — SURVEY
quirk Q3 made deterministic), so resumed and fresh runs are byte-equivalent.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus_dedup_spark.config import DedupConfig

STAGES = ("units", "deduped", "features", "edges", "clusters")

#: table layout per stage, recorded next to the config hash: a stage written in
#: another layout is recomputed. ``features`` holds the fused near-dup pass's
#: (id, shingles, bands); tables written before carried (id, shingles, sig).
STAGE_LAYOUTS = {"features": "shingles,bands"}

_ICEBERG_CATALOG_IMPLS = ("org.apache.iceberg.spark.SparkCatalog",
                          "org.apache.iceberg.spark.SparkSessionCatalog")


def detect_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog (``spark.sql.catalog.<name>`` set
    to an Iceberg catalog implementation), or None. The sandbox has no Iceberg
    jar, so locally this returns None and the pipeline stays on its parquet
    stand-in; on a production cluster with a catalog configured, passing
    ``catalog="auto"`` to :class:`DedupPipeline` routes every stage write
    through ``writeTo(...)`` instead."""
    try:
        # SET lists every explicitly-set conf: spark-defaults, --conf, AND
        # runtime spark.conf.set — SparkConf.getAll alone misses the latter
        confs = [(r["key"], r["value"]) for r in spark.sql("SET").collect()]
    except Exception:  # pragma: no cover - defensive
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 \
                and v in _ICEBERG_CATALOG_IMPLS:
            return k.rsplit(".", 1)[1]
    return None


def table_rows(path: str) -> int:
    """Exact row count of a parquet directory from footer metadata only
    (no Spark job, no data read) — the Iceberg-manifest-stats analog."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_"))


def units_stage(pages: DataFrame, cfg: DedupConfig,
                id_col: str = "url") -> DataFrame:
    """The table :class:`DedupPipeline` writes as its ``units`` checkpoint.

    Map-only: extraction runs in the scan pass and the write is
    embarrassingly parallel — NO shuffle touches the 26-units/doc occurrence
    stream here. Running mark_duplicates' window (hash-partition + sort of
    EVERY occurrence) before this write would be exactly the all-occurrences
    shuffle SCALE.md's keeper-agg design exists to avoid; dedup happens in the
    next stage's partial agg. A per-occurrence is_dup listing (duplicates
    sink) stays derivable from this table via
    operators.exact_dedup.mark_duplicates without recomputing extraction."""
    from corpus_dedup_spark.operators.exact_dedup import explode_units_arrow

    return explode_units_arrow(pages, cfg.mode, cfg.max_length, id_col=id_col)


class DedupPipeline:
    """End-to-end: pages → exact unit dedup → near-dup LSH edges → clusters."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig, work_dir: str,
                 run_id: str | None = None,
                 catalog: str | None = None, namespace: str = "corpus_dedup"):
        """``catalog`` routes stage checkpoints through an ICEBERG catalog
        (``writeTo(...).createOrReplace()`` with the config hash as a table
        property; reads via ``spark.table``; per-partition lineage counters
        from the Iceberg ``.files`` metadata table — real manifest stats
        instead of the local parquet-footer analog). Pass a catalog name,
        or ``"auto"`` to use :func:`detect_iceberg_catalog`; None (or auto
        with no catalog configured) keeps the parquet stand-in under
        ``work_dir``. Lineage and stage metadata stay under ``work_dir``
        either way."""
        self.spark = spark
        self.cfg = cfg
        self.work_dir = work_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.catalog = (detect_iceberg_catalog(spark) if catalog == "auto"
                        else catalog)
        self.namespace = namespace
        #: rows written per stage this run, from parquet footer metadata
        #: (not populated for stages reused from a previous run's checkpoint —
        #: use :func:`table_rows` on the stage dir for those)
        self.stage_rows: dict[str, int] = {}
        os.makedirs(work_dir, exist_ok=True)

    # -- storage helpers (parquet locally; Iceberg writeTo in production) --

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def _meta_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, f"{stage}.meta.json")

    def _table_name(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _stamp(self, stage: str) -> dict[str, str]:
        """What a stage's metadata must carry for the stage to be reused: the
        config hash, plus the table layout where ``STAGE_LAYOUTS`` names one."""
        stamp = {"config_hash": self.cfg.config_hash()}
        if stage in STAGE_LAYOUTS:
            stamp["layout"] = STAGE_LAYOUTS[stage]
        return stamp

    def stage_is_complete(self, stage: str) -> bool:
        if self.catalog:
            tbl = self._table_name(stage)
            if not self.spark.catalog.tableExists(tbl):
                return False
            props = {r["key"]: r["value"] for r in
                     self.spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()}
            return all(props.get(f"corpus_dedup.{k}") == v
                       for k, v in self._stamp(stage).items())
        d = self._stage_dir(stage)
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            return False
        try:
            with open(self._meta_path(stage)) as f:
                meta = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return all(meta.get(k) == v for k, v in self._stamp(stage).items())

    def _write(self, df: DataFrame, stage: str) -> DataFrame:
        t0 = time.time()
        if self.catalog:
            tbl = self._table_name(stage)
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}."
                f"{self.namespace}")
            w = df.writeTo(tbl).using("iceberg")
            for k, v in {**self._stamp(stage), "run_id": self.run_id}.items():
                w = w.tableProperty(f"corpus_dedup.{k}", v)
            w.createOrReplace()
            out = self.spark.table(tbl)
            self._record_lineage_iceberg(
                stage, wall_ms=int((time.time() - t0) * 1000))
            return out
        d = self._stage_dir(stage)
        df.write.mode("overwrite").parquet(d)
        out = self.spark.read.parquet(d)
        self._record_lineage(out, stage, wall_ms=int((time.time() - t0) * 1000))
        with open(self._meta_path(stage), "w") as f:
            json.dump({**self._stamp(stage),
                       "run_id": self.run_id,
                       "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                       }, f)
        return out

    def _read(self, stage: str) -> DataFrame:
        if self.catalog:
            return self.spark.table(self._table_name(stage))
        return self.spark.read.parquet(self._stage_dir(stage))

    def _record_lineage(self, df: DataFrame, stage: str, wall_ms: int) -> None:
        """Per-partition lineage rows: (run_id, stage, partition_id, input_span,
        config_hash, counters, created_at).

        Counters come from the stage table's FILE-LEVEL METADATA (parquet
        footers — the local analog of Iceberg manifest stats), not a re-scan:
        each write task produced one file, so file index = output partition id
        and the footer's num_rows/serialized size are exact. The previous shape
        re-read every just-written stage with a groupBy(spark_partition_id())
        job — for the units stage that meant re-scanning the full occurrence
        stream just to count it, a pure serial-overhead term in the pipeline
        wall (and at 10^12 docs an extra full pass per stage). Footer reads are
        driver-side milliseconds and launch no Spark job."""
        import pyarrow.parquet as pq

        d = self._stage_dir(stage)
        files = sorted(f for f in os.listdir(d)
                       if f.endswith(".parquet") and not f.startswith("_"))
        pids, counters = [], []
        total = 0
        for pid, fn in enumerate(files):
            md = pq.ParquetFile(os.path.join(d, fn)).metadata
            nbytes = os.path.getsize(os.path.join(d, fn))
            pids.append(pid)
            counters.append([("rows_out", md.num_rows), ("wall_ms", wall_ms),
                             ("bytes", nbytes)])
            total += md.num_rows
        self._append_lineage(stage, d, pids, counters, total)

    def _record_lineage_iceberg(self, stage: str, wall_ms: int) -> None:
        """Iceberg-path lineage: counters from the table's ``.files`` metadata
        table — the REAL manifest stats the parquet-footer read stands in for
        locally. One driver-side read of the (small) manifest, no data scan."""
        tbl = self._table_name(stage)
        rows = (self.spark.table(f"{tbl}.files")
                .select("file_path", "record_count", "file_size_in_bytes")
                .collect())
        pids, counters = [], []
        total = 0
        for pid, r in enumerate(sorted(rows, key=lambda r: r["file_path"])):
            pids.append(pid)
            counters.append([("rows_out", r["record_count"]),
                             ("wall_ms", wall_ms),
                             ("bytes", r["file_size_in_bytes"])])
            total += r["record_count"]
        self._append_lineage(stage, tbl, pids, counters, total)

    def _append_lineage(self, stage: str, span: str, pids: list,
                        counters: list, total: int) -> None:
        import datetime
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        self.stage_rows[stage] = total
        n = len(pids)
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        tbl = pa.table({
            "run_id": pa.array([self.run_id] * n, pa.string()),
            "stage": pa.array([stage] * n, pa.string()),
            "partition_id": pa.array(pids, pa.int32()),
            "input_span": pa.array([span] * n, pa.string()),
            "config_hash": pa.array([self.cfg.config_hash()] * n, pa.string()),
            "counters": pa.array(counters, pa.map_(pa.string(), pa.int64())),
            "created_at": pa.array([now] * n, pa.timestamp("us")),
        })
        lin_dir = os.path.join(self.work_dir, "lineage")
        os.makedirs(lin_dir, exist_ok=True)
        pq.write_table(
            tbl, os.path.join(lin_dir, f"part-{_uuid.uuid4().hex[:12]}.parquet"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.work_dir, "lineage"))

    # -- stages --

    def run(self, pages: DataFrame, id_col: str = "url") -> dict[str, DataFrame]:
        from corpus_dedup_spark.operators.exact_dedup import (dedup_keepers,
                                                              reassemble)
        from corpus_dedup_spark.operators.connected_components import (
            attach_labels, connected_components)
        from corpus_dedup_spark.operators.minhash_lsh import (
            doc_band_features, edges_from_features)

        out: dict[str, DataFrame] = {}

        if self.stage_is_complete("units"):
            out["units"] = self._read("units")
        else:
            out["units"] = self._write(units_stage(pages, self.cfg, id_col),
                                       "units")

        if self.stage_is_complete("deduped"):
            out["deduped"] = self._read("deduped")
        else:
            # groupBy(norm_unit) with JVM map-side partial combine: duplicate
            # occurrences collapse BEFORE the shuffle, so ~the distinct set
            # moves. Keeper = min(url, unit_idx) — same first-wins rule, same
            # rows, as the previous window formulation (bit-identical output).
            kept = dedup_keepers(out["units"], id_col).select(
                id_col, "unit_idx", "norm_unit")
            out["deduped"] = self._write(reassemble(kept, id_col), "deduped")

        if self.stage_is_complete("features"):
            out["features"] = self._read("features")
        else:
            out["features"] = self._write(
                doc_band_features(pages, self.cfg, id_col), "features")

        if self.stage_is_complete("edges"):
            out["edges"] = self._read("edges")
        else:
            edges, _dropped = edges_from_features(out["features"], self.cfg,
                                                  id_col)
            out["edges"] = self._write(edges, "edges")

        if self.stage_is_complete("clusters"):
            out["clusters"] = self._read("clusters")
        else:
            labels = connected_components(
                out["edges"].select(F.col("id_a").alias("src"),
                                    F.col("id_b").alias("dst")))
            clusters = attach_labels(pages.select(id_col), labels, id_col).select(
                id_col, "cluster_id")
            out["clusters"] = self._write(clusters, "clusters")

        return out
