"""The workloads: what one body iteration calls, how its output is checked,
and the per-layer spans of a traced iteration.

Spans are named ``<layer>.<call>``; the layer is the ``corpus_dedup_spark``
module whose public functions the span calls. A traced iteration calls the
same functions as the body, but materializes (persists and counts) each
layer's output under its own job group, so each layer's counters stand alone.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from corpus_dedup_spark import kernel
from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.operators import connected_components as cc
from corpus_dedup_spark.operators import exact_dedup, minhash_lsh, search
from corpus_dedup_spark.plans.pipeline import STAGES, DedupPipeline, table_rows

from inputs import PROBE_WINDOW, Shape

NEAR_CFG = DedupConfig(jaccard_threshold=0.5)
MIN_RECALL = 0.99
MAX_CLUSTER_PAIRS = 1_000_000   # the precision check scores every in-cluster pair
MB = 1e6

# Counters every span reports (see ``span_metrics``).
SPAN_FIELDS = {
    "wall_s": "s", "cpu_s": "s", "py_cpu_s": "s", "shuffle_write_mb": "MB",
    "fetch_wait_s": "s", "records_out": "count", "tasks_failed": "count",
    "jvm_task_cpu_s": "s",
}
SPANS = (
    "exact_dedup.extract", "exact_dedup.keepers", "exact_dedup.reassemble",
    "exact_dedup.verify", "search.index_build", "search.probe",
    "minhash_lsh.features", "minhash_lsh.candidates", "minhash_lsh.verify_jaccard",
    "connected_components.components", "connected_components.attach",
    "pipeline.fresh", "pipeline.resume",
)
# Span-specific ratios and counts, beside the SPAN_FIELDS of every span.
EXTRA_LAYER_METRICS = {
    "exact_dedup.keepers.collapse": "ratio",
    "search.probe.p50_s": "s",
    "search.probe.yield": "ratio",
    "minhash_lsh.candidates.dropped_buckets": "count",
    "minhash_lsh.candidates.dropped_rows": "count",
    "minhash_lsh.verify_jaccard.yield": "ratio",
    "connected_components.components.rounds": "count",
    "connected_components.components.path": "code",
    **{f"pipeline.{s}.{k}": u for s in STAGES
       for k, u in (("stored_mb", "MB"), ("rows", "count"))},
}

Check = tuple[bool, float, list[str]]   # (passed, pair recall, errors)
UNTIMED = "_untimed_s"   # seconds of a traced iteration spent on extra calls


def span_metrics(c: dict, records_out: int) -> dict[str, float]:
    """One span's metrics from ``Meter.measure`` counters. ``py_cpu_s`` is
    process-tree CPU minus the JVM's own CPU: the Python workers plus the
    benchmark's own process."""
    return {
        "wall_s": c["wall_s"],
        "cpu_s": c["cpu_s"],
        "py_cpu_s": c["cpu_s"] - c["jvm_cpu_s"],
        "shuffle_write_mb": c["shuffle_write_bytes"] / MB,
        "fetch_wait_s": c["fetch_wait_ms"] / 1e3,
        "records_out": records_out,
        "tasks_failed": c["tasks_failed"] + c["stage_retries"],
        # task CPU the JVM's executors report; Python workers are not in it
        "jvm_task_cpu_s": c["jvm_task_cpu_ns"] / 1e9,
    }


def _span(meter, m: dict, name: str, fn):
    """Measure ``fn() -> (result, records_out)`` as span ``name`` into ``m``."""
    (result, n), c = meter.measure(name, fn)
    m.update({f"{name}.{k}": v for k, v in span_metrics(c, n).items()})
    return result, n


def _count(df):
    """Persist ``df`` and materialize it; return (df, rows)."""
    df = df.persist()
    return df, df.count()


def _cluster_recall(labels: pd.DataFrame, required: pd.DataFrame) -> float:
    """Share of the required (url_a, url_b) pairs placed in one cluster."""
    if required.empty:
        return 1.0
    cid = dict(zip(labels["url"], labels["cluster_id"]))
    a = required["url_a"].map(cid)
    b = required["url_b"].map(cid)
    return float(((a == b) & a.notna()).mean())


def similar_pairs(spark, pages, pairs: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame:
    """The (url_a, url_b) pairs whose shingle Jaccard, scored by the program's
    own ``verify_jaccard`` on the input pages, is at or above the threshold."""
    feats = minhash_lsh.doc_band_features(pages, cfg)
    cand = spark.createDataFrame(
        pairs[["url_a", "url_b"]].rename(columns={"url_a": "id_a", "url_b": "id_b"}))
    scored = minhash_lsh.verify_jaccard(cand, feats, cfg)
    keep = scored.filter(F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
    return keep.select(F.col("id_a").alias("url_a"),
                       F.col("id_b").alias("url_b")).toPandas()


def expected_exact(urls: list[str], texts: list[str]) -> tuple[dict[str, str], dict]:
    """The exact-dedup result computed in plain Python from the input: every
    normalized unit is kept once, at its first (url, unit_idx) occurrence, and
    each document keeps its kept units joined by newlines in document order
    (documents left empty are absent). Units come from the kernel's batch
    splitter, which the program's verify step also uses; returns the output
    ``{url: dedup_text}`` and the run's counters."""
    order = sorted(range(len(urls)), key=urls.__getitem__)
    units = kernel.extract_units_batch([texts[i].encode() for i in order])
    seen: set[bytes] = set()
    out: dict[str, str] = {}
    total = nbytes = 0
    for i, doc in zip(order, units):
        total += len(doc)
        nbytes += sum(map(len, doc))
        kept = []
        for u in doc:
            if u not in seen:
                seen.add(u)
                kept.append(u)
        if kept:
            out[urls[i]] = b"\n".join(kept).decode()
    counters = {"total_units": total, "unique_units": len(seen),
                "duplicate_units": total - len(seen), "bytes_processed": nbytes}
    return out, counters


def _checksum(df, *cols):
    """Order-insensitive checksum of ``df``'s rows over ``cols``."""
    return df.select(F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()[0]


class Workload:
    """``prepare`` builds, once per seed and before any iteration, the
    reference the checks compare against; it reads only the input.
    ``iterate`` is one body iteration (timed by the caller); ``check``
    validates an iteration's output: the first output in full against the
    reference, later ones by a checksum pinned from the first. ``trace`` runs
    one traced iteration and returns per-layer metrics, plus under
    ``UNTIMED`` the seconds it spent on calls the untraced body does not make;
    ``finish_trace`` adds metrics pooled over the traced iterations and
    returns the checks it ran."""

    name: str
    shape: Shape
    nominal_iter_s: float    # a body iteration's usual length; sets the count

    def __init__(self, spark, pages, inputs, run_dir: str):
        self.spark, self.pages, self.inputs, self.run_dir = spark, pages, inputs, run_dir
        self.stored_mb = 0.0     # checkpoint bytes on disk, if the workload writes any

    def prepare(self) -> None:
        pass

    def finish_trace(self, m: dict[str, float], meter) -> list[Check]:
        return []


class ExactVerifySearch(Workload):
    """dedup -> verify -> search over the deduped corpus (the reference's
    three CLI modes)."""

    name = "exact_verify_search"
    shape = Shape(n_docs=4_000, n_probes=9)
    nominal_iter_s = 3.5
    # Only the deduped documents whose page id is a multiple of INDEX_STRIDE
    # are indexed, so that search stays a minority of the body and
    # exact_dedup does most of the work.
    INDEX_STRIDE = 4

    def __init__(self, *args):
        super().__init__(*args)
        self.probe_latencies: list[float] = []

    @classmethod
    def _indexed(cls, url: str) -> bool:
        return int(url.rsplit("/", 1)[1]) % cls.INDEX_STRIDE == 0

    def _index_corpus(self, deduped):
        page_id = F.substring_index("url", "/", -1).cast("long")
        return deduped.filter(page_id % self.INDEX_STRIDE == 0) \
            .select("url", F.col("dedup_text").alias("text"))

    def _hits(self, df) -> dict[str, list]:
        hits: dict[str, list] = {p: [] for p in self.inputs.probes}
        for q, url, pos in df.collect():
            hits[q].append((url, pos))
        return {q: sorted(v) for q, v in hits.items()}

    def iterate(self):
        deduped, obs = exact_dedup.run_exact_dedup_observed(self.pages)
        deduped, n_out = _count(deduped)
        stats = obs.get
        dups = exact_dedup.verify_no_duplicates(deduped)
        corpus = self._index_corpus(deduped)
        index, _ = _count(search.build_fingerprint_index(corpus, PROBE_WINDOW))
        hits = self._hits(search.search_many(index, corpus, self.inputs.probes))
        return {"deduped": deduped, "n_out": n_out, "stats": stats,
                "dups": dups, "hits": hits}

    def prepare(self) -> None:
        """The expected output and counters (``expected_exact``), and the
        expected search hits: a ``str.find`` scan of the expected texts of
        the indexed documents, newlines read as spaces as search does."""
        pdf = pd.read_parquet(self.inputs.pages_path, columns=["url", "text"])
        self.expected, self.expected_stats = expected_exact(
            list(pdf["url"]), list(pdf["text"]))
        squash = str.maketrans("\n\r", "  ")
        texts = [(u, t.translate(squash)) for u, t in self.expected.items()
                 if self._indexed(u)]
        self.expected_hits = {}
        for p in self.inputs.probes:
            found = []
            for u, t in texts:
                i = t.find(p)
                while i >= 0:
                    found.append((u, i))
                    i = t.find(p, i + 1)
            self.expected_hits[p] = sorted(found)

    def _check_first(self, deduped, errors: list[str]) -> None:
        """Compare the whole output with the expected one and score the
        exact pairs."""
        pdf = deduped.select("url", "dedup_text").toPandas()
        got = dict(zip(pdf["url"], pdf["dedup_text"]))
        if got != self.expected:
            missing = self.expected.keys() - got.keys()
            extra = got.keys() - self.expected.keys()
            differ = sum(got[u] != t for u, t in self.expected.items() if u in got)
            errors.append(f"deduped output differs from the expected one: "
                          f"{len(missing)} documents missing, {len(extra)} extra, "
                          f"{differ} with other text")
        # of two byte-identical pages the larger URL loses every unit to the
        # smaller one (keeper = minimum URL), so it must be absent from the output
        exact = self.inputs.truth[self.inputs.truth["kind"] == "exact"]
        later = np.maximum(exact["url_a"].to_numpy(), exact["url_b"].to_numpy())
        self.recall = float(np.mean([u not in got for u in later])) if len(later) else 1.0

    def check(self, out, first: bool) -> Check:
        errors: list[str] = []
        checksum = _checksum(out["deduped"], "url", "dedup_text")
        if first:
            self.checksum, self.output_errors = checksum, []
            self._check_first(out["deduped"], self.output_errors)
        if checksum == self.checksum:   # the first output, or the same again
            errors += self.output_errors
        else:
            errors.append("deduped output checksum differs from the first iteration's")
        if dict(out["stats"]) != self.expected_stats:
            errors.append(f"exact counters {dict(out['stats'])} != {self.expected_stats}")
        if out["n_out"] != len(self.expected):
            errors.append(f"{out['n_out']} deduped documents, expected {len(self.expected)}")
        if out["dups"] != 0:
            errors.append(f"verify_no_duplicates returned {out['dups']}")
        if out["hits"] != self.expected_hits:
            errors.append("search hits differ from the str.find scan")
        if self.recall < MIN_RECALL:
            errors.append(f"exact pair recall {self.recall:.4f} < {MIN_RECALL}")
        return not errors, self.recall, errors

    def trace(self, meter) -> dict[str, float]:
        m: dict[str, float] = {}
        units, n_units = _span(meter, m, "exact_dedup.extract", lambda: _count(
            exact_dedup.explode_units_arrow(self.pages)))
        keepers, n_keep = _span(meter, m, "exact_dedup.keepers", lambda: _count(
            exact_dedup.dedup_keepers(units)))
        m["exact_dedup.keepers.collapse"] = n_keep / n_units if n_units else 0.0
        deduped, _ = _span(meter, m, "exact_dedup.reassemble", lambda: _count(
            exact_dedup.reassemble(keepers.drop("n_occ"))))
        _span(meter, m, "exact_dedup.verify", lambda: (
            None, exact_dedup.verify_no_duplicates(deduped)))
        corpus = self._index_corpus(deduped)
        index, _ = _span(meter, m, "search.index_build", lambda: _count(
            search.build_fingerprint_index(corpus, PROBE_WINDOW)))
        probes = self.inputs.probes
        _, n_hits = _span(meter, m, "search.probe", lambda: (None, sum(map(
            len, self._hits(search.search_many(index, corpus, probes)).values()))))
        # Single-probe latency: each probe on its own, outside the batch span;
        # then the hash candidates of every probe. Neither is tracing overhead,
        # so their time is reported as untimed.
        t0 = time.perf_counter()
        for p in probes:
            _, c = meter.measure("search.probe_one",
                                 lambda p=p: search.search(index, corpus, p).collect())
            self.probe_latencies.append(c["wall_s"])
        n_cand = search.explode_fingerprints(index).filter(
            F.col("whash").isin([search.query_hash(p) for p in probes])).count()
        m["search.probe.yield"] = n_hits / n_cand if n_cand else 0.0
        m[UNTIMED] = time.perf_counter() - t0
        return m

    def finish_trace(self, m: dict[str, float], meter) -> list[Check]:
        # run.py traces at least two iterations of ten probes, so the median
        # has at least ten samples beyond it
        m["search.probe.p50_s"] = statistics.median(self.probe_latencies)
        return []


class NearDupSkewed(Workload):
    """MinHash/LSH near-dup clustering on a near-dup-heavy, skewed corpus.
    Its traced run also runs the checkpointed pipeline once, fresh and then
    resumed, on the same input."""

    name = "near_dup_skewed"
    shape = Shape(n_docs=3_500, near_frac=0.3, hot_cluster=175)
    nominal_iter_s = 3.5

    def iterate(self):
        clusters, n = _count(minhash_lsh.near_dup_clusters(self.pages, NEAR_CFG))
        return {"clusters": clusters, "n": n}

    def prepare(self) -> None:
        """The planted pairs a correct result must put in one cluster."""
        self.required = similar_pairs(
            self.spark, self.pages, self.inputs.truth, NEAR_CFG)

    def _check_labels(self, labels: pd.DataFrame, errors: list[str]) -> float:
        n_docs = self.inputs.n_docs
        if len(labels) != n_docs or labels["url"].nunique() != n_docs:
            errors.append(f"{len(labels)} cluster rows for {n_docs} pages")
        recall = _cluster_recall(labels, self.required)
        if recall < MIN_RECALL:
            errors.append(f"pair recall {recall:.4f} < {MIN_RECALL}")
        return recall

    def _check_precision(self, labels: pd.DataFrame, errors: list[str]) -> None:
        """Every cluster must be connected by pairs of its own pages that
        score at or above the threshold: a result that merges pages below
        it (or merges everything) fails."""
        members = [sorted(g) for g in labels.groupby("cluster_id")["url"]
                   .agg(list) if len(g) > 1]
        n_pairs = sum(len(g) * (len(g) - 1) // 2 for g in members)
        if n_pairs > MAX_CLUSTER_PAIRS:
            errors.append(f"clusters hold {n_pairs} page pairs; largest cluster "
                          f"{max(map(len, members))} pages")
            return
        if not n_pairs:
            return
        pairs = pd.DataFrame(
            [p for g in members for p in itertools.combinations(g, 2)],
            columns=["url_a", "url_b"])
        linked = similar_pairs(self.spark, self.pages, pairs, NEAR_CFG)
        parent = {u: u for g in members for u in g}

        def root(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a, b in zip(linked["url_a"], linked["url_b"]):
            parent[root(a)] = root(b)
        split = sum(len({root(u) for u in g}) > 1 for g in members)
        if split:
            errors.append(f"{split} clusters join pages with no chain of "
                          f"pairs at Jaccard >= {NEAR_CFG.jaccard_threshold}")

    def check(self, out, first: bool) -> Check:
        errors: list[str] = []
        labels = out["clusters"].toPandas()
        recall = self._check_labels(labels, errors)
        checksum = _checksum(out["clusters"], "url", "cluster_id")
        if first:
            self.checksum, self.precision_errors = checksum, []
            self._check_precision(labels, self.precision_errors)
        if checksum == self.checksum:   # the first output, or the same again
            errors += self.precision_errors
        else:
            errors.append("clusters checksum differs from the first iteration's")
        return not errors, recall, errors

    def trace(self, meter) -> dict[str, float]:
        m: dict[str, float] = {}
        cfg = NEAR_CFG
        feats, _ = _span(meter, m, "minhash_lsh.features", lambda: _count(
            minhash_lsh.doc_band_features(self.pages, cfg)))
        bands = feats.select("url", F.posexplode("bands").alias("band_id", "band_hash"))
        dropped = []

        def candidates():
            pairs, drop = minhash_lsh.candidate_pairs(bands, cfg)
            dropped.append(drop)
            return _count(pairs)

        pairs, n_pairs = _span(meter, m, "minhash_lsh.candidates", candidates)
        d = dropped[0].agg(F.count("*"), F.coalesce(F.sum("bucket_n"), F.lit(0))).first()
        m["minhash_lsh.candidates.dropped_buckets"] = d[0]
        m["minhash_lsh.candidates.dropped_rows"] = d[1]
        edges, n_edges = _span(meter, m, "minhash_lsh.verify_jaccard", lambda: _count(
            minhash_lsh.verify_jaccard(pairs, feats, cfg).filter(
                F.col("jaccard") >= F.lit(cfg.jaccard_threshold))))
        m["minhash_lsh.verify_jaccard.yield"] = n_edges / n_pairs if n_pairs else 0.0
        labels, _ = _span(meter, m, "connected_components.components", lambda: _count(
            cc.connected_components(edges.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")))))
        # path 0 is the in-process union-find (one pass); path 1 is the star
        # loop, whose rounds are its jobs beyond the edge checkpoint and count
        union_find = 0 < n_edges <= cc.DRIVER_CC_MAX_EDGES
        m["connected_components.components.path"] = 0.0 if union_find else 1.0
        m["connected_components.components.rounds"] = (
            1.0 if union_find else max(0, meter.last["jobs"] - 2))
        _span(meter, m, "connected_components.attach", lambda: _count(
            cc.attach_labels(self.pages.select("url"), labels, "url")))
        return m

    def finish_trace(self, m: dict[str, float], meter) -> list[Check]:
        """The checkpointed pipeline into a fresh work dir, then a resume
        after deleting the ``edges`` and ``clusters`` stages: it reads
        ``features`` back from parquet and recomputes the last two."""
        wd = os.path.join(self.run_dir, "pipeline")

        def fresh():
            DedupPipeline(self.spark, NEAR_CFG, wd).run(self.pages)
            shutil.rmtree(os.path.join(wd, "edges"))
            # moved aside, not deleted: the resumed table must equal it
            os.replace(os.path.join(wd, "clusters"), os.path.join(wd, "clusters_fresh"))
            return None, 0

        def resume():
            out = DedupPipeline(self.spark, NEAR_CFG, wd).run(self.pages)
            return out["clusters"], 0

        _span(meter, m, "pipeline.fresh", fresh)
        resumed, _ = _span(meter, m, "pipeline.resume", resume)
        errors: list[str] = []
        before = self.spark.read.parquet(os.path.join(wd, "clusters_fresh"))
        if before.exceptAll(resumed).count() or resumed.exceptAll(before).count():
            errors.append("resumed clusters differ from the fresh run's")
        recall = self._check_labels(resumed.toPandas(), errors)
        for s in STAGES:
            d = os.path.join(wd, s)
            nbytes = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
            m[f"pipeline.{s}.stored_mb"] = nbytes / MB
            m[f"pipeline.{s}.rows"] = table_rows(d)
            self.stored_mb += nbytes / MB
        m["pipeline.fresh.records_out"] = m["pipeline.resume.records_out"] = \
            m["pipeline.clusters.rows"]
        shutil.rmtree(wd)
        return [(not errors, recall, errors)]


WORKLOADS = {w.name: w for w in (ExactVerifySearch, NearDupSkewed)}
