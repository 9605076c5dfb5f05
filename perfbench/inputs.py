"""Benchmark inputs: generated web pages, derived per seed, plus the probe set.

``generate_pages`` is pure Python and costs about 1 ms per document, so calling
it once per seed would put tens of seconds of input generation into every run.
Instead each (workload, size) gets one base corpus from ``generate_pages``,
written once into the benchmark's cache directory. A seed then derives its
input from that base with cheap numpy steps:

- keep a seeded ~90 % subset of the rows (content varies by seed);
- give every page a new seeded page id in its URL, so keepers (minimum URL) and
  cluster ids move with the seed while hosts stay put;
- shuffle the row order (the physical layout the program reads);
- for ``near_dup_skewed``, plant one hot cluster of near-identical template
  pages from a single host.

The same seed always yields byte-identical inputs; ``Inputs.sha256`` is the
checksum of the parquet bytes handed to the program.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd

BASE_SEED = 20240301
KEEP_FRAC = 0.9
PROBE_WINDOW = 12
MISS_PROBE = "zz-no-hit-zz"
HOT_CHARS = 6000         # length of the hot cluster's template


@dataclass(frozen=True)
class Shape:
    """What a workload's generated corpus looks like."""

    n_docs: int
    near_frac: float = 0.08
    hot_cluster: int = 0     # planted near-identical template pages, one host
    n_probes: int = 0        # search probes drawn from the texts (plus one miss)

    def scaled(self, n_docs: int) -> Shape:
        """The same shape at another size; the hot cluster shrinks with it."""
        hot = min(self.hot_cluster, max(10, n_docs // 20)) if self.hot_cluster else 0
        return replace(self, n_docs=n_docs, hot_cluster=hot)


@dataclass
class Inputs:
    pages_path: str          # parquet directory: url, warc_ts, html, text, lang
    truth: pd.DataFrame      # planted duplicate pairs: url_a, url_b, kind
    probes: list[str]
    n_docs: int
    sha256: str


def _base_corpus(cache_dir: str, shape: Shape) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``generate_pages`` output for ``shape``, generated once and cached."""
    n_base = int(round(shape.n_docs / KEEP_FRAC))
    tag = f"n{n_base}_near{shape.near_frac}_s{BASE_SEED}"
    pages_path = os.path.join(cache_dir, f"base_pages_{tag}.parquet")
    truth_path = os.path.join(cache_dir, f"base_truth_{tag}.parquet")
    if not (os.path.exists(pages_path) and os.path.exists(truth_path)):
        from corpus_dedup_spark.sources.pages import generate_pages

        os.makedirs(cache_dir, exist_ok=True)
        pages, truth, _clusters = generate_pages(
            n_base, seed=BASE_SEED, near_frac=shape.near_frac)
        truth = truth[truth["kind"] != "block"]   # shared blocks are not dups
        # write-then-rename so an interrupted run never leaves half a cache
        for df, path in ((pages, pages_path), (truth, truth_path)):
            df.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)
    return pd.read_parquet(pages_path), pd.read_parquet(truth_path)


def _hot_cluster(rng: np.random.Generator, texts: np.ndarray, m: int) -> list[str]:
    """``m`` near-identical pages: one template of HOT_CHARS characters cut
    from random texts, each copy with one word replaced in a different place.
    Unit-shingle Jaccard between two copies is about 0.9 (~115 units), so
    every copy lands in the same LSH buckets. The template's length is fixed
    because the cluster's pairwise verification scales with it: a length
    that varied with the seed would move the workload's CPU time with it."""
    parts: list[str] = []
    while sum(map(len, parts)) + len(parts) <= HOT_CHARS:
        parts.append(texts[int(rng.integers(0, len(texts)))])
    template = " ".join(parts)[:HOT_CHARS]
    words = template[:template.rindex(" ")].split(" ")
    out = []
    for pos in rng.integers(0, len(words), size=m):
        w = list(words)
        w[pos] = f"hot{int(rng.integers(0, 1 << 30)):x}"
        out.append(" ".join(w))
    return out


def _probes(rng: np.random.Generator, texts: np.ndarray, n: int) -> list[str]:
    """``n`` distinct substrings of PROBE_WINDOW codepoints taken from the
    texts (so they hit), plus one probe that matches nothing."""
    probes: list[str] = []
    while len(probes) < n:
        t = texts[int(rng.integers(0, len(texts)))]
        if len(t) <= PROBE_WINDOW:
            continue
        i = int(rng.integers(0, len(t) - PROBE_WINDOW))
        p = t[i:i + PROBE_WINDOW]
        if "\n" not in p and "\r" not in p and p not in probes:
            probes.append(p)
    return probes + [MISS_PROBE]


def make_inputs(cache_dir: str, run_dir: str, shape: Shape, seed: int) -> Inputs:
    """Derive the seed's input from the cached base corpus and write it as a
    parquet directory under ``run_dir``."""
    base, truth = _base_corpus(cache_dir, shape)
    rng = np.random.default_rng([seed, shape.n_docs])
    pages = base[rng.random(len(base)) < KEEP_FRAC].reset_index(drop=True)

    # new page ids: https://host-H.example/p/<old> -> .../p/<seeded id>
    new_id = rng.permutation(len(base))
    hosts = pages["url"].str.rsplit("/", n=1).str[0]
    old_ids = pages["url"].str.rsplit("/", n=1).str[1].astype(np.int64)
    new_urls = hosts + "/p/" + pd.Series(new_id[old_ids.to_numpy()]).astype(str)
    url_map = dict(zip(pages["url"], new_urls))
    pages["url"] = new_urls
    truth = truth[truth["url_a"].isin(url_map) & truth["url_b"].isin(url_map)]
    truth = pd.DataFrame({"url_a": truth["url_a"].map(url_map),
                          "url_b": truth["url_b"].map(url_map),
                          "kind": truth["kind"]})

    if shape.hot_cluster:
        texts = _hot_cluster(rng, pages["text"].to_numpy(), shape.hot_cluster)
        urls = [f"https://host-hot.example/t/{i}" for i in
                rng.permutation(shape.hot_cluster)]
        hot = pd.DataFrame({
            "url": urls,
            "warc_ts": pages["warc_ts"].iloc[0],
            "html": [f"<html><body>{t[:64]}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": "en",
        })
        pages = pd.concat([pages, hot], ignore_index=True)
        hot_pairs = pd.DataFrame(
            [(urls[a], urls[b], "hot") for a in range(len(urls))
             for b in range(a + 1, len(urls))],
            columns=["url_a", "url_b", "kind"])
        truth = pd.concat([truth, hot_pairs], ignore_index=True)

    pages = pages.iloc[rng.permutation(len(pages))].reset_index(drop=True)
    # Spark reads microsecond parquet timestamps, not pandas' nanoseconds
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    probes = _probes(rng, pages["text"].to_numpy(), shape.n_probes) \
        if shape.n_probes else []

    # several files so the scan has more than one split, as a real table does
    pages_path = os.path.join(run_dir, "pages.parquet")
    os.makedirs(pages_path, exist_ok=True)
    digest = hashlib.sha256()
    for i, part in enumerate(np.array_split(np.arange(len(pages)), 8)):
        path = os.path.join(pages_path, f"part-{i:05d}.parquet")
        pages.iloc[part].to_parquet(path, index=False, row_group_size=4096)
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\0".join(probes).encode())
    return Inputs(pages_path, truth.reset_index(drop=True), probes, len(pages),
                  digest.hexdigest())
