"""Deterministic synthetic web-pages table (FIXTURES.md §1) + planted ground truth.

Schema matches the input hint exactly: (url:string, warc_ts:timestamp, html:binary,
text:string, lang:string). Seeded, no external data. Planted structure:

- exact near-dup pairs/clusters: whole-document copies (k ∈ {2,3,10})
- near-dup pairs: copies with e token-level edits (Jaccard ≥ ~0.8 by construction)
- shared-sentence exact unit dups across docs + intra-doc repeats (quirk Q2)
- shared paragraph blocks (block-fingerprint leg)
- splitter edge cases (abbreviations, terminator runs, closers, CJK, invalid-ish text)
- skew: one boilerplate host contributes ~20% of rows sharing a footer sentence

Ground truth tables: truth_dup_pairs(url_a, url_b, kind), truth_clusters(url, cluster_id).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd

_VOCAB = (
    "the quick brown fox jumps over lazy dog corpus spark shuffle partition cluster "
    "minhash signature band bucket candidate verify jaccard shingle token sentence "
    "document paragraph crawl web page host header footer content index search query "
    "rolling hash block tree node leader pointer level mark prefix power window match "
    "data scale executor driver stage task memory spill skew salt broadcast join"
).split()

_EDGE_SENTENCES = [
    "Dr. Smith went to Washington. He arrived at noon.",
    "This is a test... with numbers 3.14 included. Also trailing!",
    "Mr. Jones vs. the state: a case study. etc. and so on.",
    "Quotes end here.\") Then a new one begins!",
    "CJK terminators work。Second sentence！Third one？",
    "Ellipsis… followed by text. And NBSP whitespace　here.",
    "he ran. then fell. after that, silence.",
    "Multiple!!! exclamations??? and questions.",
    "St. Petersburg and Mt. Everest are places. Jr. and Sr. too.",
    "An Arabic question mark؟ and halfwidth stop｡end.",
]

_BOILERPLATE_FOOTER = "Copyright 2024 Example Corp. All rights reserved. Privacy policy applies."


def _sentence(rng: np.random.Generator, n_words: int) -> str:
    words = rng.choice(_VOCAB, size=n_words)
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def generate_pages(
    n_docs: int = 1000, seed: int = 42, dup_frac: float = 0.12, near_frac: float = 0.08
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Returns (pages, truth_dup_pairs, truth_clusters) as pandas DataFrames."""
    rng = np.random.default_rng(seed)
    langs = np.array(["en", "es", "de", "zh", "uk", "ar"])
    lang_w = np.array([0.5, 0.15, 0.12, 0.1, 0.08, 0.05])

    n_base = max(1, int(n_docs * (1.0 - dup_frac - near_frac)))
    base_docs: list[list[str]] = []
    shared_pool = [_sentence(rng, int(rng.integers(4, 12))) for _ in range(max(8, n_base // 20))]
    for i in range(n_base):
        n_sent = int(rng.integers(5, 50))
        sents = [_sentence(rng, int(rng.integers(3, 14))) for _ in range(n_sent)]
        # shared verbatim sentences across docs (exact unit dups)
        if rng.random() < 0.4:
            sents[int(rng.integers(0, n_sent))] = shared_pool[int(rng.integers(0, len(shared_pool)))]
        # intra-doc repeat (quirk Q2)
        if rng.random() < 0.15 and n_sent >= 3:
            sents[n_sent - 1] = sents[0]
        # splitter edge cases sprinkled in
        if rng.random() < 0.1:
            sents.insert(int(rng.integers(0, n_sent)),
                         _EDGE_SENTENCES[int(rng.integers(0, len(_EDGE_SENTENCES)))])
        # embedded newlines (quirk Q1) and stray whitespace
        if rng.random() < 0.2:
            sents[0] = sents[0].replace(" ", "\r\n", 1)
        base_docs.append(sents)

    # shared paragraph blocks: pick block of 3 sentences, copy into other docs
    block_truth: list[tuple[int, int]] = []
    for _ in range(max(1, n_base // 30)):
        src = int(rng.integers(0, n_base))
        dst = int(rng.integers(0, n_base))
        if src != dst and len(base_docs[src]) >= 4:
            blk = base_docs[src][:3]
            base_docs[dst] = base_docs[dst][:2] + blk + base_docs[dst][2:]
            block_truth.append((src, dst))

    docs: list[list[str]] = list(base_docs)
    owner: list[int] = list(range(n_base))          # cluster root (base doc index)
    kinds: list[str] = ["base"] * n_base
    copy_of: dict[int, int] = {}                    # exact-copy row → source row

    # exact whole-doc dup clusters, k ∈ {2,3,10}
    n_dup = int(n_docs * dup_frac)
    while n_dup > 0:
        k = int(rng.choice([1, 2, 9], p=[0.6, 0.3, 0.1]))
        k = min(k, n_dup)
        src = int(rng.integers(0, n_base))
        for _ in range(k):
            copy_of[len(docs)] = src
            docs.append(list(base_docs[src]))
            owner.append(src)
            kinds.append("exact")
        n_dup -= k

    # near-dup docs: copy + e token edits (insert/swap/drop a sentence's words)
    n_near = n_docs - len(docs)
    for _ in range(max(0, n_near)):
        src = int(rng.integers(0, n_base))
        sents = list(base_docs[src])
        n_edits = int(rng.integers(1, max(2, len(sents) // 10 + 1)))
        for _ in range(n_edits):
            j = int(rng.integers(0, len(sents)))
            words = sents[j].split()
            if len(words) > 3:
                op = rng.random()
                if op < 0.4:
                    words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
                elif op < 0.7:
                    words.insert(int(rng.integers(0, len(words))), str(rng.choice(_VOCAB)))
                else:
                    del words[int(rng.integers(0, len(words)))]
            sents[j] = " ".join(words)
            if not sents[j].endswith("."):
                sents[j] += "."
        docs.append(sents)
        owner.append(src)
        kinds.append("near")

    n_total = len(docs)
    # skew: boilerplate host = ~20% of rows, shared footer sentence
    host_ids = rng.integers(1, 50, size=n_total)
    boiler = rng.random(n_total) < 0.2
    host_ids[boiler] = 0
    # exact copies must be byte-identical to their source (incl. footer), so the
    # planted truth kind 'exact' is sound: inherit the source row's host/footer
    for row, src_row in copy_of.items():
        host_ids[row] = host_ids[src_row]
        boiler[row] = boiler[src_row]
    texts, urls = [], []
    for i in range(n_total):
        sents = list(docs[i])
        if boiler[i]:
            sents.append(_BOILERPLATE_FOOTER)
        texts.append(" ".join(sents))
        urls.append(f"https://host-{host_ids[i]}.example/p/{i}")

    t0 = datetime(2024, 3, 1)
    ts = [t0 + timedelta(seconds=int(x)) for x in rng.integers(0, 86400 * 90, size=n_total)]
    html = [f"<html><body>{t[:64]}</body></html>".encode() for t in texts]
    lang = rng.choice(langs, p=lang_w, size=n_total)

    pages = pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": html, "text": texts, "lang": lang}
    )

    # ground truth: clusters keyed by owning base doc, only where >1 member or near/exact
    clusters = pd.DataFrame({"url": urls, "cluster_id": [f"c{o}" for o in owner],
                             "kind": kinds})
    by_owner: dict[int, list[int]] = {}
    for i, o in enumerate(owner):
        by_owner.setdefault(o, []).append(i)
    pairs = []
    for o, members in by_owner.items():
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                ia, ib = members[a], members[b]
                kind = "near" if "near" in (kinds[ia], kinds[ib]) else "exact"
                pairs.append((urls[ia], urls[ib], kind))
    for src, dst in block_truth:
        pairs.append((urls[src], urls[dst], "block"))
    truth_pairs = pd.DataFrame(pairs, columns=["url_a", "url_b", "kind"])
    return pages, truth_pairs, clusters


def documents_as_pages(spark, sf_dir: str):
    """Adapt the driver's documents.parquet to the pages schema (url, warc_ts, html,
    text, lang) so every operator runs on driver-provided data too."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
