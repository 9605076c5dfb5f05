"""Cross-document shared-block detection — the suffix-array-prefix-grouping leg.

A classical suffix array groups suffixes by common prefix; at corpus scale the
equivalent Spark shape is: emit rolling-hash fingerprints for every length-W window of
every document (H2 prefix tables make each window O(1)), then group by fingerprint —
windows sharing a hash are suffixes sharing a W-prefix. Documents co-occurring in a
group share a W-codepoint block (ref: the reference's Block Tree achieves intra-corpus
block dedup via sorted (block_id, length) group scans — src/block_tree_core.c:373-426;
this operator is its cross-document generalization).

Verification (documented deviation from quirk Q6's content compare): every window
carries TWO fingerprints from structurally independent hash families — the reference's
polynomial mod 2^64 (src/search_mode.c:114-149) and a polynomial mod the Mersenne
prime 2^61-1 (kernel.rolling_prefix_mod61). Candidates must match under BOTH. A
content-compare verify would join two full document texts onto every candidate window
(a boilerplate-heavy pair shuffles its texts hundreds of times — the r2 scale killer);
the prime modulus restores the soundness a second mod-2^64 hash cannot (mod-2^64
polynomial hashes share universal collision families — Thue–Morse ±1 difference
patterns collide for every base — while over F_p a degree-d difference polynomial has
≤ d roots, so for a base chosen AFTER the input is fixed, P(false pair) ≤ W/2^61 per
window by Schwartz–Zippel; hence the seed-derived base — pass a per-run ``seed`` so
the base is not a constant an adversary can target).

Scale: the fingerprint table is (docs × chars) rows — big but narrow
(id, pos, whash, whash2); it is built flat in one mapInPandas pass (no explode stage).
Hot fingerprints (site boilerplate) are capped like LSH buckets. A stride > 1
subsamples anchor positions on one side (guaranteeing detection of any shared block of
length >= window + stride - 1 via the anchor alignment trick: left side keeps every
position, right side strides).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_dedup_spark import kernel


def seed_from_run_id(run_id: str) -> int:
    """Run-level seed for the Mersenne-61 verify base: hash the pipeline run id
    (DedupPipeline.run_id) so the base is (a) unpredictable before the run — the
    Schwartz–Zippel adversarial bound applies — and (b) deterministic WITHIN the
    run, which checkpoint/resume requires (a resumed stage must reproduce the
    same fingerprints)."""
    h = 0xCBF29CE484222325
    for b in run_id.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def build_dual_fingerprint_index(pages: DataFrame, window: int,
                                 id_col: str = "url",
                                 text_col: str = "text",
                                 seed: int = 0) -> DataFrame:
    """(id, pos, whash, whash2) for every codepoint window: whash is the
    reference's search hash (base 1315423911, cp+1, mod 2^64), whash2 the
    Mersenne-61 hash with a SEED-DERIVED base (the Schwartz–Zippel bound holds
    for a base chosen after the input is fixed — pass a per-run seed so
    adversarial boilerplate cannot be crafted against a published constant;
    any fixed seed stays deterministic within the run for resume). One decode +
    both prefix tables per doc, rows emitted flat (no JVM explode stage)."""
    base2 = kernel.mod61_base_from_seed(seed)

    def gen(batches):
        for pdf in batches:
            urls: list = []
            pos_l, w1_l, w2_l = [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                cps = kernel.utf8_decode_buffer(
                    kernel.squash_newlines((text or "").encode("utf-8")))
                n = len(cps)
                if n < window:
                    continue
                prefix, pow_ = kernel.rolling_prefix(
                    cps, kernel.SEARCH_HASH_BASE, add=1)
                with np.errstate(over="ignore"):
                    w1 = prefix[window:] - prefix[:-window] * pow_[window]
                S, pw = kernel.rolling_prefix_mod61(cps, base2, add=1)
                starts = np.arange(n - window + 1, dtype=np.int64)
                w2 = kernel.window_hashes_mod61(
                    S, pw, starts, np.full(starts.size, window, np.int64))
                urls.extend([url] * starts.size)
                pos_l.append(starts)
                w1_l.append(w1.view(np.int64))
                w2_l.append(w2.view(np.int64))
            if urls:
                yield pd.DataFrame({
                    "url": urls,
                    "pos": np.concatenate(pos_l),
                    "whash": np.concatenate(w1_l),
                    "whash2": np.concatenate(w2_l),
                })

    src = pages.select(F.col(id_col).alias("url"), F.col(text_col).alias("text"))
    id_type = dict(src.dtypes)["url"]  # preserve the caller's id type
    return (
        src.mapInPandas(
            gen, schema=f"url {id_type}, pos long, whash long, whash2 long")
        .withColumnRenamed("url", id_col)
    )


def shared_block_pairs(pages: DataFrame, window: int = 64, stride: int = 1,
                       max_group: int = 2000, id_col: str = "url",
                       text_col: str = "text", seed: int = 0) -> DataFrame:
    """Pairs of documents sharing at least one verified W-codepoint block:
    (id_a, id_b, n_shared_windows).

    stride subsamples the probe side; verification requires equality under both
    independent window hashes (see module docstring) — no text column ever
    crosses a shuffle after the fingerprint pass.

    Seed contract, stated plainly: the Schwartz–Zippel ADVERSARIAL bound only
    holds when the Mersenne-61 base is drawn after the input is fixed, i.e. when
    the caller passes a per-run ``seed`` (use :func:`seed_from_run_id` with the
    pipeline's run id). The default ``seed=0`` yields a fixed published base:
    that configuration gives only the random-input collision bound (~W/2^61 per
    window pair for non-crafted text), NOT the adversarial guarantee — crafted
    boilerplate could in principle target the constant. Deterministic call sites
    (the driver oracle query) accept this deliberately.
    """
    idx = build_dual_fingerprint_index(
        pages, window, id_col, text_col, seed=seed).persist()
    probe = idx if stride <= 1 else idx.filter(F.col("pos") % stride == 0)

    # cap pathological fingerprints (site boilerplate): sizes via groupBy (map-side
    # partial combine), then a broadcast ANTI-join of the few hot fingerprints.
    # minhash_lsh.candidate_pairs sizes its buckets with a window instead, because
    # its band rows are already hash-partitioned for the bucket aggregation; this
    # index is not, so a window count here would add a sort-shuffle of the entire
    # docs×chars fingerprint index just to size groups.
    hot = (
        idx.groupBy("whash").agg(F.count("*").alias("grp_n"))
        .filter(F.col("grp_n") > max_group)
        .select("whash")
    )
    base = idx.join(F.broadcast(hot), "whash", "left_anti")
    probe = probe.join(F.broadcast(hot), "whash", "left_anti")

    left = base.select("whash", "whash2", F.col(id_col).alias("id_a"),
                       F.col("pos").alias("pos_a"))
    right = probe.select("whash", "whash2", F.col(id_col).alias("id_b"),
                         F.col("pos").alias("pos_b"))
    verified = (
        left.join(right, ["whash", "whash2"])
        .where(F.col("id_a") < F.col("id_b"))
    )
    return (
        verified.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )
