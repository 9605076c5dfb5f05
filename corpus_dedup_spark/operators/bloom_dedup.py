"""Bloom-prefiltered incremental dedup: exact results, sketch-sized state.

At web scale the corpus state (every normalized unit ever kept) dwarfs each
new crawl batch by orders of magnitude, and almost every unit in a new batch
is NEW — so joining the whole batch against the whole state does a shuffle's
worth of work to discover mostly nothing. The classic fix is a Bloom filter
over the corpus keys:

1. **build** — one pass over the corpus keys: hash JVM-side
   (``F.xxhash64``), set k bits per key in a per-partition numpy bitmap
   inside ``mapInArrow`` (no per-row Python) over a stream coalesced to a
   BOUNDED partition count, then OR the ≤32 partial bitmaps executor-side
   (``RDD.treeReduce``), so the driver receives ONE bitmap — O(bitmap)
   driver residency. The bitmap is ~1.2 GB per 10⁹ keys at 1% fpp — small
   enough to broadcast, persist beside the state table, and UPDATE
   INCREMENTALLY (OR in each batch's bitmap) so steady-state runs never
   rescan the corpus to rebuild it.
2. **probe** — broadcast the bitmap; an Arrow-vectorized ``mapInPandas``
   flags each batch unit maybe-in-corpus / definitely-new. Definitely-new
   units (no false negatives, ever) BYPASS the anti-join entirely; only the
   maybe set — true dups + fpp·new — pays for the exact join.
3. **verify** — the maybe set anti-joins the real corpus state, so Bloom
   false positives are resolved exactly: the final result is bit-identical
   to the plain anti-join (:func:`exact_dedup.dedup_against_corpus`), which
   is what the oracle checks.

Hashing is double-hashed xxhash64 (h₁ = xxhash64(key) JVM-side; h₂ = an
odd splitmix64 mix of h₁, computed vectorized in numpy): position_i =
(h₁ + i·h₂) mod m, the standard Kirsch–Mitzenmacher construction. m is a
power of two so the mod is a mask.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_U64 = np.uint64


def bloom_params(n_items: int, fpp: float) -> Tuple[int, int]:
    """(m_bits, k): next-power-of-two bit count and probe count for the
    target false-positive rate."""
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    n = max(1, n_items)
    m = -n * math.log(fpp) / (math.log(2) ** 2)
    m_bits = 1 << max(6, math.ceil(math.log2(m)))
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, min(k, 16)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain, Steele et al.) — vectorized."""
    with np.errstate(over="ignore"):
        h = h.astype(_U64, copy=True)
        h ^= h >> _U64(30)
        h *= _U64(0xBF58476D1CE4E5B9)
        h ^= h >> _U64(27)
        h *= _U64(0x94D049BB133111EB)
        h ^= h >> _U64(31)
    return h


def _positions(h64: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(len(h64), k) bit positions via double hashing; m_bits is a power of 2."""
    mask = _U64(m_bits - 1)
    h1 = h64.astype(_U64)
    h2 = _mix64(h1) | _U64(1)  # odd stride → full-period probe sequence
    i = np.arange(k, dtype=_U64)
    with np.errstate(over="ignore"):
        return (h1[:, None] + i[None, :] * h2[:, None]) & mask


MAX_PARTIAL_BITMAPS = 32


def _partial_bitmaps(keys: DataFrame, key_col: str, m_bits: int, k: int,
                     max_partials: int = MAX_PARTIAL_BITMAPS) -> DataFrame:
    """One Bloom bitmap row per (coalesced) partition of ``keys``.

    The hashed stream is ``coalesce``d (narrow — no shuffle) to at most
    ``max_partials`` partitions first, so the number of partial bitmaps is
    BOUNDED by a constant, not by the corpus scan's task count: a 10³-10⁴-task
    corpus scan would otherwise emit 10³-10⁴ bitmaps of m/8 bytes each.
    """
    n_words = m_bits // 64
    hashed = keys.select(F.xxhash64(key_col).alias("_h"))
    if hashed.rdd.getNumPartitions() > max_partials:
        hashed = hashed.coalesce(max_partials)

    def per_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bm = np.zeros(n_words, dtype=_U64)
        for b in batches:
            h = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            pos = _positions(h.view(_U64), m_bits, k).ravel()
            np.bitwise_or.at(bm, (pos >> _U64(6)).astype(np.int64),
                             np.left_shift(_U64(1), pos & _U64(63)))
        yield pa.RecordBatch.from_arrays([pa.array([bm.tobytes()])], ["bm"])

    return hashed.mapInArrow(per_partition, schema="bm binary")


def build_bloom(keys: DataFrame, key_col: str, n_items: int,
                fpp: float = 0.01) -> Tuple[np.ndarray, int, int]:
    """(bitmap uint64[], m_bits, k): Bloom filter over ``keys[key_col]``.

    One distributed pass: xxhash64 in the JVM, bit-setting vectorized in
    numpy per Arrow batch, one bitmap row per partition with the partition
    count COALESCED to ≤ :data:`MAX_PARTIAL_BITMAPS` (r6), then OR-merged
    EXECUTOR-SIDE with ``RDD.treeReduce`` — one parallel job computes every
    partial bitmap concurrently, the tree levels merge them on executors,
    and the driver receives a SINGLE bitmap: O(bitmap) driver residency and
    transfer. (The r5 version ``collect()``ed every per-scan-task bitmap at
    once — O(n_partitions × bitmap) resident — and claimed parity with
    Spark's ``stat.bloomFilter``; that was wrong on both counts — Spark,
    like this version now, merges partials executor-side and ships ONE
    filter. A ``toLocalIterator`` variant was rejected: it schedules one
    job per partition sequentially, serializing the parallel hash pass.)
    """
    m_bits, k = bloom_params(n_items, fpp)
    n_words = m_bits // 64
    partials = _partial_bitmaps(keys, key_col, m_bits, k)

    def _or(a: bytes, b: bytes) -> bytes:
        return (np.frombuffer(a, dtype=_U64) | np.frombuffer(b, dtype=_U64)).tobytes()

    rdd = partials.rdd.map(lambda r: r["bm"])
    if rdd.getNumPartitions() == 0:  # degenerate empty input
        return np.zeros(n_words, dtype=_U64), m_bits, k
    merged = rdd.treeReduce(_or, depth=2)
    return np.frombuffer(merged, dtype=_U64).copy(), m_bits, k


def with_bloom_maybe(df: DataFrame, spark, bitmap: np.ndarray, m_bits: int,
                     k: int, key_col: str,
                     flag_col: str = "_maybe") -> DataFrame:
    """df + boolean ``flag_col``: True iff the key MIGHT be in the filter
    (no false negatives). Hash in the JVM, test bits vectorized in numpy
    against the broadcast bitmap. ``mapInArrow`` so the payload columns
    (unit bytes) pass through as Arrow buffers — zero Python boxing."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    bc = spark.sparkContext.broadcast(bitmap.tobytes())
    h_idx = len(df.columns)  # _bloom_h appended last
    # StructType.add MUTATES — build the output schema from a fresh copy
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(flag_col, BooleanType())])
    with_h = df.withColumn("_bloom_h", F.xxhash64(key_col))

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bm = np.frombuffer(bc.value, dtype=_U64)
        for b in batches:
            h = b.column(h_idx).to_numpy(zero_copy_only=False) \
                .astype(np.int64).view(_U64)
            pos = _positions(h, m_bits, k)
            words = bm[(pos >> _U64(6)).astype(np.int64)]
            bits = (words >> (pos & _U64(63))) & _U64(1)
            maybe = pa.array(bits.all(axis=1))
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(h_idx)] + [maybe],
                [f.name for i, f in enumerate(b.schema) if i < h_idx]
                + [flag_col])

    return with_h.mapInArrow(probe, schema=out_schema)


def bloom_incremental_dedup(new_pages: DataFrame, corpus_units: DataFrame,
                            n_items: int, fpp: float = 0.01,
                            mode: str = "sentence", max_length: int = 0,
                            id_col: str = "url",
                            persist_probed: bool = True
                            ) -> Tuple[DataFrame, DataFrame]:
    """Exact incremental dedup with a Bloom bypass — bit-identical output to
    :func:`exact_dedup.dedup_against_corpus`, but only the maybe-in-corpus
    sliver of the batch (true dups + fpp of the rest) enters the anti-join.

    ``persist_probed`` caches the probed unit stream because both branches
    (bypass + verify) consume it; at driver-query scale recompute is also
    fine, at 100 TB the cache is one batch's units, not the corpus.
    """
    from corpus_dedup_spark.operators.exact_dedup import (dedup_keepers,
                                                          explode_units_arrow,
                                                          reassemble)

    spark = new_pages.sparkSession
    bitmap, m_bits, k = build_bloom(corpus_units.select("norm_unit"),
                                    "norm_unit", n_items, fpp)
    units = explode_units_arrow(new_pages, mode, max_length, id_col=id_col)
    probed = with_bloom_maybe(units, spark, bitmap, m_bits, k, "norm_unit")
    if persist_probed:
        probed = probed.persist()
    definitely_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    confirmed_new = (
        probed.filter(F.col("_maybe")).drop("_maybe")
        .join(corpus_units.select("norm_unit"), "norm_unit", "left_anti")
    )
    fresh = definitely_new.unionByName(confirmed_new)
    kept = dedup_keepers(fresh, id_col).drop("n_occ")
    return kept, reassemble(kept, id_col)
