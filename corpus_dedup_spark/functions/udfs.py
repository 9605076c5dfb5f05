"""Vectorized pandas UDFs over the parity kernels: the fused MinHash feature
UDFs, SimHash, the signature digest and the rolling-hash window fingerprints.

No per-row Python UDFs: every UDF here is Arrow-batched; inner loops are numpy
or tight C-backed bytes operations from :mod:`corpus_dedup_spark.kernel`. Unit
extraction is not a UDF of its own: the feature and SimHash UDFs call the batch
kernel :func:`kernel.extract_units_batch_flat` inside their one Arrow
round-trip, and a plan that needs the unit rows uses
:func:`corpus_dedup_spark.operators.exact_dedup.explode_units_arrow`.

Hash columns are uint64 semantically but carried as Spark LongType (bit-reinterpreted
via ``int64`` views) — comparisons/joins are unaffected.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, LongType

from corpus_dedup_spark import kernel
from corpus_dedup_spark.config import DedupConfig

_U64 = np.uint64
_MIX_BASE = np.uint64(0x100000001B3)  # FNV prime as polynomial base for hash combining


def _as_bytes(x) -> bytes:
    if x is None:
        return b""
    if isinstance(x, (bytes, bytearray)):
        return bytes(x)
    return str(x).encode("utf-8")


# ---------------------------------------------------------------------------
# H5 — shingling + batched MinHash signatures (north-rule extension)
# ---------------------------------------------------------------------------

def _shingle_hashes(unit_hashes: np.ndarray, k: int) -> np.ndarray:
    """w-shingles of k consecutive unit hashes → one u64 per shingle (polynomial
    combine, vectorized sliding window). len < k → single shingle over all units
    (so short docs still signature-match their exact duplicates)."""
    n = len(unit_hashes)
    if n == 0:
        return np.empty(0, dtype=_U64)
    k_eff = min(k, n)
    h = unit_hashes.astype(_U64)
    with np.errstate(over="ignore"):
        acc = np.zeros(n - k_eff + 1, dtype=_U64)
        for j in range(k_eff):
            acc = acc * _MIX_BASE + h[j:n - k_eff + 1 + j]
    return np.unique(acc)


def _char_shingle_hashes(blob: np.ndarray, n: int) -> np.ndarray:
    """Character n-gram shingles over a document's normalized unit stream
    (``blob``: its units joined by a single space as uint8, mirroring the
    reference's normalized output — quirk Q4): one u64 rolling hash per
    n-byte window, vectorized over the whole doc."""
    arr = blob.astype(_U64)
    if len(arr) <= n:
        windows = arr[None, :]
    else:
        windows = np.lib.stride_tricks.sliding_window_view(arr, n)
    with np.errstate(over="ignore"):
        acc = np.zeros(windows.shape[0], dtype=_U64)
        for j in range(windows.shape[1]):
            acc = acc * _MIX_BASE + windows[:, j]
    return np.unique(acc)


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 1 << 63, size=cfg.num_perm, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 1 << 63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


def _oph_signatures_from_shingle_sets(shingle_sets: list[np.ndarray],
                                      a0: np.uint64, b0: np.uint64,
                                      num_perm: int) -> np.ndarray:
    """One-permutation MinHash with OPTIMAL densification (Li et al. 2012;
    Shrivastava, "Optimal Densification for Fast and Accurate Minwise Hashing",
    ICML 2017).

    ONE multiply-shift pass over all shingles (vs num_perm passes for
    per-permutation MinHash):
    each shingle is hashed once, assigned to bin ``h % num_perm``, and the bin
    keeps its minimum. Empty bins probe a sequence of OTHER bins chosen by fixed
    per-attempt permutations (functions of the bin index only, shared across all
    sets) and copy the first non-empty bin's value plus ``attempt * C``. The
    per-attempt offset makes a densified bin match iff both sets borrowed from
    the same source bin at the same attempt — the unbiased construction. Rotation
    densification (ICML 2014) was measured here to CORRELATE adjacent bins on
    sparse sets (~25 shingles in 128 bins): one shared shingle could light up an
    entire band and candidate pairs exploded 31x; hashed probing decorrelates the
    band rows. Pure function of the shingle set: identical sets ⇒ identical
    signatures. Empty sets keep the all-max sentinel row.

    ``(a0, b0)`` is the first draw of :func:`_perm_params`, which the
    closed-form ``minhash_signatures`` oracle pins."""
    n = len(shingle_sets)
    P = num_perm
    MAX = np.iinfo(np.uint64).max
    C = _U64(0x9E3779B97F4A7C15)  # odd (golden-ratio) constant; wrapping u64
    mat = np.full((n, P), MAX, dtype=_U64)
    s_counts = np.fromiter((len(s) for s in shingle_sets), dtype=np.int64, count=n)
    total = int(s_counts.sum())
    if total:
        hs = np.concatenate([s for s in shingle_sets if len(s)]).view(_U64)
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), s_counts)
        with np.errstate(over="ignore"):
            hv = hs * a0 + b0
        bins = (hv % _U64(P)).astype(np.int64)
        flat = mat.reshape(-1)
        np.minimum.at(flat, doc_idx * P + bins, hv)
        mask = mat != MAX
        nonempty_rows = mask.any(axis=1)
        if not mask.all():
            dens = _optimal_densify(mat, mask, C)
            mat = np.where(mask, mat, dens)
            mat[~nonempty_rows] = MAX  # all-empty docs keep the sentinel row
    return mat.view(np.int64)


def _probe_tables(P: int, attempts: int) -> np.ndarray:
    """(attempts × P) probe targets: attempt k sends empty bin j to perm_k[j].
    Fixed (seeded by P alone) so every set shares the probe sequence — required
    for two sets to densify bin j from the SAME candidate source bins."""
    rng = np.random.default_rng(0xD1CE + P)
    return np.stack([rng.permutation(P) for _ in range(attempts)]).astype(np.int64)


_PROBE_ATTEMPTS = 24


def _optimal_densify(mat: np.ndarray, mask: np.ndarray, C: np.uint64) -> np.ndarray:
    """Fill empty bins by hashed-permutation probing against the ORIGINAL
    occupancy; ragged (only still-empty entries are touched each attempt).
    Entries unfilled after all attempts (P(miss)^attempts, negligible for any
    non-degenerate set) fall back to circular rotation with a distinct offset."""
    n, P = mat.shape
    probes = _probe_tables(P, _PROBE_ATTEMPTS)
    rows, cols = np.nonzero(~mask)
    dens = np.zeros(n * P, dtype=_U64)
    remaining = np.arange(rows.size)
    with np.errstate(over="ignore"):
        for k in range(_PROBE_ATTEMPTS):
            if remaining.size == 0:
                break
            r = rows[remaining]
            src = probes[k][cols[remaining]]
            ok = mask[r, src]
            hit = remaining[ok]
            dens[rows[hit] * P + cols[hit]] = (
                mat[rows[hit], probes[k][cols[hit]]] + _U64(k + 1) * C)
            remaining = remaining[~ok]
        if remaining.size:
            # rotation fallback for the unfilled tail (common for VERY sparse
            # sets: with 1 occupied bin of 128, each probe hits it w.p. 1/128,
            # so most entries exhaust the attempts): ONE vectorized pass — for
            # every remaining entry, index of the next non-empty bin to the
            # circular right via a reversed running-min over occupied-bin
            # indices, offset by attempts+distance so a fallback bin matches
            # iff both sets borrowed the same bin at the same distance.
            r, c = rows[remaining], cols[remaining]
            need_rows = np.unique(r)
            sub = np.searchsorted(need_rows, r)
            m2 = mask[need_rows]  # (k × P) occupancy of only the affected docs
            big = 2 * P
            ext_idx = np.where(np.concatenate([m2, m2], axis=1),
                               np.arange(big, dtype=np.int64)[None, :], big)
            nxt = np.minimum.accumulate(
                ext_idx[:, ::-1], axis=1)[:, ::-1]  # (k × 2P)
            take = np.minimum(nxt[sub, c + 1], big - 1)
            src_val = mat[need_rows[sub], take % P]
            dist = (take - c).astype(_U64)
            with np.errstate(over="ignore"):
                dens[r * P + c] = src_val + (_U64(_PROBE_ATTEMPTS) + dist) * C
    return dens.reshape(n, P)


def _doc_runs(doc_idx: np.ndarray):
    """(first, end, document) of each run of equal ``doc_idx``: the units of
    one document, which the flat kernel emits contiguously."""
    bounds = np.flatnonzero(np.diff(doc_idx) != 0) + 1
    starts = [0, *bounds.tolist()]
    return zip(starts, [*starts[1:], len(doc_idx)], doc_idx[starts].tolist())


def _shingle_sets_from_texts(raw: list[bytes], cfg: DedupConfig) -> list[np.ndarray]:
    """texts → per-doc sorted-unique shingle hash sets, from ONE flat-kernel
    extraction: unit shingles hash the units with ``fnv1a_flat``, char
    shingles read each document's units, space-joined, straight from the
    value buffer. No Python object is made per unit."""
    d, _u, v, o = kernel.extract_units_batch_flat(raw, cfg.mode, cfg.max_length)
    out = [np.empty(0, dtype=_U64)] * len(raw)
    if not len(d):
        return out
    if cfg.shingle_level == "char":
        for s0, s1, di in _doc_runs(d):
            blob = np.insert(v[o[s0]:o[s1]], o[s0 + 1:s1] - o[s0], 0x20)
            out[di] = _char_shingle_hashes(blob, cfg.char_ngram)
        return out
    uh = kernel.fnv1a_flat(v, o)
    for s0, s1, di in _doc_runs(d):
        out[di] = _shingle_hashes(uh[s0:s1], cfg.shingle_k)
    return out


def make_features_udf(cfg: DedupConfig):
    """FUSED text → struct(shingles: binary, sig: binary): extraction, shingling and
    MinHash in ONE Arrow round-trip (three chained pandas UDFs cost 3× serialization
    of the unit arrays). It serves the signature queries, which read ``sig``; the
    near-dup leg runs make_band_features_udf, which emits band hashes instead.

    The hash sets are PACKED as little-endian uint64 byte blobs, not array<long>:
    block-manager caching of per-element arrays was measured at ~20 s for 200k
    rows (serialization per element) vs ~1 s for two binary cells. Shingle blobs
    are sorted-unique u64; sig blobs are num_perm u64."""
    from pyspark.sql.types import StructField, StructType

    a, b = _perm_params(cfg)
    num_perm = cfg.num_perm
    schema = StructType([
        StructField("shingles", BinaryType()),
        StructField("sig", BinaryType()),
    ])

    @pandas_udf(schema)
    def features(texts: pd.Series) -> pd.DataFrame:
        shingle_sets = _shingle_sets_from_texts(
            [_as_bytes(t) for t in texts], cfg)
        sig = _oph_signatures_from_shingle_sets(
            shingle_sets, a[0], b[0], num_perm)
        return pd.DataFrame({
            "shingles": [s.tobytes() for s in shingle_sets],
            "sig": [row.tobytes() for row in sig],
        })

    return features


def _band_hashes_from_sig_matrix(mat: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n × num_perm) uint64 signature matrix → (n × bands) int64 band hashes."""
    n = mat.shape[0]
    cube = mat.reshape(n, bands, rows)
    with np.errstate(over="ignore"):
        acc = np.zeros((n, bands), dtype=_U64)
        for j in range(rows):
            acc = acc * _MIX_BASE + cube[:, :, j]
        # mix in the band index so identical row-slices in different bands
        # land in different buckets
        acc = acc * _MIX_BASE + np.arange(bands, dtype=_U64)[None, :]
    return acc.view(np.int64)


def make_band_features_udf(cfg: DedupConfig):
    """FULLY fused near-dup feature pass: text → struct(shingles: binary,
    bands: array<int64>).

    Extraction → shingling → MinHash → LSH band hashes in ONE Arrow round-trip;
    the 128-value signature never leaves the worker (only the ~32 band hashes and
    the packed shingle blob are emitted), so the persisted features table is
    ~2.5× smaller than with an explicit sig column and banding needs no second
    UDF pass. Shingles and signatures come from the same kernels as
    make_features_udf."""
    from pyspark.sql.types import StructField, StructType

    a, b = _perm_params(cfg)
    num_perm, bands, rows = cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows
    schema = StructType([
        StructField("shingles", BinaryType()),
        StructField("bands", ArrayType(LongType())),
    ])

    @pandas_udf(schema)
    def band_features(texts: pd.Series) -> pd.DataFrame:
        shingle_sets = _shingle_sets_from_texts(
            [_as_bytes(t) for t in texts], cfg)
        sig = _oph_signatures_from_shingle_sets(
            shingle_sets, a[0], b[0], num_perm).view(_U64)
        bh = _band_hashes_from_sig_matrix(sig, bands, rows)
        return pd.DataFrame({
            "shingles": [s.tobytes() for s in shingle_sets],
            "bands": list(bh),
        })

    # Pure, but a deterministic UDF lets the size(bands) > 0 filter Spark
    # infers for posexplode(bands) push below the projection and evaluate the
    # whole pass a second time on an uncached input (two ArrowEvalPython
    # nodes per branch in the physical plan); non-deterministic pins one.
    return band_features.asNondeterministic()


# ---------------------------------------------------------------------------
# SimHash (near-dup alternative; 64-bit, from unit hashes)
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """text → int64 SimHash: the sign of each bit's vote over the FNV-1a hashes
    of the document's sentence units (0 for a document without units)."""
    d, _u, v, o = kernel.extract_units_batch_flat(
        [_as_bytes(t) for t in texts])
    bits = (kernel.fnv1a_flat(v, o)[:, None]
            >> np.arange(64, dtype=_U64)[None, :]) & _U64(1)
    tally = np.zeros((len(texts), 64), dtype=np.int64)
    np.add.at(tally, d, bits.astype(np.int64) * 2 - 1)  # 0 → -1, 1 → +1
    out = np.bitwise_or.reduce(
        (tally > 0).astype(_U64) << np.arange(64, dtype=_U64), axis=1)
    return pd.Series(out.view(np.int64))


def make_sig_digest_udf(num_perm: int):
    """Packed sig blob → struct(sig_sum, sig_first): lane-sum mod 2^64 and lane 0,
    both bit-reinterpreted int64. One np.frombuffer over the concatenated batch
    (every blob is exactly num_perm u64), zero per-row Python. Oracle-digest
    support for q_minhash_signatures."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("sig_sum", LongType()),
        StructField("sig_first", LongType()),
    ])

    @pandas_udf(schema)
    def sig_digest(blobs: pd.Series) -> pd.DataFrame:
        n = len(blobs)
        if n == 0:
            return pd.DataFrame({"sig_sum": pd.Series([], dtype="int64"),
                                 "sig_first": pd.Series([], dtype="int64")})
        mat = np.frombuffer(b"".join(blobs), dtype=_U64).reshape(n, num_perm)
        with np.errstate(over="ignore"):
            sums = mat.sum(axis=1, dtype=_U64)
        return pd.DataFrame({"sig_sum": sums.view(np.int64),
                             "sig_first": mat[:, 0].view(np.int64).copy()})

    return sig_digest


# ---------------------------------------------------------------------------
# H2/H4 — rolling-hash window fingerprints over UTF-32 codepoints
# ---------------------------------------------------------------------------

def make_window_match_positions_udf(window: int, target_hash: int,
                                    base: int = kernel.SEARCH_HASH_BASE,
                                    add: int = 1):
    """text → array<int64> of positions whose window hash equals ``target_hash``.

    Single-query probe fused into the fingerprint kernel (r6): the unfused
    shape shipped EVERY position's hash through Arrow and streamed one JVM
    Generate+Filter row per position (~n_chars rows per document) just to keep
    the handful that match. Emitting only candidate positions makes the Arrow
    payload and the explode O(matches). Hash matches are still candidates
    only — callers must verify the substring (quirk Q6), exactly as before;
    the kernel (decode, rolling prefix, window subtraction) is byte-identical
    to :func:`make_window_fingerprints_udf`."""
    tgt = np.int64(target_hash)

    @pandas_udf(ArrayType(LongType()))
    def match_positions(texts: pd.Series) -> pd.Series:
        out = []
        empty = np.empty(0, dtype=np.int64)
        for t in texts:
            cps = kernel.utf8_decode_buffer(kernel.squash_newlines(_as_bytes(t)))
            n = len(cps)
            if n < window:
                out.append(empty)
                continue
            prefix, pow_ = kernel.rolling_prefix(cps, base, add)
            with np.errstate(over="ignore"):
                w = prefix[window:] - prefix[:-window] * pow_[window]
            out.append(np.flatnonzero(w.view(np.int64) == tgt))
        return pd.Series(out)

    return match_positions


def make_window_fingerprints_udf(window: int, base: int = kernel.SEARCH_HASH_BASE,
                                 add: int = 1):
    """text → array<int64> of rolling window hashes (positions implicit 0..n-window).

    Search-hash constants by default (ref: src/search_mode.c:114-149 — base
    1315423911, value = cp+1 so a leading U+0000 affects the hash).
    """

    @pandas_udf(ArrayType(LongType()))
    def window_fps(texts: pd.Series) -> pd.Series:
        out = []
        empty = np.empty(0, dtype=np.int64)
        for t in texts:
            cps = kernel.utf8_decode_buffer(kernel.squash_newlines(_as_bytes(t)))
            n = len(cps)
            if n < window:
                out.append(empty)
                continue
            prefix, pow_ = kernel.rolling_prefix(cps, base, add)
            # one sliding-window subtraction, no per-position loop; kept as a numpy
            # array — Arrow ingests it directly (a .tolist() would box every hash)
            with np.errstate(over="ignore"):
                w = prefix[window:] - prefix[:-window] * pow_[window]
            out.append(w.view(np.int64))
        return pd.Series(out)

    # Pure, but a deterministic UDF lets the size(fps) > 0 filter Spark
    # infers for posexplode(fps) push below the projection and evaluate the
    # whole pass a second time on an uncached input (two ArrowEvalPython
    # nodes in the search probe plan); non-deterministic pins one.
    return window_fps.asNondeterministic()
