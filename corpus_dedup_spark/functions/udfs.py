"""Vectorized pandas/Arrow UDFs wrapping the parity kernels.

Per the input hint: pyspark.sql DataFrame + vectorized pandas/Arrow UDFs throughout, no
per-row Python UDFs. Every UDF here is Arrow-batched; inner loops are numpy or tight
C-backed bytes/regex operations from :mod:`corpus_dedup_spark.kernel`.

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
# U1+U5+U6 — unit extraction (squash → split → normalize → truncate → drop empty)
# ---------------------------------------------------------------------------

def make_extract_units_udf(mode: str = "sentence", max_length: int = 0):
    """text (string|binary) → array<binary> of normalized units, document order.

    This is the byte-identical-per-url invariant kernel (ref: src/sentence_splitter.c:
    277-401, src/text_utils.c:7-34, src/io_utils.c:68-88, src/dedup.c:297-366).
    """

    @pandas_udf(ArrayType(BinaryType()))
    def extract_units(texts: pd.Series) -> pd.Series:
        batch = kernel.extract_units_batch(
            [_as_bytes(t) for t in texts], mode, max_length)
        return pd.Series(batch)

    return extract_units


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


def _char_shingle_hashes(units: list[bytes], n: int) -> np.ndarray:
    """Character n-gram shingles over the normalized unit stream (units joined by a
    single space, mirroring the reference's normalized output — quirk Q4): one u64
    rolling hash per n-byte window, vectorized over the whole doc."""
    blob = b" ".join(units)
    if not blob:
        return np.empty(0, dtype=_U64)
    arr = np.frombuffer(blob, dtype=np.uint8).astype(_U64)
    if len(arr) <= n:
        windows = arr[None, :]
    else:
        windows = np.lib.stride_tricks.sliding_window_view(arr, min(n, len(arr)))
    with np.errstate(over="ignore"):
        acc = np.zeros(windows.shape[0], dtype=_U64)
        for j in range(windows.shape[1]):
            acc = acc * _MIX_BASE + windows[:, j]
    return np.unique(acc)


def _doc_shingles(units: list[bytes], unit_hashes: np.ndarray,
                  cfg: DedupConfig) -> np.ndarray:
    if cfg.shingle_level == "char":
        return _char_shingle_hashes(units, cfg.char_ngram)
    return _shingle_hashes(unit_hashes, cfg.shingle_k)


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 1 << 63, size=cfg.num_perm, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 1 << 63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


def _signatures_from_shingle_sets(shingle_sets: list[np.ndarray],
                                  a_params: np.ndarray, b_params: np.ndarray,
                                  num_perm: int) -> np.ndarray:
    """Batched MinHash: one (S_total × P) numpy pass for a whole Arrow batch.
    Empty sets get the max-uint64 sentinel signature."""
    n = len(shingle_sets)
    s_counts = np.fromiter((len(s) for s in shingle_sets), dtype=np.int64, count=n)
    total = int(s_counts.sum())
    out = np.full((n, num_perm), np.iinfo(np.uint64).max, dtype=_U64)
    if total:
        hs = np.concatenate([s for s in shingle_sets if len(s)])
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(s_counts[:-1], out=starts[1:])
        nonempty = s_counts > 0
        ne_starts = starts[nonempty]
        with np.errstate(over="ignore"):
            for p0 in range(0, num_perm, 16):
                p1 = min(p0 + 16, num_perm)
                m = hs[:, None] * a_params[None, p0:p1] + b_params[None, p0:p1]
                out[nonempty, p0:p1] = np.minimum.reduceat(m, ne_starts, axis=0)
    return out.view(np.int64)


def _oph_signatures_from_shingle_sets(shingle_sets: list[np.ndarray],
                                      a0: np.uint64, b0: np.uint64,
                                      num_perm: int) -> np.ndarray:
    """One-permutation MinHash with OPTIMAL densification (Li et al. 2012;
    Shrivastava, "Optimal Densification for Fast and Accurate Minwise Hashing",
    ICML 2017).

    ONE multiply-shift pass over all shingles (vs num_perm passes classically):
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
    signatures. Empty sets keep the all-max sentinel row, as in the classic
    scheme."""
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


def _signatures(shingle_sets: list[np.ndarray], a_params: np.ndarray,
                b_params: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """Scheme dispatcher — see DedupConfig.minhash_scheme."""
    if cfg.minhash_scheme == "oph":
        return _oph_signatures_from_shingle_sets(
            shingle_sets, a_params[0], b_params[0], cfg.num_perm)
    return _signatures_from_shingle_sets(
        shingle_sets, a_params, b_params, cfg.num_perm)



def _shingle_sets_from_texts(raw: list[bytes], cfg: DedupConfig) -> list[np.ndarray]:
    """texts → per-doc sorted-unique shingle hash sets.

    Unit-level shingles need only the per-unit FNV hashes, so the flat kernel
    path (extract_units_batch_flat + fnv1a_flat) runs with ZERO per-unit Python
    objects; char-level shingles need the unit bytes and use the list path."""
    n = len(raw)
    if cfg.shingle_level == "unit":
        d, _u, v, o = kernel.extract_units_batch_flat(raw, cfg.mode, cfg.max_length)
        uh = kernel.fnv1a_flat(v, o)
        out = [np.empty(0, dtype=_U64)] * n
        if len(d):
            bounds = np.flatnonzero(np.diff(d) != 0) + 1
            starts = np.concatenate([[0], bounds]).astype(np.int64)
            ends = np.concatenate([bounds, [len(d)]]).astype(np.int64)
            k = cfg.shingle_k
            for s0, s1, di in zip(starts.tolist(), ends.tolist(),
                                  d[starts].tolist()):
                out[di] = _shingle_hashes(uh[s0:s1], k)
        return out
    unit_lists = kernel.extract_units_batch(raw, cfg.mode, cfg.max_length)
    counts = [len(vv) for vv in unit_lists]
    flat = [u for vv in unit_lists for u in vv]
    uh_all = kernel.fnv1a_many(flat)
    out = []
    pos = 0
    for units, c in zip(unit_lists, counts):
        out.append(_doc_shingles(units, uh_all[pos:pos + c], cfg))
        pos += c
    return out


def make_features_udf(cfg: DedupConfig):
    """FUSED text → struct(shingles: binary, sig: binary): extraction, shingling and
    MinHash in ONE Arrow round-trip (three chained pandas UDFs cost 3× serialization
    of the unit arrays; the fused kernel is the near-dup hot path).

    The hash sets are PACKED as little-endian uint64 byte blobs, not array<long>:
    the features table is persisted once and read by both the banding and the
    verify join, and block-manager caching of per-element arrays was measured at
    ~20 s for 200k rows (serialization per element) vs ~1 s for two binary cells.
    Shingle blobs are sorted-unique u64; sig blobs are num_perm u64."""
    from pyspark.sql.types import StructField, StructType

    a_params, b_params = _perm_params(cfg)
    num_perm = cfg.num_perm
    mode, max_length = cfg.mode, cfg.max_length
    schema = StructType([
        StructField("shingles", BinaryType()),
        StructField("sig", BinaryType()),
    ])

    @pandas_udf(schema)
    def features(texts: pd.Series) -> pd.DataFrame:
        shingle_sets = _shingle_sets_from_texts(
            [_as_bytes(t) for t in texts], cfg)
        sig = _signatures(shingle_sets, a_params, b_params, cfg)
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
    UDF pass. Identical semantics to make_features_udf + make_band_hashes_udf
    (shared kernels)."""
    from pyspark.sql.types import StructField, StructType

    a_params, b_params = _perm_params(cfg)
    num_perm, bands, rows = cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows
    mode, max_length = cfg.mode, cfg.max_length
    schema = StructType([
        StructField("shingles", BinaryType()),
        StructField("bands", ArrayType(LongType())),
    ])

    @pandas_udf(schema)
    def band_features(texts: pd.Series) -> pd.DataFrame:
        shingle_sets = _shingle_sets_from_texts(
            [_as_bytes(t) for t in texts], cfg)
        sig = _signatures(shingle_sets, a_params, b_params, cfg).view(_U64)
        bh = _band_hashes_from_sig_matrix(sig, bands, rows)
        return pd.DataFrame({
            "shingles": [s.tobytes() for s in shingle_sets],
            "bands": list(bh),
        })

    return band_features


def make_band_hashes_udf(cfg: DedupConfig):
    """binary signature blob (num_perm × u64) → array<int64> of lsh_bands band
    hashes. One frombuffer+reshape per Arrow batch — no per-row parsing."""
    bands, rows = cfg.lsh_bands, cfg.lsh_rows

    @pandas_udf(ArrayType(LongType()))
    def band_hashes(sigs: pd.Series) -> pd.Series:
        if len(sigs) == 0:
            return pd.Series([], dtype=object)
        mat = np.frombuffer(
            b"".join(bytes(s) for s in sigs), dtype=_U64
        ).reshape(len(sigs), bands * rows)
        return pd.Series(list(_band_hashes_from_sig_matrix(mat, bands, rows)))

    return band_hashes


# ---------------------------------------------------------------------------
# SimHash (near-dup alternative; 64-bit, from unit hashes)
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def simhash_udf(unit_lists: pd.Series) -> pd.Series:
    """array<binary> units → int64 SimHash: sign of per-bit vote over unit FNV hashes."""
    lists = [v if v is not None else [] for v in unit_lists]
    counts = [len(v) for v in lists]
    flat = [_as_bytes(u) for v in lists for u in v]
    uh = kernel.fnv1a_many(flat)
    bits = ((uh[:, None] >> np.arange(64, dtype=_U64)[None, :]) & _U64(1)).astype(np.int64)
    votes = bits * 2 - 1  # 0 → -1, 1 → +1
    out = np.zeros(len(lists), dtype=np.uint64)
    pos = 0
    for i, c in enumerate(counts):
        if c:
            tally = votes[pos:pos + c].sum(axis=0)
            out[i] = np.bitwise_or.reduce(
                np.where(tally > 0, _U64(1), _U64(0)) << np.arange(64, dtype=_U64)
            )
        pos += c
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

    return window_fps
