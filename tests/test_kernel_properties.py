"""Property-based invariants of the parity kernels (pure Python, fast)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from corpus_dedup_spark import kernel

any_bytes = st.binary(max_size=400)
texty = st.text(max_size=300).map(lambda s: s.encode("utf-8"))


@given(any_bytes)
@settings(max_examples=300)
def test_squash_preserves_length_and_kills_newlines(data):
    out = kernel.squash_newlines(data)
    assert len(out) == len(data)
    assert b"\n" not in out and b"\r" not in out


@given(any_bytes)
@settings(max_examples=300)
def test_sentence_spans_are_disjoint_ordered_in_bounds(data):
    sq = kernel.squash_newlines(data)
    spans = kernel.split_sentences(sq)
    prev_end = 0
    for start, ln in spans:
        assert ln > 0
        assert 0 <= start and start + ln <= len(sq)
        assert start >= prev_end  # ordered, non-overlapping
        prev_end = start + ln


@given(any_bytes)
@settings(max_examples=300)
def test_spans_cover_all_non_whitespace(data):
    """Every byte > 0x20 (and every non-whitespace codepoint) lands in some span —
    the splitter never drops content, only inter-sentence whitespace."""
    sq = kernel.squash_newlines(data)
    spans = kernel.split_sentences(sq)
    covered = bytearray(len(sq))
    for s, ln in spans:
        covered[s:s + ln] = b"\x01" * ln
    for i, b in enumerate(sq):
        if b > 0x20 and b < 0x80:
            assert covered[i], (i, sq)


@given(any_bytes)
@settings(max_examples=300)
def test_normalize_idempotent_and_bounded(data):
    once = kernel.normalize_unit(data)
    assert kernel.normalize_unit(once) == once
    assert len(once) <= len(data)
    if once:
        assert once[0] > 0x20 and once[-1] > 0x20
        assert b"  " not in once


@given(any_bytes, st.integers(min_value=1, max_value=50))
@settings(max_examples=200)
def test_truncation_is_prefix(data, maxlen):
    full = kernel.normalize_unit(data)
    cut = kernel.normalize_unit(data, max_length=maxlen)
    assert cut == full[:maxlen]


@given(texty)
@settings(max_examples=200)
def test_extract_units_deterministic_and_normalized(data):
    a = kernel.extract_units(data)
    b = kernel.extract_units(data)
    assert a == b
    for u in a:
        assert u == kernel.normalize_unit(u)  # already normalized
        assert u != b""


@given(st.lists(st.binary(max_size=60), max_size=30))
@settings(max_examples=150)
def test_fnv_vectorized_matches_scalar(units):
    offsets = np.cumsum([0] + [len(u) for u in units])
    vec = kernel.fnv1a_flat(np.frombuffer(b"".join(units), np.uint8), offsets)
    assert [int(v) for v in vec] == [kernel.fnv1a(u) for u in units]


@given(texty, st.integers(min_value=0, max_value=200), st.integers(min_value=0, max_value=200))
@settings(max_examples=150)
def test_window_hash_equals_direct_horner(data, a, b):
    cps = kernel.utf8_decode_buffer(data)
    n = len(cps)
    if n == 0:
        return
    s, e = sorted((a % (n + 1), b % (n + 1)))
    prefix, pow_ = kernel.rolling_prefix(cps, kernel.BLOCK_HASH_BASE)
    direct = 0
    for c in cps[s:e]:
        direct = (direct * 31 + int(c)) % (1 << 64)
    assert int(kernel.window_hashes(prefix, pow_, np.array([s]),
                                        np.array([e - s]))[0]) == direct


# ---------------------------------------------------------------------------
# Batched fast paths ≡ scalar automaton (the r2 vectorization contract)
# ---------------------------------------------------------------------------

# mixes ASCII terminator/closer/abbrev soup with CJK terminators and invalid bytes
_splitter_soup = st.lists(
    st.one_of(
        st.sampled_from([b"mr.", b"etc.", b"Dr. x", b"a.b", b"ab. cd", b"!!!",
                         b"...", b"?)", b".' ", b"  ", b"\x00\x01", b"st. a",
                         b"\xe3\x80\x82", b"\xff", b"caf\xc3\xa9. ok"]),
        st.binary(max_size=4),
    ),
    max_size=40,
).map(b"".join)


@given(texty)
@settings(max_examples=200, deadline=None)
def test_rolling_prefix_matches_horner_loop(data):
    cps = kernel.utf8_decode_buffer(data)
    for base, add in ((kernel.BLOCK_HASH_BASE, 0), (kernel.SEARCH_HASH_BASE, 1)):
        prefix, pow_ = kernel.rolling_prefix(cps, base, add)
        acc, p = 0, 1
        for i, c in enumerate(cps):
            acc = (acc * base + int(c) + add) % (1 << 64)
            p = (p * base) % (1 << 64)
            assert int(prefix[i + 1]) == acc
            assert int(pow_[i + 1]) == p


@given(st.one_of(st.binary(max_size=200),
                 st.text(max_size=80).map(lambda s: s.encode("utf-8"))))
@settings(max_examples=400, deadline=None)
def test_utf8_decode_vec_matches_scalar_advance(data):
    got = kernel.utf8_decode_buffer(data)
    out, i, n = [], 0, len(data)
    while i < n:
        cp, adv, _ = kernel.utf8_decode_advance(data, i, n)
        out.append(cp)
        i += adv
    assert got.tolist() == out


def _flat_units_by_doc(flat) -> dict[int, list[bytes]]:
    """Flat kernel output → {doc: units in unit_idx order}."""
    d, u, v, o = flat
    got: dict[int, list[tuple[int, bytes]]] = {}
    for k in range(len(d)):
        got.setdefault(int(d[k]), []).append((int(u[k]), bytes(v[o[k]:o[k + 1]])))
    return {i: [b for _, b in sorted(units)] for i, units in got.items()}


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.text(min_size=0, max_size=120).map(str.encode),
                          _splitter_soup), min_size=0, max_size=12),
       st.sampled_from([0, 5, 40]))
def test_extract_units_batch_flat_matches_lists(raw, max_length):
    """The batch kernel ≡ the scalar extract_units per document, on text and
    on splitter soup (abbreviations, closers, CJK terminators, invalid
    bytes)."""
    ref = [kernel.extract_units(t, "sentence", max_length) for t in raw]
    got = _flat_units_by_doc(
        kernel.extract_units_batch_flat(raw, "sentence", max_length))
    assert got == {i: units for i, units in enumerate(ref) if units}


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=0, max_size=12),
       st.sampled_from(["line", "paragraph", "document"]),
       st.sampled_from([0, 5, 40]))
def test_extract_units_batch_flat_nonsentence_matches_scalar(
        texts, mode, max_length):
    """Non-sentence modes in the flat batch path ≡ the scalar extract_units
    per doc (incl. the U2 degeneracy: post-squash, line/paragraph collapse to
    one whole-document unit)."""
    raw = [t.encode("utf-8") for t in texts]
    ref = [kernel.extract_units(t, mode, max_length) for t in raw]
    got = _flat_units_by_doc(
        kernel.extract_units_batch_flat(raw, mode, max_length))
    assert got == {i: units for i, units in enumerate(ref) if units}


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(min_size=0, max_size=120)),
                min_size=0, max_size=12),
       st.sampled_from(["sentence", "line", "document"]),
       st.sampled_from([0, 5, 40]),
       st.integers(0, 3))
def test_extract_units_batch_flat_arrow_matches_lists(
        texts, mode, max_length, lead):
    """The per-batch body of explode_units_arrow (Arrow batch in, Arrow
    batch of (id, unit_idx, norm_unit) out) ≡ the scalar extract_units per
    document on any input: NULL texts have no units, and a sliced batch whose
    arrays start at a non-zero Arrow offset reads its own rows only."""
    import pyarrow as pa

    from corpus_dedup_spark.operators.exact_dedup import _explode_batch

    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(-lead, len(texts)), type=pa.int64()),
         pa.array(["pad. lead"] * lead + texts, type=pa.string())],
        names=["id", "text"]).slice(lead)
    assert batch.column(1).offset == lead
    got: dict[int, list[tuple[int, bytes]]] = {}
    for r in _explode_batch(batch, mode, max_length, "text", "id").to_pylist():
        got.setdefault(r["id"], []).append((r["unit_idx"], r["norm_unit"]))
    ref = [kernel.extract_units((t or "").encode("utf-8"), mode, max_length)
           for t in texts]
    assert {i: [b for _, b in sorted(units)] for i, units in got.items()} \
        == {i: units for i, units in enumerate(ref) if units}


# ---------------------------------------------------------------------------
# Mersenne-61 second hash family (shared-block double-hash verify)
# ---------------------------------------------------------------------------

@given(st.lists(st.integers(0, kernel.MERSENNE61 - 1), min_size=2, max_size=40))
@settings(max_examples=300, deadline=None)
def test_mulmod61_matches_int_math(vals):
    a = np.array(vals[: len(vals) // 2], dtype=np.uint64)
    b = np.array(vals[len(vals) // 2: 2 * (len(vals) // 2)], dtype=np.uint64)
    got = kernel.mulmod61(a, b)
    for i in range(len(a)):
        assert int(got[i]) == (int(a[i]) * int(b[i])) % kernel.MERSENNE61


@given(st.text(min_size=1, max_size=200), st.integers(1, 12))
@settings(max_examples=200, deadline=None)
def test_window_hashes_mod61_match_horner(text, window):
    cps = kernel.utf8_decode_buffer(text.encode("utf-8"))
    n = len(cps)
    if n < window:
        return
    S, pw = kernel.rolling_prefix_mod61(cps, add=1)
    starts = np.arange(n - window + 1, dtype=np.int64)
    got = kernel.window_hashes_mod61(
        S, pw, starts, np.full(starts.size, window, np.int64))
    for s in range(0, n - window + 1, max(1, (n - window) // 5 or 1)):
        h = 0
        for k in range(window):
            h = (h * kernel.MOD61_BASE + int(cps[s + k]) + 1) % kernel.MERSENNE61
        assert int(got[s]) == h
    # position independence: equal content windows hash equal
    for s in range(n - window):
        if np.array_equal(cps[s:s + window], cps[s + 1:s + 1 + window]):
            assert got[s] == got[s + 1]


# dense splitter fuzz: terminators/closers/ws/invalid bytes at high density
# exercise every branch of the batch splitter, over codepoints and (for the
# pure-ASCII alphabet) over bytes; the 30-long runs outlast the 24 vectorized
# rounds of the run and class skips, so their scalar fallbacks run too
_RUNS = [c * 30 for c in ".) "]
_UNI_ALPHABET = st.sampled_from(
    list("ab cz.!?\"')]}。？！…؟｡」»"
         "’  　д文z ")
    + ["mr.", "etc.", "st. ", "」" * 30] + _RUNS
)
_ASCII_ALPHABET = st.sampled_from(
    list("ab cz.!?\"')]}") + ["mr.", "etc.", "st. "] + _RUNS)


@given(st.one_of(*(st.lists(st.lists(a, max_size=40).map("".join), max_size=6)
                   for a in (_UNI_ALPHABET, _ASCII_ALPHABET))),
       st.sampled_from([0, 7]))
@settings(max_examples=300, deadline=None)
def test_unicode_dense_batch_matches_scalar(texts, max_length):
    raw = [t.encode("utf-8") for t in texts]
    # inject invalid bytes deterministically
    raw = [b"\x80" + t + b"\xc3" if i % 3 == 0 else t
           for i, t in enumerate(raw)]
    ref = [kernel.extract_units(t, "sentence", max_length) for t in raw]
    got = _flat_units_by_doc(
        kernel.extract_units_batch_flat(raw, "sentence", max_length))
    assert got == {i: units for i, units in enumerate(ref) if units}


def _simhash_scalar(text: str | None) -> int:
    """SimHash by definition: per bit, +1 for each unit whose FNV-1a hash
    has it set, -1 otherwise; the bit is set when the sum is positive."""
    tally = [0] * 64
    for unit in kernel.extract_units((text or "").encode()):
        h = kernel.fnv1a(unit)
        for b in range(64):
            tally[b] += 1 if h >> b & 1 else -1
    v = sum(1 << b for b in range(64) if tally[b] > 0)
    return v - (1 << 64) if v >= 1 << 63 else v


@given(st.lists(st.one_of(st.none(), st.text(max_size=120),
                          st.lists(st.sampled_from(
                              ["Same one. ", "Other two! ", "ünï three? "]),
                              max_size=8).map("".join)),
                max_size=10))
@settings(max_examples=100, deadline=None)
def test_simhash_udf_matches_scalar_votes(texts):
    """The batched SimHash UDF (flat kernel, per-document vote tally) ≡ the
    scalar definition, on multi-unit documents, empty and NULL texts."""
    import pandas as pd

    from corpus_dedup_spark.functions.udfs import simhash_udf

    got = simhash_udf.func(pd.Series(texts, dtype=object)).tolist()
    assert got == [_simhash_scalar(t) for t in texts]


# --- vectorized batch ops ≡ scalar oracles -------------------------------------

@given(st.lists(st.tuples(
    st.sets(st.integers(0, 2**64 - 1), max_size=40),
    st.sets(st.integers(0, 2**64 - 1), max_size=40),
    st.sets(st.integers(0, 2**64 - 1), max_size=12),  # forced-shared values
), max_size=12))
@settings(max_examples=200, deadline=None)
def test_inter_union_batch_matches_naive(pairs):
    """The one-lexsort batched |A∩B|/|A∪B| (minhash_lsh._inter_union_batch)
    equals per-pair np.intersect1d for arbitrary sorted-unique u64 sets."""
    from corpus_dedup_spark.operators.minhash_lsh import _inter_union_batch

    blobs_a, blobs_b = [], []
    for a, b, shared in pairs:
        va = np.array(sorted(a | shared), dtype=np.uint64)
        vb = np.array(sorted(b | shared), dtype=np.uint64)
        blobs_a.append(va.tobytes() if va.size else None)
        blobs_b.append(vb.tobytes())
    ni, nu = _inter_union_batch(blobs_a, blobs_b)
    assert len(ni) == len(pairs)
    for i, (a, b, shared) in enumerate(pairs):
        A, B = a | shared, b | shared
        assert ni[i] == len(A & B)
        assert nu[i] == len(A | B)


def _elect_leaders_naive(cps, cs, cl, h):
    """The r3 per-group Python election (reference scan semantics,
    src/block_tree_core.c:320-349) kept as the property-test oracle."""
    order = np.lexsort((cs, cl, h))
    oh, ol = h[order], cl[order]
    change = np.flatnonzero((oh[1:] != oh[:-1]) | (ol[1:] != ol[:-1])) + 1
    g_starts = np.concatenate([[0], change]) if order.size else np.array([], np.int64)
    g_ends = np.concatenate([change, [order.size]]) if order.size else g_starts
    marked = np.ones(cs.size, bool)
    target = np.full(cs.size, -1, np.int64)
    for g0, g1 in zip(g_starts.tolist(), g_ends.tolist()):
        if g1 - g0 < 2:
            continue
        idxs = order[g0:g1]
        L = int(cl[idxs[0]])
        leaders = [int(idxs[0])]
        for t in idxs[1:].tolist():
            st_ = int(cs[t])
            for ld in leaders:
                ls = int(cs[ld])
                if np.array_equal(cps[st_:st_ + L], cps[ls:ls + L]):
                    marked[t] = False
                    target[t] = ls
                    break
            else:
                leaders.append(t)
    return marked, target


@given(st.text(alphabet="abABé", min_size=0, max_size=120),
       st.integers(2, 16), st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_elect_leaders_matches_naive(text, window, stride):
    """Vectorized leader election (block_tree._elect_leaders) ≡ the per-group
    scan, including under FORCED hash collisions (h mod 3): content compare,
    not the hash, must decide classes — quirk Q6."""
    from corpus_dedup_spark.operators.block_tree import _elect_leaders

    cps = kernel.utf8_decode_buffer(text.encode("utf-8"))
    n = len(cps)
    if n < window:
        return
    prefix, pow_ = kernel.rolling_prefix(cps, kernel.BLOCK_HASH_BASE)
    cs = np.arange(0, n - window + 1, stride, dtype=np.int64)
    cl = np.full(cs.size, window, np.int64)
    h = kernel.window_hashes(prefix, pow_, cs, cl) % np.uint64(3)
    got_m, got_t = _elect_leaders(cps, cs, cl, h)
    exp_m, exp_t = _elect_leaders_naive(cps, cs, cl, h)
    assert np.array_equal(got_m, exp_m)
    # both store the leader's START POSITION in target
    assert np.array_equal(got_t, exp_t)
