"""Pure-Python/numpy parity kernels — the executable spec of the reference semantics.

Every function here is a from-scratch reimplementation of behavior observed in the
reference (``/root/reference``, cited per-function as file:line). These kernels are the
single source of truth for both the pytest golden tests and the vectorized pandas UDFs in
:mod:`corpus_dedup_spark.functions.udfs`. They operate on **bytes**, because the reference
is byte-oriented (UTF-8 is not validated for dedup; invalid sequences must survive).

No code is copied from the reference — these are clean-room ports of the *semantics*.
"""

from __future__ import annotations

import re

import numpy as np


def _tune_allocator() -> None:
    """Keep freed large malloc blocks in-process (glibc brk heap) instead of
    returning them to the OS.

    The vectorized kernels allocate tens of MB of fresh buffers per Arrow batch.
    By default glibc serves >128 KB allocations via mmap and unmaps them on free,
    so EVERY batch pays first-touch page faults on this class of hosts (measured
    here: 4.3 s cold vs 0.02 s reused for one batch's buffers — and concurrent
    workers serialize on kernel page zeroing, destroying core scaling). Raising
    the mmap/trim thresholds makes the allocator reuse the heap across batches:
    same fix class as shipping jemalloc/tcmalloc with production Spark workers.
    No-op on non-glibc platforms. Costs only RSS high-water, not correctness.
    """
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD: big allocs from brk heap
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD: don't shrink heap on free
    except Exception:
        pass


_tune_allocator()

# ---------------------------------------------------------------------------
# Q1 — newline squash at read time (ref: src/io_utils.c:68-88)
# ---------------------------------------------------------------------------

_SQUASH_TABLE = bytes(
    0x20 if b in (0x0A, 0x0D) else b for b in range(256)
)


def squash_newlines(data: bytes) -> bytes:
    """Replace every ``\\n``/``\\r`` byte with a space, as the reference does at
    file-read time (src/io_utils.c:68-88). All splitting modes see squashed text."""
    return data.translate(_SQUASH_TABLE)


# ---------------------------------------------------------------------------
# UTF-8 decode with U+FFFD for invalid (ref: src/utf8.c:5-58)
# ---------------------------------------------------------------------------

def utf8_decode_advance(data: bytes, i: int, n: int) -> tuple[int, int, bool]:
    """Decode one codepoint at ``data[i:]``; return (codepoint, advance, invalid).

    Mirrors src/utf8.c:5-58: invalid/overlong/surrogate/truncated sequences yield
    (0xFFFD, 1, True); valid multibyte advances by its length. ASCII never invalid.
    """
    b0 = data[i]
    if b0 < 0x80:
        return b0, 1, False
    if (b0 & 0xE0) == 0xC0 and n - i >= 2:
        b1 = data[i + 1]
        if (b1 & 0xC0) == 0x80:
            cp = ((b0 & 0x1F) << 6) | (b1 & 0x3F)
            if cp >= 0x80:
                return cp, 2, False
    elif (b0 & 0xF0) == 0xE0 and n - i >= 3:
        b1, b2 = data[i + 1], data[i + 2]
        if (b1 & 0xC0) == 0x80 and (b2 & 0xC0) == 0x80:
            cp = ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
            if cp >= 0x800 and not (0xD800 <= cp <= 0xDFFF):
                return cp, 3, False
    elif (b0 & 0xF8) == 0xF0 and n - i >= 4:
        b1, b2, b3 = data[i + 1], data[i + 2], data[i + 3]
        if (b1 & 0xC0) == 0x80 and (b2 & 0xC0) == 0x80 and (b3 & 0xC0) == 0x80:
            cp = (
                ((b0 & 0x07) << 18)
                | ((b1 & 0x3F) << 12)
                | ((b2 & 0x3F) << 6)
                | (b3 & 0x3F)
            )
            if 0x10000 <= cp <= 0x10FFFF:
                return cp, 4, False
    return 0xFFFD, 1, True


def utf8_decode_buffer(data: bytes) -> np.ndarray:
    """Decode a whole buffer to a uint32 codepoint array, invalid → U+FFFD
    (ref: src/utf8.c:60-100). Used by block-fingerprint and search stages only."""
    # Fast path: pure ASCII.
    if not data:
        return np.empty(0, dtype=np.uint32)
    arr = np.frombuffer(data, dtype=np.uint8)
    if (arr < 0x80).all():
        return arr.astype(np.uint32)
    return _utf8_decode_vec(arr)


def utf8_decode_buffer_pos(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Like :func:`utf8_decode_buffer` but also returns each codepoint's BYTE
    start position — the bridge that lets the codepoint-level splitter emit
    byte spans over the original buffer."""
    if not data:
        return np.empty(0, dtype=np.uint32), np.empty(0, dtype=np.int64)
    arr = np.frombuffer(data, dtype=np.uint8)
    if (arr < 0x80).all():
        return arr.astype(np.uint32), np.arange(len(arr), dtype=np.int64)
    return _utf8_decode_vec_pos(arr)


def _utf8_decode_vec(arr: np.ndarray) -> np.ndarray:
    """Vectorized decode, bit-identical to the scalar advance loop.

    UTF-8 is self-synchronizing: valid sequences have non-continuation leads and
    continuation interiors, so every non-continuation byte is a sequence start, and
    a continuation byte is consumed iff a VALID sequence starting ≤3 bytes to its
    left covers it — no sequential scan needed. Invalid leads (and uncovered
    continuations) decode to one U+FFFD each and advance 1, exactly like
    :func:`utf8_decode_advance` (zero padding makes truncated tails invalid).

    Property-tested byte-for-byte against the scalar loop
    (tests/test_kernel_properties.py).
    """
    n = arr.shape[0]
    pad = np.zeros(n + 3, dtype=np.uint8)
    pad[:n] = arr
    b0 = arr.astype(np.uint32)
    b1 = pad[1:n + 1].astype(np.uint32)
    b2 = pad[2:n + 2].astype(np.uint32)
    b3 = pad[3:n + 3].astype(np.uint32)
    c1 = (pad[1:n + 1] & 0xC0) == 0x80
    c2 = (pad[2:n + 2] & 0xC0) == 0x80
    c3 = (pad[3:n + 3] & 0xC0) == 0x80
    ascii_ = arr < 0x80
    lead2 = (arr & 0xE0) == 0xC0
    lead3 = (arr & 0xF0) == 0xE0
    lead4 = (arr & 0xF8) == 0xF0
    cp2 = ((b0 & 0x1F) << 6) | (b1 & 0x3F)
    cp3 = ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
    cp4 = (((b0 & 0x07) << 18) | ((b1 & 0x3F) << 12)
           | ((b2 & 0x3F) << 6) | (b3 & 0x3F))
    v2 = lead2 & c1 & (cp2 >= 0x80)
    v3 = lead3 & c1 & c2 & (cp3 >= 0x800) & ~((cp3 >= 0xD800) & (cp3 <= 0xDFFF))
    v4 = lead4 & c1 & c2 & c3 & (cp4 >= 0x10000) & (cp4 <= 0x10FFFF)
    cont = (arr & 0xC0) == 0x80
    covered = np.zeros(n, dtype=bool)
    covered[1:] = v2[:-1] | v3[:-1] | v4[:-1]
    covered[2:] |= v3[:-2] | v4[:-2]
    covered[3:] |= v4[:-3]
    is_start = ~cont | ~covered
    cp = np.where(
        ascii_, b0,
        np.where(v2, cp2,
                 np.where(v3, cp3,
                          np.where(v4, cp4, np.uint32(0xFFFD)))))
    return cp[is_start]


def _utf8_decode_vec_pos(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_utf8_decode_vec` variant returning (codepoints, byte positions)."""
    n = arr.shape[0]
    pad = np.zeros(n + 3, dtype=np.uint8)
    pad[:n] = arr
    b0 = arr.astype(np.uint32)
    b1 = pad[1:n + 1].astype(np.uint32)
    b2 = pad[2:n + 2].astype(np.uint32)
    b3 = pad[3:n + 3].astype(np.uint32)
    c1 = (pad[1:n + 1] & 0xC0) == 0x80
    c2 = (pad[2:n + 2] & 0xC0) == 0x80
    c3 = (pad[3:n + 3] & 0xC0) == 0x80
    ascii_ = arr < 0x80
    lead2 = (arr & 0xE0) == 0xC0
    lead3 = (arr & 0xF0) == 0xE0
    lead4 = (arr & 0xF8) == 0xF0
    cp2 = ((b0 & 0x1F) << 6) | (b1 & 0x3F)
    cp3 = ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
    cp4 = (((b0 & 0x07) << 18) | ((b1 & 0x3F) << 12)
           | ((b2 & 0x3F) << 6) | (b3 & 0x3F))
    v2 = lead2 & c1 & (cp2 >= 0x80)
    v3 = lead3 & c1 & c2 & (cp3 >= 0x800) & ~((cp3 >= 0xD800) & (cp3 <= 0xDFFF))
    v4 = lead4 & c1 & c2 & c3 & (cp4 >= 0x10000) & (cp4 <= 0x10FFFF)
    cont = (arr & 0xC0) == 0x80
    covered = np.zeros(n, dtype=bool)
    covered[1:] = v2[:-1] | v3[:-1] | v4[:-1]
    covered[2:] |= v3[:-2] | v4[:-2]
    covered[3:] |= v4[:-3]
    is_start = ~cont | ~covered
    cp = np.where(
        ascii_, b0,
        np.where(v2, cp2,
                 np.where(v3, cp3,
                          np.where(v4, cp4, np.uint32(0xFFFD)))))
    pos = np.flatnonzero(is_start)
    return cp[pos], pos


# ---------------------------------------------------------------------------
# U1 — sentence splitter (ref: src/sentence_splitter.c:277-401)
# ---------------------------------------------------------------------------

_IMMEDIATE_TERMINATORS = frozenset({0x3002, 0xFF1F, 0xFF01, 0x2026, 0x061F, 0xFF61})
# (ref: src/sentence_splitter.c:21-24)

_ASCII_CLOSERS = frozenset(b"\"')]}")  # src/sentence_splitter.c:57-59
_UNICODE_CLOSERS = frozenset(
    {0x00BB, 0x2019, 0x201D, 0x300D, 0x300F, 0x3009, 0x300B, 0x3011,
     0x3015, 0x3017, 0x3019, 0x301B, 0xFF09, 0xFF3D, 0xFF5D}
)  # src/sentence_splitter.c:61-66

_ABBREV_2 = frozenset({b"mr", b"ms", b"dr", b"vs", b"jr", b"sr", b"st", b"mt"})
_ABBREV_3 = frozenset({b"mrs", b"etc"})  # src/sentence_splitter.c:144-165

# next '.', '!', '?' or any byte >= 0x80 (ref: find_next_event_ascii, :202-245)
_EVENT_RE = re.compile(rb"[.!?\x80-\xff]")
# run of ASCII bytes <= 0x20 (the common case in skip_white_space, :74-78)
_ASCII_WS_RE = re.compile(rb"[\x00-\x20]+")


def _is_basic_white_space(cp: int) -> bool:
    """ref: src/sentence_splitter.c:30-40."""
    if cp <= 0x20:
        return True
    if cp in (0x00A0, 0x1680, 0x3000):
        return True
    if 0x2000 <= cp <= 0x200A:
        return True
    return cp in (0x2028, 0x2029, 0x202F, 0x205F)


def _skip_white_space(data: bytes, i: int, n: int) -> int:
    """ref: src/sentence_splitter.c:71-118 (fast paths are semantic subsets of the
    decode+is_basic_white_space check, so a uniform decode is byte-equivalent)."""
    while i < n:
        m = _ASCII_WS_RE.match(data, i, n)
        if m:
            i = m.end()
            continue
        if data[i] < 0x80:
            return i
        cp, adv, invalid = utf8_decode_advance(data, i, n)
        if invalid:  # decode wrapper returns 0 → stop (src/sentence_splitter.c:108-110)
            return i
        if _is_basic_white_space(cp):
            i += adv
            continue
        return i
    return i


def _skip_closing_punct(data: bytes, i: int, n: int) -> int:
    """ref: src/sentence_splitter.c:120-142."""
    while i < n:
        b = data[i]
        if b < 0x80:
            if b in _ASCII_CLOSERS:
                i += 1
                continue
            return i
        cp, adv, invalid = utf8_decode_advance(data, i, n)
        if invalid:
            return i
        if cp in _UNICODE_CLOSERS:
            i += adv
            continue
        return i
    return i


def _is_ascii_alpha(b: int) -> bool:
    return 97 <= (b | 0x20) <= 122


def _should_block_split_on_dot(
    data: bytes, sentence_start: int, dot_pos: int, next_non_space: int, n: int
) -> bool:
    """Dot-suppression: ≤3 ASCII letters before the dot AND (lowercase follows OR the
    word is a known abbreviation) → do not split (ref: src/sentence_splitter.c:167-189)."""
    if next_non_space >= n:
        return False
    ln = 0
    p = dot_pos
    while p > sentence_start:
        if not 97 <= (data[p - 1] | 0x20) <= 122:
            break
        ln += 1
        if ln > 3:
            break
        p -= 1
    if ln == 0 or ln > 3:
        return False
    c = data[next_non_space]
    if 97 <= c <= 122:
        return True
    word = data[dot_pos - ln:dot_pos].lower()
    return word in (_ABBREV_2 if ln == 2 else _ABBREV_3) if ln in (2, 3) else False


def split_sentences(text: bytes) -> list[tuple[int, int]]:
    """Split squashed UTF-8 bytes into sentence spans ``(start, length)``.

    Clean-room port of split_text_to_sentences (src/sentence_splitter.c:277-401):
    ASCII ``.!?`` runs + closer absorption + whitespace-gap requirement +
    dot-suppression; immediate split on 。？！…؟｡; invalid bytes skipped one at a time.
    Returned spans include terminators/closers, exclude inter-sentence whitespace.

    Dispatches to a numpy-batched fast path for pure-ASCII documents (the dominant
    case for extracted web text; the reference SIMD-batches the same event scan —
    src/sentence_splitter.c:202-245). Output is identical to the scalar automaton
    (property-tested in tests/test_kernel_properties.py).
    """
    n = len(text)
    if n >= 8192:  # per-doc numpy overhead only amortizes on large docs;
        arr = np.frombuffer(text, dtype=np.uint8)  # batches use split_sentences_batch
        if not (arr & 0x80).any():
            return _split_sentences_ascii(arr)
    return _split_sentences_scalar(text)


# lowercase 2-/3-letter abbreviation words packed as little integers for vectorized
# membership tests ("mr" → 0x6d72, ...)
_ABBREV_2_CODES = np.array(
    sorted((w[0] << 8) | w[1] for w in _ABBREV_2), dtype=np.int64)
_ABBREV_3_CODES = np.array(
    sorted((w[0] << 16) | (w[1] << 8) | w[2] for w in _ABBREV_3), dtype=np.int64)


def _split_sentences_ascii(arr: np.ndarray) -> list[tuple[int, int]]:
    """Single-document wrapper over the batched vector splitter."""
    n = arr.shape[0]
    _doc, starts, lens = _split_ascii_batch(
        arr, np.zeros(1, dtype=np.int64), np.array([n], dtype=np.int64))
    return list(zip(starts.tolist(), lens.tolist()))


_IS_WS_TBL = np.zeros(256, dtype=bool)
_IS_WS_TBL[: 0x21] = True
_IS_CLOSER_TBL = np.zeros(256, dtype=bool)
for _b in b"\"')]}":
    _IS_CLOSER_TBL[_b] = True
del _b


def _skip_class_vec(arr: np.ndarray, pos: np.ndarray, limit: np.ndarray,
                    tbl: np.ndarray, N: int, max_iter: int = 24) -> np.ndarray:
    """First position >= pos whose byte is NOT in class ``tbl``, clamped per-element
    to ``limit``. Vectorized +1 advance per round — class runs (closers, whitespace
    gaps) are short in real text; rounds are capped with a scalar fallback so a
    pathological run costs O(run), not O(run × events)."""
    pos = np.minimum(pos, limit)
    active = (pos < limit) & tbl[arr[np.minimum(pos, N - 1)]]
    it = 0
    while active.any():
        it += 1
        if it > max_iter:
            for k in np.flatnonzero(active):
                p, lim = int(pos[k]), int(limit[k])
                while p < lim and tbl[arr[p]]:
                    p += 1
                pos[k] = p
            break
        pos[active] += 1
        active = (pos < limit) & tbl[arr[np.minimum(pos, N - 1)]]
    return pos


def _skip_ws_vec(arr: np.ndarray, pos: np.ndarray, limit: np.ndarray,
                 N: int) -> np.ndarray:
    return _skip_class_vec(arr, pos, limit, _IS_WS_TBL, N)


def _split_ascii_batch(
    arr: np.ndarray, offsets: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized sentence splitting over a CONCATENATED pure-ASCII buffer.

    ``arr`` is the uint8 concatenation of all documents; ``offsets``/``ends`` are
    per-document [start, end) bounds. Returns ``(doc_idx, start_local, length)``
    arrays sorted by (doc, start) — per-doc spans identical to the scalar automaton.

    Why this is safe to batch: every maximal same-char run of ``. ! ?`` is an
    independent "event" (the scalar cursor's jumps only skip closer/whitespace
    bytes, which contain no terminators), so events classify in parallel. Each
    per-event lookup (run end → closer-skip end → whitespace-skip end, via
    searchsorted over non-closer/non-ws position arrays) is clamped to the event's
    own document end, and the dot-suppression backward letter scan is clamped to
    its document start — so no state leaks across document boundaries.
    """
    N = arr.shape[0]
    n_docs = offsets.shape[0]
    # first non-ws at/after each doc start, clamped to doc end ("no content" → end)
    ss0 = _skip_ws_vec(arr, offsets.copy(), ends, N)

    is_term = (arr == 0x2E) | (arr == 0x21) | (arr == 0x3F)
    ev = np.flatnonzero(is_term)
    s_after = s_ws = s_doc = np.empty(0, dtype=np.int64)
    if ev.size:
        # maximal same-char run starts ('..' then '!' is two events); a doc start
        # always begins a fresh run even if the previous doc ended with the same char
        oidx = np.searchsorted(offsets, ev, side="left")
        at_doc_start = (oidx < n_docs) & (offsets[np.minimum(oidx, n_docs - 1)] == ev)
        starts_mask = at_doc_start
        nz = ev > 0
        starts_mask[nz] |= arr[ev[nz] - 1] != arr[ev[nz]]
        e = ev[starts_mask]

        doc_idx = np.searchsorted(ends, e, side="right")
        d_end = ends[doc_idx]
        d_start = offsets[doc_idx]

        # term_end: end of the same-char run (terminator runs are short — vectorized
        # +1 advance over the still-active set; see _skip_ws_vec for the pattern)
        b0 = arr[e]
        term_end = np.minimum(e + 1, d_end)
        active = (term_end < d_end) & (arr[np.minimum(term_end, N - 1)] == b0)
        it = 0
        while active.any():
            it += 1
            if it > 24:  # pathological terminator run → scalar per-event
                for k in np.flatnonzero(active):
                    p, lim, c = int(term_end[k]), int(d_end[k]), arr[e[k]]
                    while p < lim and arr[p] == c:
                        p += 1
                    term_end[k] = p
                break
            term_end[active] += 1
            active = (term_end < d_end) & (arr[np.minimum(term_end, N - 1)] == b0)

        # closers skip: first non-closer position >= term_end
        after = _skip_class_vec(arr, term_end, d_end, _IS_CLOSER_TBL, N)
        # whitespace skip: first non-ws position >= after
        ws = _skip_class_vec(arr, after.copy(), d_end, _IS_WS_TBL, N)

        # dot-suppression (only '.' events with a whitespace gap can be blocked)
        gap = ws > after
        is_dot = b0 == 0x2E
        blocked = np.zeros(e.shape, dtype=bool)
        need = is_dot & gap & (ws < d_end)
        if need.any():
            lower = arr | np.uint8(0x20)
            # letters immediately before the dot, counted directly (at most 4
            # gathers), clamped to the doc start like the scalar scan
            def alpha_at(p):
                ok = p >= d_start
                v = lower[np.maximum(p, 0)]
                return ok & (v >= 97) & (v <= 122)
            a1 = alpha_at(e - 1)
            a2 = a1 & alpha_at(e - 2)
            a3 = a2 & alpha_at(e - 3)
            a4 = a3 & alpha_at(e - 4)
            ln = (a1.astype(np.int8) + a2.astype(np.int8)
                  + a3.astype(np.int8) + a4.astype(np.int8))
            valid_ln = a1 & ~a4  # 1 <= ln <= 3
            ws_c = np.minimum(ws, N - 1)
            lower_follows = (arr[ws_c] >= 97) & (arr[ws_c] <= 122)
            word_ok = np.zeros(e.shape, dtype=bool)
            two = need & valid_ln & (ln == 2)
            if two.any():
                code = (lower[e[two] - 2].astype(np.int64) << 8) | lower[e[two] - 1]
                word_ok[two] = np.isin(code, _ABBREV_2_CODES)
            three = need & valid_ln & (ln == 3)
            if three.any():
                code = (lower[e[three] - 3].astype(np.int64) << 16) | \
                       (lower[e[three] - 2].astype(np.int64) << 8) | \
                       lower[e[three] - 1]
                word_ok[three] = np.isin(code, _ABBREV_3_CODES)
            blocked = need & valid_ln & (lower_follows | word_ok)

        split = (after >= d_end) | (gap & ~(is_dot & blocked))
        s_after = after[split]
        s_ws = ws[split]
        s_doc = doc_idx[split]

    # span assembly: each split event closes a span [ss, after); ss chains from the
    # previous split's ws within the doc (first split in a doc starts at ss0);
    # each doc emits a tail span [last_ss, end) when content remains
    last_ss = ss0.copy()
    if s_after.size:
        first_in = np.ones(s_doc.shape, dtype=bool)
        first_in[1:] = s_doc[1:] != s_doc[:-1]
        ss_arr = np.empty(s_after.shape, dtype=np.int64)
        ss_arr[1:] = s_ws[:-1]
        ss_arr[first_in] = ss0[s_doc[first_in]]
        keep = s_after > ss_arr
        span_doc = s_doc[keep]
        span_start = ss_arr[keep]
        span_len = s_after[keep] - ss_arr[keep]
        last_in = np.ones(s_doc.shape, dtype=bool)
        last_in[:-1] = s_doc[1:] != s_doc[:-1]
        last_ss[s_doc[last_in]] = s_ws[last_in]
    else:
        span_doc = np.empty(0, dtype=np.int64)
        span_start = np.empty(0, dtype=np.int64)
        span_len = np.empty(0, dtype=np.int64)

    tail_keep = ends > last_ss
    tail_doc = np.flatnonzero(tail_keep)
    doc_all = np.concatenate([span_doc, tail_doc])
    st_all = np.concatenate([span_start, last_ss[tail_keep]])
    ln_all = np.concatenate([span_len, (ends - last_ss)[tail_keep]])
    order = np.lexsort((st_all, doc_all))
    doc_all, st_all, ln_all = doc_all[order], st_all[order], ln_all[order]
    return doc_all, st_all - offsets[doc_all], ln_all


# ---------------------------------------------------------------------------
# Codepoint-level vectorized splitter: the non-ASCII batch path. Real web text
# is mostly non-ASCII, so at corpus scale THIS is the hot path — the scalar
# automaton stays as the executable spec (property-tested equivalence).
# ---------------------------------------------------------------------------

_CP_TABLE_SIZE = 0x110000


def _build_cp_tables() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ws = np.zeros(_CP_TABLE_SIZE, dtype=bool)           # _is_basic_white_space
    ws[: 0x21] = True
    for _c in (0x00A0, 0x1680, 0x3000, 0x2028, 0x2029, 0x202F, 0x205F):
        ws[_c] = True
    ws[0x2000:0x200B] = True
    cl = np.zeros(_CP_TABLE_SIZE, dtype=bool)           # ASCII + unicode closers
    for _c in b"\"')]}":
        cl[_c] = True
    for _c in _UNICODE_CLOSERS:
        cl[_c] = True
    im = np.zeros(_CP_TABLE_SIZE, dtype=bool)           # immediate terminators
    for _c in _IMMEDIATE_TERMINATORS:
        im[_c] = True
    return ws, cl, im


_CP_WS_TBL, _CP_CLOSER_TBL, _CP_IMM_TBL = _build_cp_tables()


def _split_cp_batch(
    cps: np.ndarray, offsets: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized sentence splitting over a CONCATENATED codepoint buffer —
    the full-UTF-8 generalization of :func:`_split_ascii_batch`.

    Spans are in CODEPOINT indices; callers map back to byte offsets via the
    positions from :func:`utf8_decode_buffer_pos`. Semantics mirror the scalar
    automaton exactly (property-tested): ASCII ``. ! ?`` events keep the
    run/closer/whitespace-gap/dot-suppression machinery; immediate terminators
    (。？！…؟｡ — src/sentence_splitter.c:21-24) each split unconditionally after
    closer absorption, with NO run merging (the scalar loop handles them one at
    a time) and no whitespace-gap requirement; invalid bytes decode to U+FFFD,
    which is in no character class — exactly the scalar ``cursor++``.
    """
    N = cps.shape[0]
    n_docs = offsets.shape[0]
    idx = cps.astype(np.int64)
    ss0 = _skip_class_vec(idx, offsets.copy(), ends, _CP_WS_TBL, N)

    is_term = (cps == 0x2E) | (cps == 0x21) | (cps == 0x3F)
    ev = np.flatnonzero(is_term)
    ev_i = np.flatnonzero(_CP_IMM_TBL[idx])
    e_parts, after_parts, ws_parts, doc_parts = [], [], [], []

    if ev.size:
        # maximal same-char run starts; a doc start always begins a fresh run
        oidx = np.searchsorted(offsets, ev, side="left")
        at_doc_start = (oidx < n_docs) & (offsets[np.minimum(oidx, n_docs - 1)] == ev)
        starts_mask = at_doc_start
        nz = ev > 0
        starts_mask[nz] |= cps[ev[nz] - 1] != cps[ev[nz]]
        e = ev[starts_mask]

        doc_idx = np.searchsorted(ends, e, side="right")
        d_end = ends[doc_idx]
        d_start = offsets[doc_idx]

        b0 = cps[e]
        term_end = np.minimum(e + 1, d_end)
        active = (term_end < d_end) & (cps[np.minimum(term_end, N - 1)] == b0)
        it = 0
        while active.any():
            it += 1
            if it > 24:  # pathological terminator run → scalar per-event
                for k in np.flatnonzero(active):
                    p, lim, c = int(term_end[k]), int(d_end[k]), cps[e[k]]
                    while p < lim and cps[p] == c:
                        p += 1
                    term_end[k] = p
                break
            term_end[active] += 1
            active = (term_end < d_end) & (cps[np.minimum(term_end, N - 1)] == b0)

        after = _skip_class_vec(idx, term_end, d_end, _CP_CLOSER_TBL, N)
        ws = _skip_class_vec(idx, after.copy(), d_end, _CP_WS_TBL, N)

        gap = ws > after
        is_dot = b0 == 0x2E
        blocked = np.zeros(e.shape, dtype=bool)
        need = is_dot & gap & (ws < d_end)
        if need.any():
            lower = idx | 0x20  # only consulted through ASCII range checks

            def alpha_at(p):
                ok = p >= d_start
                v = lower[np.maximum(p, 0)]
                return ok & (v >= 97) & (v <= 122)
            a1 = alpha_at(e - 1)
            a2 = a1 & alpha_at(e - 2)
            a3 = a2 & alpha_at(e - 3)
            a4 = a3 & alpha_at(e - 4)
            ln = (a1.astype(np.int8) + a2.astype(np.int8)
                  + a3.astype(np.int8) + a4.astype(np.int8))
            valid_ln = a1 & ~a4  # 1 <= ln <= 3
            ws_c = np.minimum(ws, N - 1)
            lower_follows = (cps[ws_c] >= 97) & (cps[ws_c] <= 122)
            word_ok = np.zeros(e.shape, dtype=bool)
            two = need & valid_ln & (ln == 2)
            if two.any():
                code = (lower[e[two] - 2] << 8) | lower[e[two] - 1]
                word_ok[two] = np.isin(code, _ABBREV_2_CODES)
            three = need & valid_ln & (ln == 3)
            if three.any():
                code = (lower[e[three] - 3] << 16) | \
                       (lower[e[three] - 2] << 8) | lower[e[three] - 1]
                word_ok[three] = np.isin(code, _ABBREV_3_CODES)
            blocked = need & valid_ln & (lower_follows | word_ok)

        split = (after >= d_end) | (gap & ~(is_dot & blocked))
        e_parts.append(e[split])
        after_parts.append(after[split])
        ws_parts.append(ws[split])
        doc_parts.append(doc_idx[split])

    if ev_i.size:
        doc_i = np.searchsorted(ends, ev_i, side="right")
        d_end_i = ends[doc_i]
        after_i = _skip_class_vec(
            idx, np.minimum(ev_i + 1, d_end_i), d_end_i, _CP_CLOSER_TBL, N)
        ws_i = _skip_class_vec(idx, after_i.copy(), d_end_i, _CP_WS_TBL, N)
        e_parts.append(ev_i)
        after_parts.append(after_i)
        ws_parts.append(ws_i)
        doc_parts.append(doc_i)

    last_ss = ss0.copy()
    if e_parts:
        e_all = np.concatenate(e_parts)
        order = np.argsort(e_all, kind="stable")
        s_after = np.concatenate(after_parts)[order]
        s_ws = np.concatenate(ws_parts)[order]
        s_doc = np.concatenate(doc_parts)[order]
    else:
        s_after = s_ws = s_doc = np.empty(0, dtype=np.int64)

    if s_after.size:
        first_in = np.ones(s_doc.shape, dtype=bool)
        first_in[1:] = s_doc[1:] != s_doc[:-1]
        ss_arr = np.empty(s_after.shape, dtype=np.int64)
        ss_arr[1:] = s_ws[:-1]
        ss_arr[first_in] = ss0[s_doc[first_in]]
        keep = s_after > ss_arr
        span_doc = s_doc[keep]
        span_start = ss_arr[keep]
        span_len = s_after[keep] - ss_arr[keep]
        last_in = np.ones(s_doc.shape, dtype=bool)
        last_in[:-1] = s_doc[1:] != s_doc[:-1]
        last_ss[s_doc[last_in]] = s_ws[last_in]
    else:
        span_doc = np.empty(0, dtype=np.int64)
        span_start = np.empty(0, dtype=np.int64)
        span_len = np.empty(0, dtype=np.int64)

    tail_keep = ends > last_ss
    tail_doc = np.flatnonzero(tail_keep)
    doc_all = np.concatenate([span_doc, tail_doc])
    st_all = np.concatenate([span_start, last_ss[tail_keep]])
    ln_all = np.concatenate([span_len, (ends - last_ss)[tail_keep]])
    order = np.lexsort((st_all, doc_all))
    doc_all, st_all, ln_all = doc_all[order], st_all[order], ln_all[order]
    return doc_all, st_all - offsets[doc_all], ln_all


def _split_nonascii_docs_byte_spans(
    texts: list[bytes],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, bytes, np.ndarray]:
    """Batched codepoint-split of non-ASCII docs → per-doc BYTE spans.

    Returns ``(doc_idx, byte_start_global, byte_end_global, blob, doc_boff)``
    where the offsets index ``blob`` = texts joined by a single NUL separator
    and ``doc_boff[i]`` is document i's byte offset in the blob (the single
    source of the separator arithmetic). The NUL is ASCII and non-continuation,
    so the one-shot vectorized decode of the whole blob cannot merge sequences
    across document boundaries; per-doc clamps in :func:`_split_cp_batch` keep
    the separator itself out of every span."""
    blob = b"\x00".join(texts)
    cps, bpos = utf8_decode_buffer_pos(blob)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    doc_boff = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=doc_boff[1:])  # +1 per NUL separator
    doc_bend = doc_boff + lens
    cp_off = np.searchsorted(bpos, doc_boff)
    cp_end = np.searchsorted(bpos, doc_bend)
    doc_all, st_loc, ln_cp = _split_cp_batch(cps, cp_off, cp_end)
    bpos_ext = np.concatenate([bpos, [len(blob)]])
    g0 = cp_off[doc_all] + st_loc
    gs = bpos_ext[g0]
    ge = bpos_ext[g0 + ln_cp]
    return doc_all, gs, ge, blob, doc_boff


def split_sentences_batch(texts: list[bytes]) -> list[list[tuple[int, int]]]:
    """Batched :func:`split_sentences` — ONE vectorized pass over the pure-ASCII
    documents (byte automaton) and ONE over the non-ASCII documents (codepoint
    automaton). This is the Arrow-batch hot path: numpy overhead amortizes
    across the batch; output is span-identical to the scalar automaton."""
    out: list[list[tuple[int, int]] | None] = [None] * len(texts)
    ascii_ids: list[int] = []
    ascii_texts: list[bytes] = []
    na_ids: list[int] = []
    na_texts: list[bytes] = []
    for i, t in enumerate(texts):
        if not t:
            out[i] = []
        elif (np.frombuffer(t, dtype=np.uint8) & 0x80).any():
            na_ids.append(i)
            na_texts.append(t)
        else:
            ascii_ids.append(i)
            ascii_texts.append(t)
    if na_texts:
        doc_all, gs, ge, _blob, boff = _split_nonascii_docs_byte_spans(na_texts)
        cuts = np.searchsorted(doc_all, np.arange(len(na_ids) + 1))
        st_rel = (gs - boff[doc_all]).tolist()
        ln_l = (ge - gs).tolist()
        for j, gi in enumerate(na_ids):
            lo, hi = cuts[j], cuts[j + 1]
            out[gi] = list(zip(st_rel[lo:hi], ln_l[lo:hi]))
    if ascii_texts:
        arr = np.frombuffer(b"".join(ascii_texts), dtype=np.uint8)
        lens = np.fromiter((len(t) for t in ascii_texts), dtype=np.int64,
                           count=len(ascii_texts))
        offsets = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        doc_all, st_all, ln_all = _split_ascii_batch(arr, offsets, offsets + lens)
        cuts = np.searchsorted(doc_all, np.arange(len(ascii_ids) + 1))
        st_l, ln_l = st_all.tolist(), ln_all.tolist()
        for j, gi in enumerate(ascii_ids):
            lo, hi = cuts[j], cuts[j + 1]
            out[gi] = list(zip(st_l[lo:hi], ln_l[lo:hi]))
    return out  # type: ignore[return-value]


def _split_sentences_scalar(text: bytes) -> list[tuple[int, int]]:
    """Scalar automaton — the executable spec; handles all inputs incl. non-ASCII."""
    out: list[tuple[int, int]] = []
    n = len(text)
    if n == 0:
        return out
    ss = _skip_white_space(text, 0, n)
    cur = ss
    while cur < n:
        b0 = text[cur]
        if b0 < 0x80:
            m = _EVENT_RE.search(text, cur, n)
            if m is None:
                cur = n
                break
            cur = m.start()
            b0 = text[cur]
            if b0 < 0x80:  # one of . ! ?
                term_end = cur + 1
                while term_end < n and text[term_end] == b0:
                    term_end += 1
                after = _skip_closing_punct(text, term_end, n)
                ws = _skip_white_space(text, after, n)
                split_here = False
                if after >= n:
                    split_here = True
                elif ws > after:
                    if b0 == 0x2E:  # '.'
                        if not _should_block_split_on_dot(text, ss, cur, ws, n):
                            split_here = True
                    else:
                        split_here = True
                if split_here:
                    if after > ss:
                        out.append((ss, after - ss))
                    ss = ws
                    cur = ss
                else:
                    cur = ws if ws > after else after
                continue
        # non-ASCII byte: CJK fast paths then general decode
        if (
            b0 == 0xE3 and cur + 2 < n
            and text[cur + 1] == 0x80 and text[cur + 2] == 0x82
        ):  # 。
            adv, split_here = 3, True
        elif (
            b0 == 0xEF and cur + 2 < n
            and text[cur + 1] == 0xBC and text[cur + 2] in (0x9F, 0x81)
        ):  # ？ ！
            adv, split_here = 3, True
        else:
            cp, adv, invalid = utf8_decode_advance(text, cur, n)
            if invalid:  # wrapper returns 0 → cursor++ (src/sentence_splitter.c:366-369)
                cur += 1
                continue
            split_here = cp in _IMMEDIATE_TERMINATORS
        nxt = cur + adv
        if split_here:
            after = _skip_closing_punct(text, nxt, n)
            if after > ss:
                out.append((ss, after - ss))
            ss = _skip_white_space(text, after, n)
            cur = ss
            continue
        cur = nxt
    if cur > ss:
        out.append((ss, cur - ss))
    return out


# ---------------------------------------------------------------------------
# U2/U3 — line & paragraph splitters (ref: src/dedup.c:218-295)
# Note quirk: in the shipped binary these run AFTER the newline squash, so they
# degenerate to document mode. We implement them literally for parity.
# ---------------------------------------------------------------------------

def _has_non_space(data: bytes, start: int, end: int) -> bool:
    return any(data[i] > 0x20 for i in range(start, end))


def split_lines(text: bytes) -> list[tuple[int, int]]:
    """ref: src/dedup.c:264-295 — split on \\n/\\r runs, drop blank lines."""
    out: list[tuple[int, int]] = []
    n = len(text)
    pos = 0
    line_start = 0
    while pos < n:
        while pos < n and text[pos] not in (0x0A, 0x0D):
            pos += 1
        line_end = pos
        while pos < n and text[pos] in (0x0A, 0x0D):
            pos += 1
        if _has_non_space(text, line_start, line_end):
            out.append((line_start, line_end - line_start))
        line_start = pos
    return out


def split_paragraphs(text: bytes) -> list[tuple[int, int]]:
    """ref: src/dedup.c:218-262 — split on blank lines (all bytes ≤ 0x20)."""
    out: list[tuple[int, int]] = []
    n = len(text)
    para_start = 0
    pos = 0
    while pos < n:
        line_start = pos
        while pos < n and text[pos] not in (0x0A, 0x0D):
            pos += 1
        line_end = pos
        while pos < n and text[pos] in (0x0A, 0x0D):
            pos += 1
        if not _has_non_space(text, line_start, line_end):
            if para_start < line_start and _has_non_space(text, para_start, line_start):
                out.append((para_start, line_start - para_start))
            para_start = pos
    if para_start < n and _has_non_space(text, para_start, n):
        out.append((para_start, n - para_start))
    return out


# ---------------------------------------------------------------------------
# U5/U6 — normalizer + truncation (ref: src/text_utils.c:7-34; src/dedup.c:303-306)
# ---------------------------------------------------------------------------

_STRIP_BYTES = bytes(range(0x21))
_WS_RUN_RE = re.compile(rb"[\x00-\x20]+")


def normalize_unit(data: bytes, max_length: int = 0) -> bytes:
    """Trim leading/trailing bytes ≤0x20; collapse interior runs to one space;
    then truncate to ``max_length`` BYTES if nonzero (quirk Q5: bytes, not
    codepoints — truncation may split a UTF-8 sequence). ref: src/text_utils.c:7-34,
    src/dedup.c:303-306."""
    out = _WS_RUN_RE.sub(b" ", data.strip(_STRIP_BYTES))
    if max_length and len(out) > max_length:
        out = out[:max_length]
    return out


# ---------------------------------------------------------------------------
# H1 — FNV-1a 64 with the reference's (non-canonical) offset basis
# (ref: src/hash_utils.c:3-10 — offset 1469598103934665603, prime 1099511628211)
# ---------------------------------------------------------------------------

FNV_OFFSET = 1469598103934665603  # NOT canonical 14695981039346656037 — quirk
FNV_PRIME = 1099511628211
_U64 = (1 << 64) - 1


def fnv1a(data: bytes) -> int:
    """Reference FNV-1a 64 over raw bytes (src/hash_utils.c:3-10)."""
    h = FNV_OFFSET
    for b in data:
        h = ((h ^ b) * FNV_PRIME) & _U64
    return h


def fnv1a_many(units: list[bytes]) -> np.ndarray:
    """Vectorized FNV-1a over a batch of byte strings → uint64 array.

    Vectorizes across units (one numpy pass per byte position), which is fast when
    unit lengths are bounded (sentences). Matches :func:`fnv1a` bit-for-bit.
    """
    m = len(units)
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    lengths = np.fromiter((len(u) for u in units), dtype=np.int64, count=m)
    if lengths.max(initial=0) == 0:
        return np.full(m, np.uint64(FNV_OFFSET), dtype=np.uint64)
    blob = np.frombuffer(b"".join(units), dtype=np.uint8)
    offsets = np.zeros(m, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return _fnv1a_core(blob, offsets, lengths)


def fnv1a_flat(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """FNV-1a over flat (values, offsets) buffers — the zero-boxing companion of
    :func:`extract_units_batch_flat` (no per-unit bytes objects). Bit-identical
    to :func:`fnv1a` per unit."""
    m = len(offsets) - 1
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.asarray(offsets[:-1], dtype=np.int64)
    lengths = np.asarray(offsets[1:], dtype=np.int64) - starts
    if lengths.max(initial=0) == 0:
        return np.full(m, np.uint64(FNV_OFFSET), dtype=np.uint64)
    return _fnv1a_core(np.asarray(values, dtype=np.uint8), starts, lengths)


def _fnv1a_core(blob: np.ndarray, offsets: np.ndarray,
                lengths: np.ndarray) -> np.ndarray:
    m = len(lengths)
    h = np.full(m, FNV_OFFSET, dtype=np.uint64)
    prime = np.uint64(FNV_PRIME)
    max_len = int(lengths.max())
    # sort by length so the active set is a suffix → pure slicing, no boolean masks
    order = np.argsort(lengths, kind="stable")
    h_s = h[order]
    off_s = offsets[order]
    len_s = lengths[order]
    start = 0
    with np.errstate(over="ignore"):
        for j in range(max_len):
            while start < m and len_s[start] <= j:
                start += 1
            idx = off_s[start:] + j
            h_s[start:] = (h_s[start:] ^ blob[idx].astype(np.uint64)) * prime
    h[order] = h_s
    return h


# ---------------------------------------------------------------------------
# H2/H3 — polynomial rolling hash, base 31 mod 2^64 over UTF-32 codepoints
# (ref: src/block_tree_core.c:90-97,100-140,162-201)
# ---------------------------------------------------------------------------

BLOCK_HASH_BASE = 31
SEARCH_HASH_BASE = 1315423911  # ref: src/search_mode.c:114-149; value = cp + 1


def _inverse_u64(b: int) -> int:
    """Multiplicative inverse of odd ``b`` mod 2^64 (Newton/Hensel lifting:
    x ← x(2 − bx) doubles correct low bits; 6 rounds ≥ 64 bits)."""
    if b % 2 == 0:
        raise ValueError("base must be odd to be invertible mod 2^64")
    x = b
    for _ in range(6):
        x = (x * (2 - b * x)) & _U64
    return x


def rolling_prefix(cps: np.ndarray, base: int, add: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Build prefix/power tables: ``prefix[i+1] = prefix[i]*base + (cp+add)`` mod 2^64.

    ref: src/block_tree_core.c:162-201 (base 31, add 0) and
    src/search_mode.c:114-140 (base 1315423911, add 1). numpy uint64 wraps natively.

    Vectorized via the modular inverse (both reference bases are odd):
    ``prefix[k] = Σ_{i<k} v[i]·b^(k−1−i) = b^k · Σ_{i<k} v[i]·b^(−i−1)``, so three
    wrapping-uint64 numpy passes (cumprod powers, cumsum of v·b^(−i−1), one final
    multiply) replace the per-codepoint Python loop — bit-identical output.
    """
    n = len(cps)
    prefix = np.zeros(n + 1, dtype=np.uint64)
    pow_ = np.ones(n + 1, dtype=np.uint64)
    if n == 0:
        return prefix, pow_
    with np.errstate(over="ignore"):
        pow_[1:] = np.cumprod(np.full(n, np.uint64(base), dtype=np.uint64))
        inv_pow = np.cumprod(
            np.full(n, np.uint64(_inverse_u64(base)), dtype=np.uint64)
        )  # inv_b^(i+1)
        vals = cps.astype(np.uint64) + np.uint64(add)
        prefix[1:] = np.cumsum(vals * inv_pow, dtype=np.uint64) * pow_[1:]
    return prefix, pow_


def window_hash(prefix: np.ndarray, pow_: np.ndarray, start: int, end: int) -> int:
    """O(1) window hash ``prefix[e] - prefix[s]*pow[e-s]`` mod 2^64
    (ref: src/block_tree_core.c:90-97)."""
    with np.errstate(over="ignore"):
        return int(prefix[end] - prefix[start] * pow_[end - start])


def window_hashes(
    prefix: np.ndarray, pow_: np.ndarray, starts: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """Vectorized window hashes for arrays of (start, length)."""
    s = starts.astype(np.int64)
    ln = lengths.astype(np.int64)
    with np.errstate(over="ignore"):
        return prefix[s + ln] - prefix[s] * pow_[ln]


# ---------------------------------------------------------------------------
# Second, STRUCTURALLY INDEPENDENT rolling hash: polynomial mod the Mersenne
# prime 2^61-1. Mod-2^64 polynomial hashes share universal collision families
# (e.g. Thue–Morse ±1 difference patterns collide for EVERY base), so pairing
# two of them does not bound adversarial collisions; a prime modulus has no
# such families — over F_p a nonzero degree-d difference polynomial has ≤ d
# roots, so P(collision) ≤ d/p per random base. Verifying equality under the
# mod-2^64 hash AND this one gives sound probability bounds on structured text.
# All ops are vectorized u64 numpy (31-bit limb decomposition for mulmod).
# ---------------------------------------------------------------------------

MERSENNE61 = (1 << 61) - 1
MOD61_BASE = 131          # default base; tests/fixed configs. See mod61_base_from_seed.


def mod61_base_from_seed(seed: int) -> int:
    """Derive a mod-(2^61-1) polynomial base from a run seed (splitmix64 mix).

    The Schwartz–Zippel collision bound (≤ degree/p per pair) holds for a base
    drawn at random AFTER the input is fixed; a hardcoded base is in principle
    constructible-against. Deployments should derive the base from a per-run
    seed (run id, date) so adversarial boilerplate cannot target it; any fixed
    seed keeps results deterministic within the run, which resume requires."""
    z = (seed + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z ^= z >> 31
    return 2 + z % (MERSENNE61 - 3)  # uniform in [2, p-2]
_P61 = np.uint64(MERSENNE61)
_M29 = np.uint64((1 << 29) - 1)
_M32 = np.uint64(0xFFFFFFFF)


def mulmod61(a, b) -> np.ndarray:
    """(a * b) mod 2^61-1 for uint64 arrays with a, b < 2^61-1 (vectorized;
    32/29-bit limb split keeps every intermediate inside uint64)."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    with np.errstate(over="ignore"):
        a0, a1 = a & _M32, a >> np.uint64(32)
        b0, b1 = b & _M32, b >> np.uint64(32)
        lo = a0 * b0                      # < 2^64
        mid = a1 * b0 + a0 * b1           # < 2^62 (a1, b1 < 2^29)
        hi = a1 * b1                      # < 2^58
        # a*b = hi·2^64 + mid·2^32 + lo;  2^61 ≡ 1 ⇒ 2^64 ≡ 8,
        # mid·2^32 = (mid>>29)·2^61 + (mid&M29)·2^32 ≡ (mid>>29) + (mid&M29)<<32
        r = ((lo & _P61) + (lo >> np.uint64(61))
             + (mid >> np.uint64(29)) + ((mid & _M29) << np.uint64(32))
             + hi * np.uint64(8))         # < 2^63
        r = (r & _P61) + (r >> np.uint64(61))
        r = (r & _P61) + (r >> np.uint64(61))
    return np.where(r >= _P61, r - _P61, r)


def _pow_table_mod61(base: int, n: int) -> np.ndarray:
    """[base^0, ..., base^n] mod 2^61-1 via O(log n) vectorized doubling."""
    out = np.ones(n + 1, dtype=np.uint64)
    if n == 0:
        return out
    out[1] = np.uint64(base % MERSENNE61)
    m = 1
    while m < n:
        k = min(m, n - m)
        out[m + 1:m + 1 + k] = mulmod61(out[1:1 + k], out[m])
        m *= 2
    return out


def rolling_prefix_mod61(cps: np.ndarray, base: int = MOD61_BASE,
                         add: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Mod-(2^61-1) analog of :func:`rolling_prefix`: returns ``(S, pow)`` with
    ``S[i] = Σ_{j<i} (cp_j+add)·base^(−j−1) mod p`` and ``pow[k] = base^k mod p``.
    Window hash over [s, s+l): ``mulmod61(S[s+l]−S[s], pow[s+l])`` — the leading
    power renormalizes the inverse-power sum so equal windows hash equal
    regardless of position.

    Vectorized mod-p cumulative sum: terms are split into 32-bit halves, each
    half cumsum'd in uint64 (overflow-free for n < 2^31), then recombined mod p.
    """
    n = len(cps)
    S = np.zeros(n + 1, dtype=np.uint64)
    if n == 0:
        return S, np.ones(1, dtype=np.uint64)
    pow_ = _pow_table_mod61(base, n)
    binv = pow(base % MERSENNE61, MERSENNE61 - 2, MERSENNE61)
    binv_pows = _pow_table_mod61(binv, n)  # binv^0..binv^n
    vals = (cps.astype(np.uint64) + np.uint64(add)) % _P61
    t = mulmod61(vals, binv_pows[1:n + 1])  # v_j · base^(−j−1), j = 0..n−1
    with np.errstate(over="ignore"):
        clo = np.cumsum(t & _M32, dtype=np.uint64)
        chi = np.cumsum(t >> np.uint64(32), dtype=np.uint64)
        comb = (clo % _P61) + mulmod61(chi % _P61,
                                       np.uint64((1 << 32) % MERSENNE61))
    comb = np.where(comb >= _P61, comb - _P61, comb)
    S[1:] = comb
    return S, pow_


def window_hashes_mod61(S: np.ndarray, pow_: np.ndarray, starts: np.ndarray,
                        lengths: np.ndarray) -> np.ndarray:
    """Vectorized mod-(2^61-1) window hashes for arrays of (start, length)."""
    s = starts.astype(np.int64)
    ln = lengths.astype(np.int64)
    with np.errstate(over="ignore"):
        d = S[s + ln] + (_P61 - S[s])
    d = np.where(d >= _P61, d - _P61, d)
    return mulmod61(d, pow_[s + ln])


# ---------------------------------------------------------------------------
# Unit extraction pipeline: squash → split(mode) → normalize → truncate → drop empty
# (the per-url byte-identical invariant; ref: src/dedup.c:467-507,297-366)
# ---------------------------------------------------------------------------

MODES = ("sentence", "line", "paragraph", "document")


def extract_units(raw: bytes, mode: str = "sentence", max_length: int = 0) -> list[bytes]:
    """Full reference unit pipeline for one document. Returns normalized unit bytes in
    document order (empty-normalization units dropped — P1/P2)."""
    text = squash_newlines(raw)
    if mode == "sentence":
        spans = split_sentences(text)
    elif mode == "line":
        spans = split_lines(text)
    elif mode == "paragraph":
        spans = split_paragraphs(text)
    elif mode == "document":
        spans = [(0, len(text))] if text else []
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    units = []
    for start, ln in spans:
        norm = normalize_unit(text[start:start + ln], max_length)
        if norm:
            units.append(norm)
    return units


# every byte <= 0x20 → space: the composition of the newline squash (Q1) and the
# whitespace CLASS of the normalizer — byte classes (terminator/closer/alpha/ws)
# are preserved, so sentence spans computed on the translated text are identical
_WS_TO_SPACE = bytes(0x20 if b <= 0x20 else b for b in range(256))


def extract_units_batch(
    texts: list[bytes], mode: str = "sentence", max_length: int = 0
) -> list[list[bytes]]:
    """Batched :func:`extract_units` — the Arrow-batch hot path (bit-identical output).

    Two batch-level optimizations over the per-doc pipeline:
    1. sentence spans come from ONE vectorized pass over the whole batch
       (:func:`split_sentences_batch`);
    2. normalization (trim + collapse ws runs — src/text_utils.c:7-34) is done by
       translating ALL bytes <= 0x20 to space once per document (one C pass) and then
       ``b" ".join(span.split())`` per span — C-speed, no per-span regex. The
       translate maps every whitespace-class byte to 0x20 without changing any byte's
       class, so spans and normalized unit bytes are unchanged.
    """
    if mode != "sentence":
        return [extract_units(t, mode, max_length) for t in texts]
    out: list[list[bytes] | None] = [None] * len(texts)
    ascii_ids: list[int] = []
    ascii_texts: list[bytes] = []
    na_ids: list[int] = []
    na_texts: list[bytes] = []
    for i, t in enumerate(texts):
        tt = t.translate(_WS_TO_SPACE)
        if not tt:
            out[i] = []
        elif (np.frombuffer(tt, dtype=np.uint8) & 0x80).any():
            na_ids.append(i)
            na_texts.append(tt)
        else:
            ascii_ids.append(i)
            ascii_texts.append(tt)
    if na_texts:
        # batched codepoint split (spans identical to the scalar automaton);
        # per-span normalization shares the translate trick with the ASCII path
        doc_all, gs, ge, nblob, _boff = _split_nonascii_docs_byte_spans(na_texts)
        cuts = np.searchsorted(doc_all, np.arange(len(na_ids) + 1))
        gs_l, ge_l = gs.tolist(), ge.tolist()
        for j, gi in enumerate(na_ids):
            units = []
            for k in range(cuts[j], cuts[j + 1]):
                u = b" ".join(nblob[gs_l[k]:ge_l[k]].split())
                if max_length:
                    u = u[:max_length]
                if u:
                    units.append(u)
            out[gi] = units
    if not ascii_texts:
        return out  # type: ignore[return-value]
    blob = b"".join(ascii_texts)
    arr = np.frombuffer(blob, dtype=np.uint8)
    lens = np.fromiter((len(t) for t in ascii_texts), dtype=np.int64,
                       count=len(ascii_texts))
    offsets = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    doc_all, st_loc, ln_all = _split_ascii_batch(arr, offsets, offsets + lens)
    gs = st_loc + offsets[doc_all]
    ge = gs + ln_all
    # a span is already normalized ("clean") iff it has no interior double space and
    # no trailing space (span starts are non-ws by construction; after the translate
    # every ws byte is 0x20) — clean spans slice straight out of the blob
    sp = arr == 0x20
    dbl = np.flatnonzero(sp[:-1] & sp[1:])
    dirty = (np.searchsorted(dbl, gs) != np.searchsorted(dbl, ge - 1)) \
        | sp[np.maximum(ge - 1, 0)]
    cuts = np.searchsorted(doc_all, np.arange(len(ascii_ids) + 1)).tolist()
    gs_l = gs.tolist()
    ge_l = ge.tolist()
    dirty_l = dirty.tolist()
    for j, gi in enumerate(ascii_ids):
        units = []
        for k in range(cuts[j], cuts[j + 1]):
            u = blob[gs_l[k]:ge_l[k]]
            if dirty_l[k]:
                u = b" ".join(u.split())
            if max_length and len(u) > max_length:
                u = u[:max_length]
            if u:
                units.append(u)
        out[gi] = units
    return out  # type: ignore[return-value]


def _flatten_unit_lists(
    unit_lists: list[list[bytes]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-doc unit lists → flat (doc_idx, unit_idx, values, offsets) arrays."""
    counts = np.fromiter((len(v) for v in unit_lists), dtype=np.int64,
                         count=len(unit_lists))
    n = int(counts.sum())
    doc_idx = np.repeat(np.arange(len(unit_lists), dtype=np.int64), counts)
    unit_idx = np.arange(n, dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64), counts)
    blob = b"".join(u for v in unit_lists for u in v)
    lens = np.fromiter((len(u) for v in unit_lists for u in v), dtype=np.int64,
                       count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return doc_idx, unit_idx, np.frombuffer(blob, dtype=np.uint8), offsets


def _run_mask(starts: np.ndarray, lens: np.ndarray, n: int) -> np.ndarray:
    """Boolean mask marking the disjoint runs ``[starts[i], starts[i]+lens[i])``
    over an array of length ``n``. Runs must be sorted and non-overlapping
    (adjacent is fine: the +1 at a start cancels the -1 at the previous end,
    which merges the runs — byte order is unchanged). int8 cumsum is safe
    because disjointness keeps the running value in {0, 1}."""
    d = np.zeros(n + 1, dtype=np.int8)
    np.add.at(d, starts, 1)
    np.subtract.at(d, starts + lens, 1)
    return np.cumsum(d[:-1], dtype=np.int8).view(np.bool_)


def _assemble_units(
    arr: np.ndarray, blob: bytes | None, doc_all: np.ndarray, gs: np.ndarray,
    ge: np.ndarray, batch_ids: list[int], max_length: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Spans → normalized flat unit buffers (shared by the ASCII and UTF-8
    batch paths of :func:`extract_units_batch_flat`).

    ``arr``/``blob`` hold whitespace-translated text (every byte <= 0x20 is a
    space), ``gs``/``ge`` are global byte spans, ``doc_all`` indexes
    ``batch_ids``. Clean spans (no interior double space, no leading or
    trailing space) copy verbatim via one ragged gather; dirty spans
    re-normalize individually. (Sentence spans never start with whitespace;
    the leading check exists for the full-document spans of the
    line/paragraph/document modes.) ``blob`` may be None (the Arrow
    zero-boxing path): dirty spans then slice from ``arr`` directly —
    boxing only the dirty minority instead of every document."""
    sp = arr == 0x20
    dbl = np.flatnonzero(sp[:-1] & sp[1:])
    dirty = (np.searchsorted(dbl, gs) != np.searchsorted(dbl, ge - 1)) \
        | sp[np.maximum(ge - 1, 0)] | sp[np.minimum(gs, sp.shape[0] - 1)]
    out_lens = (ge - gs).copy()
    dirty_ids = np.flatnonzero(dirty)
    dirty_bytes: list[bytes] = []
    gs_l = gs[dirty_ids].tolist()
    ge_l = ge[dirty_ids].tolist()
    if blob is None:
        for a, b in zip(gs_l, ge_l):
            u = b" ".join(arr[a:b].tobytes().split())
            dirty_bytes.append(u)
    else:
        for a, b in zip(gs_l, ge_l):
            u = b" ".join(blob[a:b].split())
            dirty_bytes.append(u)
    if dirty_ids.size:
        out_lens[dirty_ids] = np.fromiter(
            (len(u) for u in dirty_bytes), dtype=np.int64,
            count=len(dirty_bytes))
    if max_length:
        np.minimum(out_lens, max_length, out=out_lens)
    keep = out_lens > 0  # all-whitespace spans normalize to empty (P1/P2)
    if not keep.all():
        (doc_all, gs, ge, dirty, out_lens) = (
            doc_all[keep], gs[keep], ge[keep], dirty[keep], out_lens[keep])
        dirty_bytes = [u for j, u in zip(dirty_ids, dirty_bytes)
                       if keep[j]]
        dirty_ids = np.flatnonzero(dirty)
    else:
        dirty_ids = np.flatnonzero(dirty)
    n_units = doc_all.shape[0]
    offsets = np.zeros(n_units + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offsets[1:])
    values = np.empty(int(offsets[-1]), dtype=np.uint8)
    # vectorized ragged gather for the clean spans
    clean = ~dirty
    c_lens = out_lens[clean]
    c_total = int(c_lens.sum())
    if c_total:
        c_dst0 = offsets[:-1][clean]
        c_src0 = gs[clean]
        if c_src0.size < 2 or (
                c_src0[1:] >= c_src0[:-1] + c_lens[:-1]).all():
            # runs are source-ordered (always true for split spans over a
            # concatenated blob): mark them with the +1/-1 diff trick and copy
            # mask-to-mask in ONE memory-speed pass — no O(bytes) int64 index
            # arrays (the np.repeat gather built 4x8 bytes of index per byte
            # copied and was the kernel's hottest line).
            values[_run_mask(c_dst0, c_lens, len(values))] = \
                arr[_run_mask(c_src0, c_lens, len(arr))]
        else:  # non-monotonic spans: keep the general gather
            pos = np.arange(c_total, dtype=np.int64)
            cum = np.zeros(len(c_lens), dtype=np.int64)
            np.cumsum(c_lens[:-1], out=cum[1:])
            rel = pos - np.repeat(cum, c_lens)
            values[np.repeat(c_dst0, c_lens) + rel] = \
                arr[np.repeat(c_src0, c_lens) + rel]
    for j, u in zip(dirty_ids.tolist(), dirty_bytes):
        o = offsets[j]
        values[o:o + out_lens[j]] = np.frombuffer(u[:out_lens[j]],
                                                  dtype=np.uint8)
    # per-doc unit positions
    cuts = np.searchsorted(doc_all, np.arange(len(batch_ids) + 1))
    unit_idx = np.arange(n_units, dtype=np.int64) - np.repeat(
        cuts[:-1], np.diff(cuts))
    doc_idx = np.asarray(batch_ids, dtype=np.int64)[doc_all]
    return doc_idx, unit_idx, values, offsets


def _concat_flat_parts(
    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Merge (doc_idx, unit_idx, values, offsets) flat-unit parts into one,
    rebasing each subsequent part's offsets onto the growing value buffer.
    Shared by the list and Arrow batch extractors, which must stay
    bit-identical."""
    if len(parts) == 1:
        return parts[0]
    doc_idx = np.concatenate([p[0] for p in parts])
    unit_idx = np.concatenate([p[1] for p in parts])
    values = np.concatenate([p[2] for p in parts])
    offsets = [parts[0][3]]
    base = parts[0][3][-1]
    for p in parts[1:]:
        offsets.append(p[3][1:] + base)
        base += p[3][-1]
    return doc_idx, unit_idx, values, np.concatenate(offsets)


def extract_units_batch_flat(
    texts: list[bytes], mode: str = "sentence", max_length: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Flat, zero-boxing variant of :func:`extract_units_batch`.

    Returns ``(doc_idx, unit_idx, values, offsets)``: unit k's bytes are
    ``values[offsets[k]:offsets[k+1]]``, belonging to document ``doc_idx[k]`` at
    in-document position ``unit_idx[k]``. Row content is bit-identical to
    ``extract_units_batch`` (same kernels); ROW ORDER groups the pure-ASCII
    documents first, then the non-ASCII documents (both fully vectorized —
    ASCII over bytes, the rest over decoded codepoints) — downstream consumers
    are order-free relational operators, and the per-doc (doc_idx, unit_idx)
    pairs are identical.

    The point: the list-of-lists API materializes one Python bytes object per
    unit (~14M objects for 500k web docs) just so Arrow can re-serialize them;
    this variant assembles the Arrow-ready value/offset buffers directly with
    one vectorized ragged gather for the clean spans (dirty spans — interior
    double spaces or a trailing space — are normalized individually, typically
    a small minority)."""
    if mode != "sentence":
        if mode not in ("line", "paragraph", "document"):
            raise ValueError(f"unknown mode: {mode!r}")
        # After the reference's read-time newline squash (Q1,
        # src/io_utils.c:68-88) no \n/\r bytes remain, so line and paragraph
        # splitting DEGENERATE to one whole-document span (the U2 degeneracy
        # quirk) — identical to document mode. One full-doc span per doc
        # through the shared vectorized assembler; all-space docs normalize
        # to empty and drop (P1/P2). Scalar parity pinned by hypothesis
        # tests (batch ≡ extract_units per doc, all modes).
        tts = [t.translate(_WS_TO_SPACE) for t in texts]
        lens_all = np.fromiter(map(len, tts), dtype=np.int64, count=len(tts))
        ne = np.flatnonzero(lens_all > 0)
        if not ne.size:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy(), np.empty(0, dtype=np.uint8), np.zeros(
                1, np.int64)
        blob = b"".join(tts)
        arr = np.frombuffer(blob, dtype=np.uint8)
        starts_all = np.zeros(len(tts), dtype=np.int64)
        np.cumsum(lens_all[:-1], out=starts_all[1:])
        gs = starts_all[ne]
        return _assemble_units(arr, blob, np.arange(ne.size, dtype=np.int64),
                               gs, gs + lens_all[ne], ne.tolist(), max_length)
    tts = [t.translate(_WS_TO_SPACE) for t in texts]
    lens_all = np.fromiter(map(len, tts), dtype=np.int64, count=len(tts))
    ne = np.flatnonzero(lens_all > 0)
    if ne.size:
        # ASCII/non-ASCII classification in ONE pass over the concatenated
        # bytes (bitwise-OR per doc segment), replacing a per-doc
        # frombuffer+any round-trip
        blob_all = b"".join(tts)
        arr_all = np.frombuffer(blob_all, dtype=np.uint8)
        starts_all = np.zeros(len(tts), dtype=np.int64)
        np.cumsum(lens_all[:-1], out=starts_all[1:])
        hi = (np.bitwise_or.reduceat(arr_all, starts_all[ne]) & 0x80) > 0
    else:
        hi = np.empty(0, dtype=bool)
    ascii_ids = ne[~hi].tolist()
    ascii_texts = [tts[i] for i in ascii_ids]
    na_ids = ne[hi].tolist()
    na_texts = [tts[i] for i in na_ids]

    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []
    if ascii_texts:
        blob = b"".join(ascii_texts)
        arr = np.frombuffer(blob, dtype=np.uint8)
        lens = np.fromiter((len(t) for t in ascii_texts), dtype=np.int64,
                           count=len(ascii_texts))
        doc_off = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=doc_off[1:])
        doc_all, st_loc, ln_all = _split_ascii_batch(arr, doc_off, doc_off + lens)
        gs = st_loc + doc_off[doc_all]
        parts.append(_assemble_units(
            arr, blob, doc_all, gs, gs + ln_all, ascii_ids, max_length))
    if na_texts:
        # non-ASCII docs: batched codepoint split (same translate trick — every
        # byte <= 0x20 is already a space, so byte-level normalization below is
        # valid, and the translate changes no span: whitespace-class and
        # letter-class membership are preserved byte-for-byte)
        doc_all, gs, ge, blob, _boff = _split_nonascii_docs_byte_spans(na_texts)
        arr = np.frombuffer(blob, dtype=np.uint8)
        parts.append(_assemble_units(
            arr, blob, doc_all, gs, ge, na_ids, max_length))
    if not parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), np.empty(0, dtype=np.uint8), np.zeros(1, np.int64)
    return _concat_flat_parts(parts)


# vectorized form of _WS_TO_SPACE: one uint8 LUT gather translates a whole
# Arrow value buffer in a single memory-speed pass (vs per-doc bytes.translate)
_WS_LUT = np.frombuffer(_WS_TO_SPACE, dtype=np.uint8)


def extract_units_batch_flat_arrow(
    arr: np.ndarray, starts: np.ndarray, ends: np.ndarray,
    mode: str = "sentence", max_length: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Zero-boxing variant of :func:`extract_units_batch_flat` over Arrow
    binary-array buffers: ``arr`` is the uint8 view of the value buffer and
    ``starts``/``ends`` are per-document [start, end) byte bounds (a null
    document is passed as an empty span). Bit-identical rows to the list API
    (same kernels downstream); row order groups ASCII docs first, as there.

    The list API boxes one Python bytes object per document (``to_pylist``),
    translates each individually, and re-joins them into a blob; this variant
    never materializes a per-document object on the hot path — whitespace
    translation is one LUT gather, the per-class blob is one ragged
    mask-to-mask copy, and only the non-ASCII minority (which needs the
    codepoint decode) is boxed per document.
    """
    if mode not in ("sentence", "line", "paragraph", "document"):
        raise ValueError(f"unknown mode: {mode!r}")
    arr = np.asarray(arr, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    lens_all = ends - starts
    ne = np.flatnonzero(lens_all > 0)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
             np.empty(0, dtype=np.uint8), np.zeros(1, np.int64))
    if not ne.size:
        return empty

    def compact(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Gather docs ``ids`` into one contiguous translated blob (ragged
        mask-to-mask copy — no per-doc objects). Returns (blob_arr, off, lens).
        """
        c_lens = lens_all[ids]
        off = np.zeros(ids.size, dtype=np.int64)
        np.cumsum(c_lens[:-1], out=off[1:])
        total = int(off[-1] + c_lens[-1])
        out = np.empty(total, dtype=np.uint8)
        out[_run_mask(off, c_lens, total)] = arr[
            _run_mask(starts[ids], c_lens, arr.shape[0])]
        return _WS_LUT[out], off, c_lens

    if mode != "sentence":
        # line/paragraph degenerate to document mode post-squash (quirk U2);
        # one full-doc span per nonempty doc through the shared assembler
        blob_arr, off, c_lens = compact(ne)
        return _assemble_units(blob_arr, None,
                               np.arange(ne.size, dtype=np.int64),
                               off, off + c_lens, ne.tolist(), max_length)

    # ASCII classification without boxing: bitwise-OR reduceat over per-doc
    # segments of the raw buffer. Segments span from each nonempty doc's start
    # to the next one's (interleaved empty docs contribute zero bytes; a null
    # slot with residual buffer bytes can only widen a segment, which may only
    # flip a doc to the non-ASCII path — safe, that path handles ASCII too).
    last_end = int(ends[ne[-1]])
    hi = (np.bitwise_or.reduceat(arr[:last_end], starts[ne]) & 0x80) > 0
    ascii_ids = ne[~hi]
    na_ids = ne[hi]

    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []
    if ascii_ids.size:
        blob_arr, off, c_lens = compact(ascii_ids)
        doc_all, st_loc, ln_all = _split_ascii_batch(blob_arr, off,
                                                     off + c_lens)
        gs = st_loc + off[doc_all]
        parts.append(_assemble_units(blob_arr, None, doc_all, gs, gs + ln_all,
                                     ascii_ids.tolist(), max_length))
    if na_ids.size:
        # the codepoint decode needs per-doc boundaries through a NUL-joined
        # blob; boxing just this minority preserves the list-path code exactly
        na_texts = [arr[s:e].tobytes().translate(_WS_TO_SPACE)
                    for s, e in zip(starts[na_ids].tolist(),
                                    ends[na_ids].tolist())]
        doc_all, gs, ge, blob, _boff = _split_nonascii_docs_byte_spans(
            na_texts)
        parts.append(_assemble_units(np.frombuffer(blob, dtype=np.uint8),
                                     blob, doc_all, gs, ge, na_ids.tolist(),
                                     max_length))
    if not parts:
        return empty
    return _concat_flat_parts(parts)
