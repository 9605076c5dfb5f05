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
    cp, is_start = _utf8_decode_vec(arr)
    return cp[is_start]


def _utf8_decode_vec(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode, bit-identical to the scalar advance loop.

    Returns ``(cp, is_start)`` over the BYTES of ``arr``: ``is_start`` marks
    the byte that starts each decoded codepoint and ``cp`` holds that
    codepoint there, so ``cp[is_start]`` is the decoded buffer and
    ``np.flatnonzero(is_start)`` each codepoint's byte position.

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
    return cp, is_start


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

    This scalar automaton is the executable spec for every input. The batch
    splitter :func:`_split_batch` behind :func:`extract_units_batch_flat` is
    property-tested against it (tests/test_kernel_properties.py).
    """
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


# lowercase 2-/3-letter abbreviation words packed as little integers for vectorized
# membership tests ("mr" → 0x6d72, ...)
_ABBREV_2_CODES = np.array(
    sorted((w[0] << 8) | w[1] for w in _ABBREV_2), dtype=np.int64)
_ABBREV_3_CODES = np.array(
    sorted((w[0] << 16) | (w[1] << 8) | w[2] for w in _ABBREV_3), dtype=np.int64)


def _skip_class_vec(arr: np.ndarray, pos: np.ndarray, limit: np.ndarray,
                    tbl: np.ndarray, N: int, max_iter: int = 24) -> np.ndarray:
    """First position >= pos whose character is NOT in class ``tbl``, clamped
    per-element to ``limit``. Vectorized +1 advance per round — class runs
    (closers, whitespace gaps) are short in real text; rounds are capped with a
    scalar fallback so a pathological run costs O(run), not O(run × events)."""
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


# Character classes of the batch splitter, indexed by byte or codepoint.
_CP_TABLE_SIZE = 0x110000


def _build_cp_tables() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ws = np.zeros(_CP_TABLE_SIZE, dtype=bool)           # _is_basic_white_space
    ws[: 0x21] = True
    for _c in (0x00A0, 0x1680, 0x3000, 0x2028, 0x2029, 0x202F, 0x205F):
        ws[_c] = True
    ws[0x2000:0x200B] = True
    cl = np.zeros(_CP_TABLE_SIZE, dtype=bool)           # ASCII + unicode closers
    for _c in _ASCII_CLOSERS | _UNICODE_CLOSERS:
        cl[_c] = True
    im = np.zeros(_CP_TABLE_SIZE, dtype=bool)           # immediate terminators
    for _c in _IMMEDIATE_TERMINATORS:
        im[_c] = True
    return ws, cl, im


_CP_WS_TBL, _CP_CLOSER_TBL, _CP_IMM_TBL = _build_cp_tables()


def _split_batch(
    codes: np.ndarray, offsets: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized sentence splitting over a CONCATENATED batch of documents.

    ``codes`` holds uint8 bytes for pure-ASCII documents or uint32 codepoints
    (from :func:`_utf8_decode_vec`) for the rest; ``offsets``/``ends`` are
    per-document [start, end) bounds in it. Returns ``(doc_idx, start_local,
    length)`` in ``codes`` indices, sorted by (doc, start) — per-doc spans
    identical to :func:`split_sentences` (property-tested).

    Why this is safe to batch: every maximal same-char run of ``. ! ?`` is an
    independent "event" (the scalar cursor's jumps only skip closer/whitespace
    characters, which contain no terminators), so events classify in parallel.
    Each per-event skip (run end → closers → whitespace gap) is clamped to the
    event's own document end, and the dot-suppression backward letter scan to
    its document start — so no state leaks across document boundaries.
    Immediate terminators (。？！…؟｡ — src/sentence_splitter.c:21-24) each split
    unconditionally after closer absorption, with NO run merging and no
    whitespace-gap requirement; all six are non-ASCII, so a uint8 batch skips
    that pass. Invalid bytes decode to U+FFFD, which is in no character class —
    exactly the scalar ``cursor++``.
    """
    N = codes.shape[0]
    n_docs = offsets.shape[0]
    ss0 = _skip_class_vec(codes, offsets.copy(), ends, _CP_WS_TBL, N)

    ev = np.flatnonzero((codes == 0x2E) | (codes == 0x21) | (codes == 0x3F))
    e_parts, after_parts, ws_parts, doc_parts = [], [], [], []

    if ev.size:
        # maximal same-char run starts ('..' then '!' is two events); a doc start
        # always begins a fresh run even if the previous doc ended with the same char
        oidx = np.searchsorted(offsets, ev, side="left")
        at_doc_start = (oidx < n_docs) & (offsets[np.minimum(oidx, n_docs - 1)] == ev)
        starts_mask = at_doc_start
        nz = ev > 0
        starts_mask[nz] |= codes[ev[nz] - 1] != codes[ev[nz]]
        e = ev[starts_mask]

        doc_idx = np.searchsorted(ends, e, side="right")
        d_end = ends[doc_idx]
        d_start = offsets[doc_idx]

        # term_end: end of the same-char run (terminator runs are short — the
        # +1 advance of _skip_class_vec over the still-active set)
        b0 = codes[e]
        term_end = np.minimum(e + 1, d_end)
        active = (term_end < d_end) & (codes[np.minimum(term_end, N - 1)] == b0)
        it = 0
        while active.any():
            it += 1
            if it > 24:  # pathological terminator run → scalar per-event
                for k in np.flatnonzero(active):
                    p, lim, c = int(term_end[k]), int(d_end[k]), codes[e[k]]
                    while p < lim and codes[p] == c:
                        p += 1
                    term_end[k] = p
                break
            term_end[active] += 1
            active = (term_end < d_end) & (codes[np.minimum(term_end, N - 1)] == b0)

        after = _skip_class_vec(codes, term_end, d_end, _CP_CLOSER_TBL, N)
        ws = _skip_class_vec(codes, after.copy(), d_end, _CP_WS_TBL, N)

        # dot-suppression (only '.' events with a whitespace gap can be blocked)
        gap = ws > after
        is_dot = b0 == 0x2E
        blocked = np.zeros(e.shape, dtype=bool)
        need = is_dot & gap & (ws < d_end)
        if need.any():
            lower = codes | 0x20  # only consulted through ASCII range checks

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
            lower_follows = (codes[ws_c] >= 97) & (codes[ws_c] <= 122)
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
        e_parts.append(e[split])
        after_parts.append(after[split])
        ws_parts.append(ws[split])
        doc_parts.append(doc_idx[split])

    if codes.dtype != np.uint8:
        ev_i = np.flatnonzero(_CP_IMM_TBL[codes])
        doc_i = np.searchsorted(ends, ev_i, side="right")
        d_end_i = ends[doc_i]
        after_i = _skip_class_vec(
            codes, np.minimum(ev_i + 1, d_end_i), d_end_i, _CP_CLOSER_TBL, N)
        e_parts.append(ev_i)
        after_parts.append(after_i)
        ws_parts.append(_skip_class_vec(codes, after_i.copy(), d_end_i, _CP_WS_TBL, N))
        doc_parts.append(doc_i)

    # span assembly: each split event closes a span [ss, after); ss chains from the
    # previous split's ws within the doc (first split in a doc starts at ss0);
    # each doc emits a tail span [last_ss, end) when content remains
    if e_parts:
        s_after, s_ws, s_doc = (np.concatenate(p) for p in
                                (after_parts, ws_parts, doc_parts))
        if len(e_parts) > 1:  # interleave run and immediate events in text order
            order = np.argsort(np.concatenate(e_parts), kind="stable")
            s_after, s_ws, s_doc = s_after[order], s_ws[order], s_doc[order]
    else:
        s_after = s_ws = s_doc = np.empty(0, dtype=np.int64)
    first_in = np.ones(s_doc.shape, dtype=bool)
    first_in[1:] = s_doc[1:] != s_doc[:-1]
    ss_arr = np.empty(s_after.shape, dtype=np.int64)
    ss_arr[1:] = s_ws[:-1]
    ss_arr[first_in] = ss0[s_doc[first_in]]
    keep = s_after > ss_arr
    last_in = np.ones(s_doc.shape, dtype=bool)
    last_in[:-1] = s_doc[1:] != s_doc[:-1]
    last_ss = ss0.copy()
    last_ss[s_doc[last_in]] = s_ws[last_in]

    tail_keep = ends > last_ss
    doc_all = np.concatenate([s_doc[keep], np.flatnonzero(tail_keep)])
    st_all = np.concatenate([ss_arr[keep], last_ss[tail_keep]])
    ln_all = np.concatenate([(s_after - ss_arr)[keep], (ends - last_ss)[tail_keep]])
    order = np.lexsort((st_all, doc_all))
    doc_all, st_all, ln_all = doc_all[order], st_all[order], ln_all[order]
    return doc_all, st_all - offsets[doc_all], ln_all


def _sentence_spans(
    texts: list[bytes], ascii_: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, bytes]:
    """Batched sentence split of ``texts`` → ``(doc_idx, start, end, blob)``:
    global BYTE spans over ``blob``, the texts joined by one NUL each.

    Pure-ASCII texts (``ascii_``) split over their bytes. The others split over
    the codepoints of one vectorized decode of the whole blob — the NUL is
    ASCII and no continuation byte, so no sequence decodes across a document
    boundary — and map back through each codepoint's byte position. Per-doc
    clamps in :func:`_split_batch` keep the separators out of every span."""
    blob = b"\x00".join(texts)
    arr = np.frombuffer(blob, dtype=np.uint8)
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    boff = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=boff[1:])  # +1 per NUL separator
    bend = boff + lens
    if ascii_:
        doc_all, st_loc, ln = _split_batch(arr, boff, bend)
        gs = boff[doc_all] + st_loc
        return doc_all, gs, gs + ln, blob
    cp, is_start = _utf8_decode_vec(arr)
    bpos = np.flatnonzero(is_start)
    cp_off = np.searchsorted(bpos, boff)
    doc_all, st_loc, ln = _split_batch(cp[bpos], cp_off,
                                       np.searchsorted(bpos, bend))
    g0 = cp_off[doc_all] + st_loc
    bpos = np.append(bpos, len(blob))
    return doc_all, bpos[g0], bpos[g0 + ln], blob


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


def fnv1a_flat(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """FNV-1a over flat (values, offsets) buffers — the zero-boxing companion of
    :func:`extract_units_batch_flat` (no per-unit bytes objects): one numpy
    pass per byte position across all units, fast for bounded unit lengths
    (sentences). Bit-identical to :func:`fnv1a` per unit."""
    m = len(offsets) - 1
    starts = np.asarray(offsets[:-1], dtype=np.int64)
    lengths = np.asarray(offsets[1:], dtype=np.int64) - starts
    h = np.full(m, FNV_OFFSET, dtype=np.uint64)
    max_len = int(lengths.max(initial=0))
    if max_len == 0:
        return h
    blob = np.asarray(values, dtype=np.uint8)
    prime = np.uint64(FNV_PRIME)
    # sort by length so the active set is a suffix → pure slicing, no boolean masks
    order = np.argsort(lengths, kind="stable")
    h_s = h[order]
    off_s = starts[order]
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


def extract_units_batch(
    texts: list[bytes], mode: str = "sentence", max_length: int = 0
) -> list[list[bytes]]:
    """:func:`extract_units` per document, as a list of unit lists: the
    scalar pipeline, so a reference built on it checks
    :func:`extract_units_batch_flat` against the oracle, not against itself."""
    return [extract_units(t, mode, max_length) for t in texts]


# every byte <= 0x20 → space: the composition of the newline squash (Q1) and the
# whitespace CLASS of the normalizer — byte classes (terminator/closer/alpha/ws)
# are preserved, so sentence spans computed on the translated text are identical
_WS_TO_SPACE = bytes(0x20 if b <= 0x20 else b for b in range(256))


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
    blob: bytes, doc_all: np.ndarray, gs: np.ndarray, ge: np.ndarray,
    batch_ids: list[int], max_length: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Spans → normalized flat unit buffers, for every mode of
    :func:`extract_units_batch_flat`.

    ``blob`` holds whitespace-translated text (every byte <= 0x20 is a
    space, except the NUL separators of :func:`_sentence_spans`, which no
    span covers), ``gs``/``ge`` are global byte spans, ``doc_all`` indexes
    ``batch_ids``. Clean spans (no interior double space, no leading or
    trailing space) copy verbatim via one ragged gather; dirty spans
    re-normalize individually. (Sentence spans never start with whitespace;
    the leading check exists for the full-document spans of the
    line/paragraph/document modes.)"""
    arr = np.frombuffer(blob, dtype=np.uint8)
    sp = arr == 0x20
    dbl = np.flatnonzero(sp[:-1] & sp[1:])
    dirty = (np.searchsorted(dbl, gs) != np.searchsorted(dbl, ge - 1)) \
        | sp[np.maximum(ge - 1, 0)] | sp[np.minimum(gs, sp.shape[0] - 1)]
    out_lens = (ge - gs).copy()
    dirty_ids = np.flatnonzero(dirty)
    dirty_bytes = [b" ".join(blob[a:b].split())
                   for a, b in zip(gs[dirty_ids].tolist(),
                                   ge[dirty_ids].tolist())]
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
    rebasing each subsequent part's offsets onto the growing value buffer."""
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
    """The batch unit kernel: :func:`extract_units` over a whole Arrow batch,
    returned as flat buffers.

    Returns ``(doc_idx, unit_idx, values, offsets)``: unit k's bytes are
    ``values[offsets[k]:offsets[k+1]]``, belonging to document ``doc_idx[k]`` at
    in-document position ``unit_idx[k]``. Row content is bit-identical to
    :func:`extract_units` per document. In sentence mode, ROW ORDER groups the
    pure-ASCII documents first, then the others: both halves run the one
    vectorized splitter :func:`_split_batch`, the first over bytes and the
    second over decoded codepoints. The ASCII half skips the decode because
    it dominates the split: on 2,155 pure-ASCII benchmark documents the
    codepoint split took 0.12 s against 0.017 s over bytes (one core of a
    4-vCPU x86 host). Downstream consumers are order-free relational operators, and the per-doc
    (doc_idx, unit_idx) pairs are identical.

    No Python bytes object is made per unit: the Arrow-ready value/offset
    buffers are assembled directly, with one vectorized ragged gather for the
    clean spans (dirty spans — interior double spaces or a trailing space —
    are normalized individually, typically a small minority)."""
    if mode not in MODES:
        raise ValueError(f"unknown mode: {mode!r}")
    # every byte <= 0x20 becomes a space: whitespace-class and letter-class
    # membership are preserved byte-for-byte, so no span changes, and the
    # byte-level normalization in _assemble_units is valid
    tts = [t.translate(_WS_TO_SPACE) for t in texts]
    lens_all = np.fromiter(map(len, tts), dtype=np.int64, count=len(tts))
    ne = np.flatnonzero(lens_all > 0)
    if not ne.size:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), np.empty(0, dtype=np.uint8), np.zeros(1, np.int64)
    blob_all = b"".join(tts)
    starts_all = np.zeros(len(tts), dtype=np.int64)
    np.cumsum(lens_all[:-1], out=starts_all[1:])
    if mode != "sentence":
        # After the reference's read-time newline squash (Q1,
        # src/io_utils.c:68-88) no \n/\r bytes remain, so line and paragraph
        # splitting DEGENERATE to one whole-document span (the U2 degeneracy
        # quirk) — identical to document mode. One full-doc span per doc
        # through the shared vectorized assembler; all-space docs normalize
        # to empty and drop (P1/P2).
        gs = starts_all[ne]
        return _assemble_units(blob_all, np.arange(ne.size, dtype=np.int64),
                               gs, gs + lens_all[ne], ne.tolist(), max_length)
    # ASCII/non-ASCII classification in ONE pass over the concatenated
    # bytes (bitwise-OR per doc segment)
    hi = (np.bitwise_or.reduceat(np.frombuffer(blob_all, dtype=np.uint8),
                                 starts_all[ne]) & 0x80) > 0
    parts = []
    for ids, ascii_ in ((ne[~hi], True), (ne[hi], False)):
        if ids.size:
            ids = ids.tolist()
            doc_all, gs, ge, blob = _sentence_spans([tts[i] for i in ids], ascii_)
            parts.append(_assemble_units(blob, doc_all, gs, ge, ids, max_length))
    return _concat_flat_parts(parts)
