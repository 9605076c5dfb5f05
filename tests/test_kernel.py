"""Golden tests for the parity kernels — the executable spec of reference semantics.

Expected values hand-derived from the reference C (cited per-case); the reference binary
cannot be built in this sandbox (gcc 12 lacks C23), so these fixtures ARE the contract.
"""

import numpy as np
import pytest

from corpus_dedup_spark import kernel


def sentences(text: str | bytes) -> list[bytes]:
    data = text.encode() if isinstance(text, str) else text
    sq = kernel.squash_newlines(data)
    return [sq[s:s + l] for s, l in kernel.split_sentences(sq)]


# --- squash (Q1, src/io_utils.c:68-88) ---

def test_squash():
    assert kernel.squash_newlines(b"a\nb\rc\r\nd") == b"a b c  d"
    assert kernel.squash_newlines(b"") == b""


# --- splitter (src/sentence_splitter.c:277-401) ---

def test_demo_example():
    # the reference's own demo text (src/sentence_splitter.c:415-434)
    text = ("Hello World. This is a test... with numbers 3.14 included. "
            "Also some Japanese: これはテストです。Unicode is handled correctly!")
    assert sentences(text) == [
        b"Hello World.",
        b"This is a test...",
        "with numbers 3.14 included.".encode(),
        "Also some Japanese: これはテストです。".encode(),
        b"Unicode is handled correctly!",
    ]


def test_abbreviation_suppression():
    # 'Dr.' is a known abbreviation (src/sentence_splitter.c:144-165): no split even
    # before uppercase; 'He arrived' follows 'Washington.' → split (word > 3 alpha).
    assert sentences("Dr. Smith went to Washington. He arrived.") == [
        b"Dr. Smith went to Washington.",
        b"He arrived.",
    ]


def test_lowercase_continuation_blocks_short_words_only():
    # 'ran' ≤3 alpha + lowercase next → blocked; 'home' >3 alpha → split
    assert sentences("He ran. then fell.") == [b"He ran. then fell."]
    assert sentences("He went home. then fell.") == [b"He went home.", b"then fell."]


def test_terminator_runs_and_mixed():
    assert sentences("Wow!!! Really??? Yes.") == [b"Wow!!!", b"Really???", b"Yes."]
    # mixed ?! : '?' run ends, '!' is not whitespace → no split at '?', then '!' splits
    assert sentences("What?! Next.") == [b"What?!", b"Next."]


def test_closers_absorbed():
    assert sentences('He said "stop." Then left.') == [b'He said "stop."', b"Then left."]
    assert sentences("(Really?) Yes.") == [b"(Really?)", b"Yes."]


def test_no_split_without_whitespace_gap():
    assert sentences("pi is 3.14 ok") == [b"pi is 3.14 ok"]
    assert sentences("e.g.test") == [b"e.g.test"]


def test_cjk_immediate_terminators():
    assert sentences("これはテスト。次の文！最後？") == [
        "これはテスト。".encode(), "次の文！".encode(), "最後？".encode()]
    # halfwidth ideographic stop U+FF61 and Arabic question U+061F
    assert sentences("أهذا سؤال؟ نعم.") == ["أهذا سؤال؟".encode(), "نعم.".encode()]
    assert sentences("abc｡def") == ["abc｡".encode(), b"def"]


def test_ellipsis_u2026():
    # '…' (U+2026) is an immediate terminator; 'what' is 4 alpha → dot splits
    assert sentences("Wait… what. Done.") == ["Wait…".encode(), b"what.", b"Done."]


def test_ellipsis_blocked_by_short_lowercase():
    # 'etc.' then lowercase → blocked by abbrev+lowercase rules
    assert sentences("Apples, pears, etc. and more fruit.") == [
        b"Apples, pears, etc. and more fruit."]


def test_trailing_tail_without_terminator():
    assert sentences("No terminator here") == [b"No terminator here"]
    assert sentences("First one. tail text") == [b"First one. tail text"]  # 'one' ≤3+lower
    assert sentences("Stops here. Tail text") == [b"Stops here.", b"Tail text"]


def test_whitespace_skipping_unicode():
    # NBSP (U+00A0) and ideographic space (U+3000) are inter-sentence whitespace
    assert sentences("First. \u00a0\u3000Second.") == [b"First.", b"Second."]
    # U+2028 line separator
    assert sentences("A line.\u2028Next.") == [b"A line.", b"Next."]


def test_invalid_utf8_skipped():
    raw = b"Valid start. \xff\xfe garbage\x80 more. End."
    out = sentences(raw)
    assert out[0] == b"Valid start."
    assert out[-1] == b"End."


def test_empty_and_all_whitespace():
    assert sentences("") == []
    assert sentences("   \t  \n ") == []


def test_dot_at_end_of_text():
    assert sentences("Last one.") == [b"Last one."]
    assert sentences("Last one.\"") == [b"Last one.\""]


# --- line/paragraph splitters (src/dedup.c:218-295) — literal, pre-squash semantics ---

def test_split_lines():
    t = b"one\ntwo\r\n\nthree\n   \nfour"
    spans = kernel.split_lines(t)
    assert [t[s:s + l] for s, l in spans] == [b"one", b"two", b"three", b"four"]


def test_split_paragraphs():
    # C quirk (src/dedup.c:218-262): the newline-run consumption swallows
    # consecutive \n, so "a\n\nb" is ONE paragraph; only a line containing
    # non-newline whitespace (all bytes <=0x20) acts as a paragraph break.
    # (spans keep the newline preceding the blank line; normalize strips it later)
    t = b"p1 line1\np1 line2\n \np2 only\n\t\np3"
    spans = kernel.split_paragraphs(t)
    assert [t[s:s + l] for s, l in spans] == [b"p1 line1\np1 line2\n", b"p2 only\n", b"p3"]
    # blank-run-only separators do NOT split (quirk)
    t2 = b"a\n\nb"
    assert [t2[s:s + l] for s, l in kernel.split_paragraphs(t2)] == [b"a\n\nb"]


def test_line_mode_degenerates_after_squash():
    # quirk: the shipped binary squashes newlines BEFORE splitting, so line mode
    # degenerates to document mode
    raw = b"one\ntwo\nthree"
    units = kernel.extract_units(raw, mode="line")
    assert units == [b"one two three"]


# --- normalizer (U5/U6, src/text_utils.c:7-34 + src/dedup.c:303-306) ---

def test_normalize():
    assert kernel.normalize_unit(b"  hello   world \t ") == b"hello world"
    assert kernel.normalize_unit(b"\x00\x01a\x02\x03b\x1f") == b"a b"
    assert kernel.normalize_unit(b"   ") == b""
    assert kernel.normalize_unit(b"") == b""
    # NBSP is NOT <=0x20 at byte level -> preserved (byte semantics)
    assert kernel.normalize_unit("a\u00a0b".encode()) == "a\u00a0b".encode()


def test_truncation_bytes_not_codepoints():
    # quirk Q5: --max-length truncates BYTES and may split a UTF-8 sequence
    s = "héllo".encode()  # h=1, é=2 bytes
    assert kernel.normalize_unit(s, max_length=2) == b"h\xc3"


# --- FNV-1a (H1, src/hash_utils.c:3-10) ---

def test_fnv1a_reference_constants():
    # offset basis alone for empty input — the reference's NON-canonical constant
    assert kernel.fnv1a(b"") == 1469598103934665603
    # one byte: (offset ^ b) * prime mod 2^64
    assert kernel.fnv1a(b"a") == ((1469598103934665603 ^ ord("a")) * 1099511628211) % (1 << 64)


def test_fnv1a_many_matches_scalar():
    units = [b"", b"a", b"abc", b"", b"hello world", bytes(range(256)), b"x" * 1000]
    offsets = np.cumsum([0] + [len(u) for u in units])
    vec = kernel.fnv1a_flat(np.frombuffer(b"".join(units), np.uint8), offsets)
    assert [int(v) for v in vec] == [kernel.fnv1a(u) for u in units]


# --- UTF-8 decode (src/utf8.c) ---

def test_utf8_decode_buffer():
    cps = kernel.utf8_decode_buffer("aé中𐍈".encode())
    assert cps.tolist() == [ord("a"), 0xE9, 0x4E2D, 0x10348]
    # invalid bytes → U+FFFD, one per byte
    cps = kernel.utf8_decode_buffer(b"a\xff\xfeb")
    assert cps.tolist() == [ord("a"), 0xFFFD, 0xFFFD, ord("b")]
    # overlong and surrogate rejected
    assert kernel.utf8_decode_buffer(b"\xc0\x80").tolist() == [0xFFFD, 0xFFFD]
    assert kernel.utf8_decode_buffer(b"\xed\xa0\x80").tolist() == [0xFFFD, 0xFFFD, 0xFFFD]


# --- rolling hash (H2/H4) ---

def test_rolling_hash_window_equals_direct():
    cps = kernel.utf8_decode_buffer("the quick brown fox".encode())
    prefix, pow_ = kernel.rolling_prefix(cps, kernel.BLOCK_HASH_BASE)
    # window hash of [s,e) == Horner direct evaluation
    for s, e in [(0, 5), (3, 10), (10, len(cps))]:
        direct = 0
        for c in cps[s:e]:
            direct = (direct * 31 + int(c)) % (1 << 64)
        assert int(kernel.window_hashes(prefix, pow_, np.array([s]),
                                        np.array([e - s]))[0]) == direct


def test_search_hash_cp_plus_one():
    # value = cp+1 so a leading NUL affects the hash (src/search_mode.c:130-149)
    a = kernel.rolling_prefix(np.array([0], dtype=np.uint32), kernel.SEARCH_HASH_BASE, add=1)[0]
    assert int(a[1]) == 1  # 0*base + (0+1)


def test_window_hashes_vectorized():
    cps = kernel.utf8_decode_buffer(b"abcdefabcdef")
    prefix, pow_ = kernel.rolling_prefix(cps, kernel.SEARCH_HASH_BASE, add=1)
    starts = np.array([0, 6], dtype=np.int64)
    lens = np.array([6, 6], dtype=np.int64)
    h = kernel.window_hashes(prefix, pow_, starts, lens)
    assert h[0] == h[1]  # identical windows hash equal
    h2 = kernel.window_hashes(prefix, pow_, np.array([0, 5]), np.array([6, 6]))
    assert h2[0] != h2[1]


# --- full unit pipeline ---

def test_extract_units_pipeline():
    raw = b"First sentence. First sentence. \r\n Second   one!   "
    units = kernel.extract_units(raw)
    assert units == [b"First sentence.", b"First sentence.", b"Second one!"]


def test_extract_units_maxlen():
    units = kernel.extract_units(b"A very long sentence here. Short.", max_length=6)
    assert units == [b"A very", b"Short."]


def test_long_ascii_document_batch_matches_scalar():
    """A pure-ASCII document of 8 KiB or more: the batch kernel's units equal
    the scalar automaton's spans, normalized (abbreviations, closers,
    terminator runs and whitespace gaps included)."""
    doc = b" ".join(
        b"Mr. Smith met Dr. Jones at St. Paul's (etc.) on day %d... "
        b"Did it rain?!  \"Yes.\"   It did) ok.x" % i for i in range(160))
    assert len(doc) >= 8192 and max(doc) < 0x80
    want = [kernel.normalize_unit(doc[s:s + n])
            for s, n in kernel.split_sentences(doc)]
    d, u, v, o = kernel.extract_units_batch_flat([doc])
    assert [bytes(v[o[k]:o[k + 1]]) for k in range(len(d))] == \
        [w for w in want if w]
    assert d.tolist() == [0] * len(d) and u.tolist() == list(range(len(d)))


def test_run_mask_marks_disjoint_and_adjacent_runs():
    import numpy as np

    from corpus_dedup_spark.kernel import _run_mask

    # disjoint, adjacent (runs 2 and 3 touch), and zero-length runs
    starts = np.array([0, 4, 6, 9], dtype=np.int64)
    lens = np.array([2, 2, 3, 0], dtype=np.int64)
    m = _run_mask(starts, lens, 12)
    expect = np.zeros(12, dtype=bool)
    expect[0:2] = expect[4:6] = expect[6:9] = True
    assert (m == expect).all()
    # empty input
    z = np.empty(0, dtype=np.int64)
    assert not _run_mask(z, z, 5).any()
