"""ExactSubstr duplicate-span detection (operators/exact_substr.py).

Planted-truth span boundaries, the island-merge edge cases (touching vs gapped
windows, self-repetition), and a naive Python-oracle property check on
deterministic pseudo-random and spliced corpora.
"""

import random

import pytest

from corpus_dedup_spark.operators.exact_substr import (cut_duplicate_spans,
                                                       duplicate_span_stats,
                                                       duplicate_substring_spans)

W = 8


def _spans(spark, docs, window=W):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = duplicate_substring_spans(df, window=window, id_col="doc_id").collect()
    return sorted((r.doc_id, r.span_start, r.span_end, r.span_len) for r in rows)


def naive_spans(docs, window):
    """Quadratic reference: per position, window occurs ≥2 times corpus-wide."""
    from collections import Counter

    counts = Counter(
        t[i:i + window] for _, t in docs for i in range(len(t) - window + 1)
    )
    out = []
    for doc_id, t in docs:
        dup = [i for i in range(len(t) - window + 1)
               if counts[t[i:i + window]] > 1]
        start = prev = None
        for p in dup:
            if start is None:
                start = prev = p
            elif p - prev > window:
                out.append((doc_id, start, prev + window, prev + window - start))
                start = prev = p
            else:
                prev = p
        if start is not None:
            out.append((doc_id, start, prev + window, prev + window - start))
    return sorted(out)


def test_no_duplicates_no_spans(spark):
    docs = [(1, "abcdefghijklmnop"), (2, "qrstuvwxyz012345")]
    assert _spans(spark, docs) == []


def test_full_copy_is_whole_doc_span(spark):
    t = "the quick brown fox jumps over it"
    docs = [(1, t), (2, t)]
    exp = [(1, 0, len(t), len(t)), (2, 0, len(t), len(t))]
    assert _spans(spark, docs) == exp


def test_partial_overlap_span_boundaries(spark):
    # 12 shared chars inside otherwise-unique docs: span = the shared region
    shared = "SHAREDREGION"  # len 12 ≥ W
    a = "aaaaaa" + shared + "bbbbbbb"
    # prefix must not self-repeat at W=8 ("ccccccccc" has "cccccccc" twice,
    # which merges with the shared span — gap 8 ≤ W)
    b = "cdefghjkm" + shared + "ddd"
    assert _spans(spark, [(1, a), (2, b)]) == [
        (1, 6, 18, 12), (2, 9, 21, 12)]


def test_self_repetition_counts(spark):
    # Lee et al. count a second occurrence in the SAME document
    t = "XYZWABCDE--------XYZWABCDE"  # "XYZWABCDE" (9 ≥ W) twice, one doc
    got = _spans(spark, [(1, t)])
    assert got == [(1, 0, 9, 9), (1, 17, 26, 9)]


def test_two_spans_merge_when_gap_le_window(spark):
    # duplicated windows at distance == W merge; at distance > W they split.
    # Construct with two shared blocks separated by unique gaps of different size.
    blk1, blk2 = "AAAABBBB", "CCCCDDDD"  # each exactly W
    # gap of 1 unique char between them in doc1 (distance 9 > W=8 → windows
    # crossing the gap are unique, but starts 0 and 9 differ by 9 > 8 → split)
    d1 = blk1 + "x" + blk2
    d2 = "zz" + blk1 + "qqq" + blk2 + "y"
    got = _spans(spark, [(1, d1), (2, d2)])
    assert (1, 0, 8, 8) in got and (1, 9, 17, 8) in got
    assert (2, 2, 10, 8) in got and (2, 13, 21, 8) in got


def _spliced_corpus():
    """Random docs over a 6-letter alphabet plus four docs spliced from two of
    them each: long cross-document duplicates on top of organic ones."""
    rnd = random.Random(7)
    alpha = "abcdef"
    base = ["".join(rnd.choice(alpha) for _ in range(60)) for _ in range(12)]
    docs = [(i, t) for i, t in enumerate(base)]
    docs += [(100 + i, base[i][10:40] + base[(i + 1) % 12][5:35])
             for i in range(0, 12, 3)]
    return docs


def test_matches_naive_oracle_random(spark):
    rnd = random.Random(42)
    alpha = "ab"  # tiny alphabet → organic window collisions exercise merging
    docs = [(i, "".join(rnd.choice(alpha) for _ in range(rnd.randint(0, 50))))
            for i in range(30)]
    assert _spans(spark, docs) == naive_spans(docs, W)
    spliced = _spliced_corpus()
    expected = naive_spans(spliced, W)
    assert expected and _spans(spark, spliced) == expected


def test_span_stats_accounting(spark):
    t = "the quick brown fox jumps over it"
    docs = [(1, t), (2, t), (3, "unique text without any repeats")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    spans = duplicate_substring_spans(df, window=W, id_col="doc_id")
    rows = duplicate_span_stats(spans, df, id_col="doc_id").collect()
    got = {r.doc_id: (r.n_chars, r.n_spans, r.dup_chars) for r in rows}
    assert got == {1: (len(t), 1, len(t)), 2: (len(t), 1, len(t)),
                   3: (len(docs[2][1]), 0, 0)}


def _clean(spark, docs, window=W):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    spans = duplicate_substring_spans(df, window=window, id_col="doc_id")
    rows = cut_duplicate_spans(df, spans, id_col="doc_id").collect()
    return {r.doc_id: (r.clean_text, r.n_removed) for r in rows}


def naive_clean(docs, window):
    out = {}
    spans_by_doc = {}
    for doc_id, s, e, _l in naive_spans(docs, window):
        spans_by_doc.setdefault(doc_id, []).append((s, e))
    for doc_id, t in docs:
        keep = list(t)
        for s, e in spans_by_doc.get(doc_id, []):
            keep[s:e] = [None] * (e - s)
        clean = "".join(c for c in keep if c is not None)
        out[doc_id] = (clean, len(t) - len(clean))
    return out


def test_clean_no_spans_unchanged(spark):
    docs = [(1, "abcdefghijklmnop"), (2, "qrstuvwxyz012345")]
    assert _clean(spark, docs) == {1: (docs[0][1], 0), 2: (docs[1][1], 0)}


def test_clean_full_copy_becomes_empty(spark):
    t = "the quick brown fox jumps over it"
    assert _clean(spark, [(1, t), (2, t)]) == {
        1: ("", len(t)), 2: ("", len(t))}


def test_clean_partial_span_splices_remainder(spark):
    shared = "SHAREDREGION"
    a = "aaaaaa" + shared + "bbbbbbb"
    b = "cdefghjkm" + shared + "ddd"
    assert _clean(spark, [(1, a), (2, b)]) == {
        1: ("aaaaaa" + "bbbbbbb", 12), 2: ("cdefghjkm" + "ddd", 12)}


def test_clean_matches_naive_oracle_random(spark):
    rnd = random.Random(97)
    docs = [(i, "".join(rnd.choice("ab") for _ in range(rnd.randint(0, 50))))
            for i in range(30)]
    assert _clean(spark, docs) == naive_clean(docs, W)


@pytest.mark.parametrize("window", [3, 5, 13])
def test_naive_oracle_other_windows(spark, window):
    rnd = random.Random(window)
    docs = [(i, "".join(rnd.choice("abc") for _ in range(rnd.randint(0, 40))))
            for i in range(20)]
    assert _spans(spark, docs, window=window) == naive_spans(docs, window)
    spliced = _spliced_corpus()
    assert _spans(spark, spliced, window=window) == naive_spans(spliced, window)
