"""Text-analysis operators for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

Everything here is either a JVM-side column expression (whole-stage-codegen friendly —
the hot path never leaves Tungsten) or, where byte-level parity is needed
(fingerprints), a vectorized pandas UDF over the parity kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from corpus_dedup_spark import kernel

# ---------------------------------------------------------------------------
# S1 — fnmatch-style file mask → anchored regex (for Column.rlike)
# ---------------------------------------------------------------------------

def glob_to_rlike(mask: str) -> str:
    """Translate an fnmatch glob (the reference's file mask — default '*.txt',
    ref src/config.c:4; matcher src/dedup.c:899-1014) to an anchored Java regex
    usable with ``Column.rlike``.

    Supports ``*`` (any run), ``?`` (any one char), ``[seq]`` / ``[!seq]``
    (char class / negated); every other char is escaped literally. An unclosed
    ``[`` is treated as a literal bracket, matching fnmatch behavior.
    """
    out = ["^"]
    i, n = 0, len(mask)
    while i < n:
        c = mask[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = i + 1
            if j < n and mask[j] in "!^":
                j += 1
            if j < n and mask[j] == "]":  # leading ] is a literal member
                j += 1
            while j < n and mask[j] != "]":
                j += 1
            if j >= n:  # unclosed '[' → literal
                out.append("\\[")
            else:
                inner = mask[i + 1:j]
                if inner.startswith("!"):
                    inner = "^" + inner[1:]
                # escape regex-special chars inside the class except ^ - ]:
                # backslash, plus Java-regex class metasyntax fnmatch lacks —
                # '&&' (intersection) and nested '[' (union) would otherwise
                # change the match set silently
                inner = (inner.replace("\\", "\\\\")
                              .replace("&", "\\&")
                              .replace("[", "\\["))
                out.append("[" + inner + "]")
                i = j
        else:
            if c in ".^$+{}()|\\":
                out.append("\\" + c)
            else:
                out.append(c)
        i += 1
    out.append("$")
    return "".join(out)


# ---------------------------------------------------------------------------
# Language ID: marker-word n-gram heuristic (pure column expressions)
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "es": [" el ", " la ", " de ", " que ", " los "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " les ", " des ", " est ", " une "],
    "pt": [" o ", " os ", " um ", " uma ", " não "],
    "it": [" il ", " gli ", " di ", " che ", " per "],
    "nl": [" de ", " het ", " een ", " van ", " niet "],
}
# Cyrillic-script languages are disambiguated by stopword markers, not hardwired
_CYRILLIC_MARKERS: dict[str, list[str]] = {
    "uk": [" і ", " та ", " що ", " це ", " він ", " як ", " не "],
    "ru": [" и ", " в ", " не ", " что ", " он ", " это ", " как "],
    "bg": [" и ", " на ", " да ", " се ", " това ", " той "],
}
_CJK_RANGE = "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]"
_KANA_RANGE = "[\\u3040-\\u30ff]"
_HANGUL_RANGE = "[\\uac00-\\ud7af]"
_ARABIC_RANGE = "[\\u0600-\\u06ff]"
_CYRILLIC_RANGE = "[\\u0400-\\u04ff]"


def _marker_score(text: Column, markers: list[str]) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = F.lit(0)
    for m in markers:
        # occurrence count via length arithmetic (JVM-side, no UDF)
        score = score + (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))) / len(m)
    return score.cast("long")


def _marker_vote(text: Column, markers: dict[str, list[str]],
                 default: str) -> Column:
    """Best-scoring language from a marker table; earlier entries win ties; zero
    score everywhere → ``default``."""
    scores = [(lang, _marker_score(text, m)) for lang, m in markers.items()]
    best = F.greatest(*[s for _, s in scores])
    pick = F.lit(default)
    # reverse order so earlier languages win ties deterministically
    for lang, s in reversed(scores):
        pick = F.when(s == best, F.lit(lang)).otherwise(pick)
    return F.when(best > 0, pick).otherwise(F.lit(default))


def lang_id_expr(text: Column) -> Column:
    """Heuristic language label: script detection first (CJK/Arabic/Cyrillic by
    codepoint-class density), then stopword-marker votes WITHIN the script class
    (Cyrillic disambiguates uk/ru/bg by markers, not a hardwired label).
    Returns 'und' when nothing scores."""
    n = F.length(text)
    cjk = F.length(F.regexp_replace(text, _CJK_RANGE, "")) < n * 0.7
    # within the CJK class: any kana ⇒ Japanese, hangul-dominant ⇒ Korean,
    # else Han ⇒ zh (kana is the discriminating script — Japanese prose always
    # carries it, Chinese never does)
    kana = F.length(F.regexp_replace(text, _KANA_RANGE, "")) < n
    hangul = F.length(F.regexp_replace(text, _HANGUL_RANGE, "")) < n * 0.7
    ar = F.length(F.regexp_replace(text, _ARABIC_RANGE, "")) < n * 0.7
    cy = F.length(F.regexp_replace(text, _CYRILLIC_RANGE, "")) < n * 0.7
    return (
        F.when(n.isNull() | (n == 0), F.lit("und"))
        .when(cjk & kana, F.lit("ja"))
        .when(cjk & hangul, F.lit("ko"))
        .when(cjk, F.lit("zh"))
        .when(ar, F.lit("ar"))
        .when(cy, _marker_vote(text, _CYRILLIC_MARKERS, "uk"))
        .otherwise(_marker_vote(text, _LANG_MARKERS, "und"))
    )


# ---------------------------------------------------------------------------
# Quality scoring (length / punct / stopword / word-shape ratios)
# ---------------------------------------------------------------------------

def quality_features(text: Column) -> dict[str, Column]:
    n = F.length(text)
    n_alpha = n - F.length(F.regexp_replace(text, "[A-Za-z]", ""))
    n_digit = n - F.length(F.regexp_replace(text, "[0-9]", ""))
    n_punct = n - F.length(F.regexp_replace(text, "[\\.,;:!\\?\"'()\\[\\]{}]", ""))
    n_space = n - F.length(F.replace(text, F.lit(" "), F.lit("")))
    n_words = F.size(F.filter(F.split(text, "\\s+"), lambda w: w != ""))
    stop_hits = _marker_score(text, _LANG_MARKERS["en"])
    return {
        "n_chars": n,
        "n_words": n_words,
        "alpha_ratio": (n_alpha / F.greatest(n, F.lit(1))).cast("double"),
        "digit_ratio": (n_digit / F.greatest(n, F.lit(1))).cast("double"),
        "punct_ratio": (n_punct / F.greatest(n, F.lit(1))).cast("double"),
        "mean_word_len": ((n - n_space) / F.greatest(n_words, F.lit(1))).cast("double"),
        "stopword_ratio": (stop_hits / F.greatest(n_words, F.lit(1))).cast("double"),
    }


def quality_score_expr(text: Column) -> Column:
    """Composite [0,1] quality score — boilerplate/garbage pages score low.
    Heuristic mirrors common web-corpus filters (length band, alpha density,
    stopword presence, sane word length)."""
    f = quality_features(text)
    len_ok = F.when((f["n_chars"] >= 200) & (f["n_chars"] <= 100000), 1.0) \
        .when(f["n_chars"] >= 50, 0.5).otherwise(0.0)
    alpha_ok = F.when(f["alpha_ratio"] >= 0.6, 1.0) \
        .when(f["alpha_ratio"] >= 0.4, 0.5).otherwise(0.0)
    stop_ok = F.when(f["stopword_ratio"] >= 0.05, 1.0)\
        .when(f["stopword_ratio"] > 0, 0.5).otherwise(0.0)
    wordlen_ok = F.when((f["mean_word_len"] >= 3) & (f["mean_word_len"] <= 12), 1.0) \
        .otherwise(0.0)
    return ((len_ok + alpha_ok + stop_ok + wordlen_ok) / 4.0).alias("quality")


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex; pure expressions)
# ---------------------------------------------------------------------------

BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]"


def token_count_ws(text: Column) -> Column:
    return F.size(F.filter(F.split(text, "\\s+"), lambda w: w != "")).alias("n_tokens_ws")


def token_count_bpe(text: Column) -> Column:
    """Approximate BPE token count: alpha runs + short digit groups + single
    punctuation, scaled by the empirical ~1.3 subword/word factor is left to callers."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).alias("n_tokens_bpe")


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def rolling_fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Whole-document rolling hash (base-31 mod 2^64 over codepoints of the squashed,
    normalized text — H2 constants, ref src/block_tree_core.c:162-201)."""
    out = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        raw = (t or "").encode("utf-8")
        norm = kernel.normalize_unit(kernel.squash_newlines(raw))
        cps = kernel.utf8_decode_buffer(norm)
        prefix, _ = kernel.rolling_prefix(cps, kernel.BLOCK_HASH_BASE)
        out[i] = np.int64(np.uint64(prefix[len(cps)]).view(np.int64))
    return pd.Series(out)


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full analysis column set to a document DataFrame.

    The ``fingerprint`` column is the REFERENCE-PARITY rolling hash (base-31
    mod 2^64 over codepoints of the squashed+normalized text — H2 constants,
    ref src/block_tree_core.c:162-201), not xxhash64: it is the document-level
    member of the reference's own fingerprint family, and being plain modular
    arithmetic it is value-checkable by an ANSI-SQL oracle end-to-end
    (SQL_TEXT_PROFILE)."""
    c = F.col(text_col)
    feats = quality_features(c)
    return df.select(
        "*",
        lang_id_expr(c).alias("lang_pred"),
        quality_score_expr(c),
        token_count_ws(c),
        token_count_bpe(c),
        rolling_fingerprint_udf(c).alias("fingerprint"),
        *[v.alias(k) for k, v in feats.items() if k not in ("n_chars",)],
    )


# ---------------------------------------------------------------------------
# PII scrubbing (extension — ROOTS/BigScience-style redaction; the reference
# has no PII stage). Pure JVM regexp pipeline, patterns restricted to the
# Java-regex ∩ RE2 dialect so a SQL oracle can replay them verbatim.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3,4}-\d{3,4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document PII match counts (emails, phone-shaped numbers, IPv4)."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL)),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE)),
        "n_ips": F.regexp_count(text, F.lit(PII_IPV4)),
    }


def scrub_pii_expr(text: Column) -> Column:
    """Redact PII in place with typed placeholders. Email first — an email's
    host part could otherwise be half-eaten by the IP rule; the remaining two
    patterns are disjoint (digit-dash vs digit-dot shapes)."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4, "<IP>")
