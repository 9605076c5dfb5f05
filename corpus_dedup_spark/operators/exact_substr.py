"""ExactSubstr duplicate-span detection — suffix-array-style substring dedup.

The classical formulation (Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better") builds a corpus-wide suffix array and reports every
substring of length ≥ W that occurs more than once. A global suffix array cannot
scale past one machine's RAM, but its output is exactly reproducible with the
reference's own windowed-fingerprint idea (ref: src/search_mode.c:98-149 builds
per-window hashes; src/block_dups analog in operators/block_dups.py groups them):
a position is covered by a duplicated substring of length ≥ W iff its W-length
window occurs at ≥ 2 corpus positions, and the maximal duplicated spans are the
unions of overlapping duplicated windows. That makes the operator three shuffles,
none of which ever materializes anything super-linear:

1. **hash prefilter** (8-byte rows): group the per-position rolling window
   hashes (the search hash of ``build_fingerprint_index``, over the raw,
   unsquashed text), keep hashes seen ≥ 2 times. At W=40+ almost every window
   is unique, so the surviving set is tiny and AQE broadcasts it back onto the
   stream — the full W-byte window text of *unique* positions never crosses
   the wire.
2. **content confirm** (survivors only): cut each surviving window's text
   with ``substring`` and count per exact window content (hash-prefixed key,
   same comparator trick as the keeper agg) — a hash collision cannot
   fabricate a duplicate (quirk Q6: hashes accelerate, content decides).
3. **island merge** (duplicated positions only): per-document sort of the
   duplicated start positions; two windows [i,i+W) and [j,j+W) belong to one
   span iff j-i ≤ W, so a running ``sum(pos - lag(pos) > W)`` labels maximal
   spans — the gaps-and-islands plan.

Windows are stride 1 over codepoints, the exact Lee et al. grain. The only
Python in the operator is the vectorized rolling-hash pass of step 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from corpus_dedup_spark.operators.search import (build_fingerprint_index,
                                                 explode_fingerprints)


def duplicate_substring_spans(
    docs: DataFrame,
    window: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated substring spans of length ≥ ``window`` per document.

    A span covers position p of a document iff the ``window``-length substring
    starting at p occurs at ≥ 2 positions corpus-wide (other document OR a
    second position of the same document — self-repetition counts, as in
    Lee et al.). Returns (id, span_start, span_end, span_len) with 0-based
    half-open [span_start, span_end) codepoint offsets; every span has
    span_len ≥ window by construction.

    Per-position hashes come from the O(n) vectorized rolling-hash kernel
    (the same ``build_fingerprint_index`` pass the search mode persists — ref
    src/search_mode.c:98-149), so window *text* is never materialized for a
    position whose hash is unique: a JVM window explode would copy O(n·W)
    window bytes per document just to hash them (measured 4.0 s at sf0.1/32c
    vs 1.3 s for the same-shape search index build). The first shuffle
    carries only 8-byte hashes; text is cut by ``substring`` only for
    hash-survivor positions, via one join against the docs table.
    """
    # persisted: the posting arrays feed BOTH the hot-hash agg and the
    # survivor join — without the persist the kernel pass would run twice
    # (same precedent as minhash_lsh.near_dup_edges' features persist).
    # r6: the index is cached in its per-document ARRAY form (~n_docs
    # rows, not ~n_chars rows — the exploded cache was the operator's
    # single biggest cost); both consumers explode it lazily inside
    # whole-stage codegen.
    pidx = build_fingerprint_index(docs.select(id_col, text_col),
                                   window=window, id_col=id_col,
                                   text_col=text_col, squash=False).persist()
    ph = explode_fingerprints(pidx, id_col).withColumnRenamed("whash", "_h")
    hot = (
        ph.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h")
    )
    wins = (
        ph.join(hot, "_h")
        .join(docs.select(id_col, text_col), id_col)
        .select(
            id_col, "pos", "_h",
            F.expr(f"substring({text_col}, pos + 1, {int(window)})")
             .alias("win"),
        )
    )
    dup_pos = (
        wins.withColumn("_c", F.count("*").over(Window.partitionBy("_h", "win")))
        .filter(F.col("_c") > 1)
        .select(id_col, "pos")
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    lagp = F.lag("pos").over(w_doc)
    return (
        dup_pos.withColumn(
            "_brk",
            F.when(lagp.isNull() | (F.col("pos") - lagp > window), 1).otherwise(0),
        )
        .withColumn("_island", F.sum("_brk").over(w_doc))
        .groupBy(id_col, "_island")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .select(
            id_col,
            F.col("_s").cast("long").alias("span_start"),
            (F.col("_e") + window).cast("long").alias("span_end"),
            (F.col("_e") + window - F.col("_s")).cast("long").alias("span_len"),
        )
    )


def cut_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup OUTPUT: documents with every duplicated span cut out.

    This is the "drop duplicated text" variant of Lee et al. 2021 — every
    character covered by a maximal duplicated span (``duplicate_substring_spans``)
    is removed from EVERY occurrence, deterministically (no arbitrary
    keep-one choice, so the output is order-independent and exactly
    SQL-replayable). Returns (id, clean_text, n_removed).

    The splice is one JVM higher-order ``aggregate`` over the per-document
    sorted span list — whole-stage codegen, no Python, and the only shuffle
    beyond span detection is the per-doc ``collect_list`` of (start, end)
    pairs (two longs per span, never text).
    """
    span_lists = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    # fold left over spans: keep text[pos, span_start), jump pos to span_end;
    # finish with the tail text[pos, end). 1-based substring; length guard not
    # needed (spans are in-range, disjoint, sorted by construction).
    splice = F.expr(
        f"aggregate(_spans, "
        f"struct(CAST(0 AS BIGINT) AS pos, '' AS acc), "
        f"(st, s) -> struct(s.span_end AS pos, "
        f"concat(st.acc, substring({text_col}, CAST(st.pos + 1 AS INT), "
        f"CAST(s.span_start - st.pos AS INT))) AS acc), "
        f"st -> concat(st.acc, substring({text_col}, CAST(st.pos + 1 AS INT))))"
    )
    return (
        docs.select(id_col, text_col)
        .join(span_lists, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_spans").isNull(), F.col(text_col))
            .otherwise(splice)
            .alias("clean_text"),
            F.length(text_col).cast("long").alias("_n0"),
        )
        .select(
            id_col,
            "clean_text",
            (F.col("_n0") - F.length("clean_text")).alias("n_removed"),
        )
    )


def duplicate_span_stats(spans: DataFrame, docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-document duplicated-character totals (0 for span-free documents)."""
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"), F.sum("span_len").alias("dup_chars")
    )
    return (
        docs.select(id_col, F.length(text_col).cast("long").alias("n_chars"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_chars",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
        )
    )
