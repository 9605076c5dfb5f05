"""Rabin–Karp substring search over a fingerprint index (reference ``search`` mode).

The reference decodes every file to UTF-32, concatenates them into one global array,
builds prefix tables (base 1315423911, value = cp+1) and answers REPL queries by O(1)
window-hash probes + verify (ref: src/search_mode.c:98-149,248-314). Spark-first shape:
the "index" is a DataFrame of per-document window fingerprints for a given window size
(positions stay per-document — a global array cannot scale); each query is a filter (or
broadcast join for query batches) + substring verify + aggregation.

Like the reference, a hash match is only a candidate — verification compares the actual
text (quirk Q6, src/search_mode.c:286-294).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_dedup_spark import kernel
from corpus_dedup_spark.functions.udfs import make_window_fingerprints_udf


def query_hash(query: str) -> int:
    """Search-hash of a query string (base 1315423911, value = cp+1)."""
    cps = kernel.utf8_decode_buffer(query.encode("utf-8"))
    prefix, _ = kernel.rolling_prefix(cps, kernel.SEARCH_HASH_BASE, add=1)
    return int(np.uint64(prefix[len(cps)]).view(np.int64))


def build_fingerprint_index(pages: DataFrame, window: int, id_col: str = "url",
                            text_col: str = "text", squash: bool = True) -> DataFrame:
    """(id, fps: array<int64>) — per-document window-fingerprint postings;
    ``fps[pos]`` is the rolling hash of the window starting at codepoint
    ``pos``.

    Persist/write this once per window size; queries of that length are then
    pure probes. At scale: partition by whash bucket for probe locality.

    r6 layout: ONE posting-array row per document, not one row per position.
    The persisted index is ~n_docs rows instead of ~n_chars rows (measured
    far cheaper to materialize and cache — the exploded form was 14.5M rows
    for 50k docs), and probes explode it lazily inside whole-stage codegen
    (:func:`explode_fingerprints` — Generate streams, nothing materializes
    the exploded rows). Position/hash semantics are unchanged:
    ``posexplode(fps)`` yields exactly the former (pos, whash) rows.
    """
    from corpus_dedup_spark.functions.layout import fan_out

    fps = make_window_fingerprints_udf(window) if squash else \
        _raw_fingerprints_udf(window)
    # layout repair: the rolling-hash UDF lives above the scan; a single-split
    # input (the driver's one-row-group parquet) would otherwise hash the
    # whole corpus in ONE task. No-op when the scan already matches the
    # cluster.
    return fan_out(pages.select(id_col, text_col)).select(
        id_col, fps(F.col(text_col)).alias("fps")
    )


def explode_fingerprints(index: DataFrame, id_col: str = "url") -> DataFrame:
    """(id, pos, whash): the exploded view of the posting arrays — one row per
    codepoint window, identical to the pre-r6 index rows."""
    return index.select(
        id_col, F.posexplode("fps").alias("pos", "whash")
    )


def _raw_fingerprints_udf(window: int):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def window_fps(texts: pd.Series) -> pd.Series:
        out = []
        empty = np.empty(0, dtype=np.int64)
        for t in texts:
            cps = kernel.utf8_decode_buffer((t or "").encode("utf-8"))
            n = len(cps)
            if n < window:
                out.append(empty)
                continue
            prefix, pow_ = kernel.rolling_prefix(cps, kernel.SEARCH_HASH_BASE, add=1)
            with np.errstate(over="ignore"):
                w = prefix[window:] - prefix[:-window] * pow_[window]
            out.append(w.view(np.int64))
        return pd.Series(out)

    # pinned to one evaluation, as in make_window_fingerprints_udf
    return window_fps.asNondeterministic()


def search(index: DataFrame, pages: DataFrame, query: str, id_col: str = "url",
           text_col: str = "text", squash: bool = True) -> DataFrame:
    """All verified occurrences of ``query``: (id, pos). index window == len(query)
    in codepoints."""
    qh = query_hash(query)
    qlen = len(kernel.utf8_decode_buffer(query.encode("utf-8")))
    cand = explode_fingerprints(index, id_col).filter(F.col("whash") == F.lit(qh))
    text_expr = F.col(text_col)
    if squash:
        text_expr = F.translate(text_expr, "\n\r", "  ")
    verified = (
        cand.join(pages.select(id_col, text_col), id_col)
        .filter(F.substring(text_expr, (F.col("pos") + 1).cast("int"), qlen)
                == F.lit(query))
        .select(id_col, "pos")
    )
    return verified


def search_many(index: DataFrame, pages: DataFrame, queries: list[str],
                id_col: str = "url", text_col: str = "text",
                squash: bool = True) -> DataFrame:
    """Batch variant: broadcast-join the (tiny) query table against the index (J3),
    then verify. Returns (query, id, pos). All queries must share one codepoint length
    equal to the index window."""
    qlens = {len(kernel.utf8_decode_buffer(q.encode())) for q in queries}
    if len(qlens) != 1:
        raise ValueError("all queries in a batch must share one codepoint length")
    qlen = qlens.pop()
    spark = index.sparkSession
    # from pandas, not a list of tuples: the query table then plans as a
    # LocalTableScan instead of a pickled Python RDD that Python workers
    # must unpickle for every broadcast
    qdf = spark.createDataFrame(
        pd.DataFrame({"query": queries,
                      "whash": [query_hash(q) for q in queries]}),
        "query string, whash long")
    text_expr = F.col(text_col)
    if squash:
        text_expr = F.translate(text_expr, "\n\r", "  ")
    return (
        explode_fingerprints(index, id_col).join(F.broadcast(qdf), "whash")
        .join(pages.select(id_col, text_col), id_col)
        .filter(F.substring(text_expr, (F.col("pos") + 1).cast("int"), qlen)
                == F.col("query"))
        .select("query", id_col, "pos")
    )


def with_line_col(hits: DataFrame, pages: DataFrame, id_col: str = "url",
                  text_col: str = "text") -> DataFrame:
    """Attach 1-based (line, col) to (id, pos) hits — the reference prints every hit
    as ``path:line:col``, counting '\\n' in the decoded (UNsquashed) text
    (src/search_mode.c:288,296-303). Positions are codepoint offsets, so the
    derivation is pure JVM expressions over the codepoint prefix: line = newlines
    before pos + 1, col = codepoints since the last newline + 1."""
    prefix = F.substring(F.col(text_col), 1, F.col("pos").cast("int"))
    line = (F.length(prefix)
            - F.length(F.replace(prefix, F.lit("\n"), F.lit(""))) + 1)
    col = F.length(F.element_at(F.split(prefix, "\n", -1), -1)) + 1
    return (
        hits.join(pages.select(id_col, text_col), id_col)
        .select(id_col, "pos", line.alias("line"), col.alias("col"))
    )


def search_report(hits: DataFrame, id_col: str = "url") -> DataFrame:
    """Reference search-mode summary: total hits + files-with-hits
    (src/search_mode.c:411-419,677-686)."""
    return hits.agg(
        F.count("*").alias("total_hits"),
        F.countDistinct(id_col).alias("docs_with_hits"),
    )
