"""Sequence packing — lay tokenized documents end-to-end into fixed-length
training windows.

The op every LLM training-data pipeline runs last: documents are tokenized,
concatenated in a canonical order, and cut into fixed-length sequences of
``seq_len`` tokens; each document therefore occupies a half-open global token
interval ``[tok_start, tok_start + n_tokens)`` and overlaps sequences
``tok_start // L .. (tok_start + n_tokens - 1) // L``. Everything downstream
(shard writing, curriculum sampling, loss masking at document boundaries)
hangs off this doc→sequence map, and it must be bit-reproducible across runs
and engines — so token counts are a deterministic whitespace grain and the
order is ``ORDER BY doc_id``, never arrival order.

Scale design — the global cumulative offset is the textbook case where the
naive plan collapses: ``sum() OVER (ORDER BY doc_id)`` with no PARTITION BY
puts the entire corpus into ONE window task. At 10^12 documents that is a
single-reducer sort of the whole table. This implementation is a distributed
prefix sum instead:

1. range-partition the narrow (doc_id, n_tokens) projection by doc_id,
2. cumsum *within* each partition (window partitioned by
   ``spark_partition_id()`` — parallel across partitions),
3. collect one subtotal row per partition (O(num_partitions) driver bytes —
   partition METADATA, not data; same budget class as the repo's 1-row aggs),
   prefix-sum those on the driver, and broadcast-join the per-partition base
   offsets back.

Step 2's window is correct under any placement because step 3 re-anchors each
partition by its actual predecessors' total; range partitioning only has to
keep doc_id order *between* partitions, which ``repartitionByRange``
guarantees. The result is two narrow shuffles and no global sort of wide rows.

Reference analog: the reference's writer emits units back into per-file
streams in input order (src/dedup.c:553-588 reassembly); packing is the same
order-preserving reassembly generalized to a global token axis.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Whitespace token grain: runs of non-whitespace, with the SAME class as Java
# \s ([ \t\n\x0B\f\r]) so this agrees with the repo's other token counters
# (functions/text.py n_tokens_ws, quality_filters._ws_tokens) — spelled as
# literal control characters because RE2 (the DuckDB oracle's engine) and
# Java regex must read the identical class. A regexp_count-style grain (count
# matches) rather than split() so empty/whitespace-only docs count 0 without
# the '' artifact split() produces on both engines.
_TOKEN_RE = "[^ \t\n\x0b\f\r]+"


def with_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(…docs, n_tokens): deterministic whitespace token count, 0 for blank."""
    return docs.withColumn(
        "n_tokens",
        F.coalesce(F.size(F.regexp_extract_all(F.col(text_col),
                                               F.lit(_TOKEN_RE), F.lit(0))),
                   F.lit(0)),
    )


def global_token_offsets(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         num_partitions: int | None = None) -> DataFrame:
    """(id, n_tokens, tok_start): exclusive prefix sum of token counts in
    ``ORDER BY id_col`` — computed as a distributed prefix sum (see module
    docstring), never as a single global window.

    Precondition: ``id_col`` is unique (it is the concatenation order). With
    duplicate ids the order among the duplicates — and therefore their
    offsets — would be partition-placement-dependent."""
    # counts is persisted across the RangePartitioner's SAMPLING pass (r6):
    # repartitionByRange first runs a sampling job that executes the child
    # plan, then the real shuffle executes it again — without the persist the
    # token-count regex ran over every document TWICE. The cache is narrow
    # (id + one long per doc) and released below as soon as the ranged rows
    # are materialized.
    counts = (with_token_counts(docs, text_col)
              .select(id_col, "n_tokens").persist())
    spark = counts.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        counts.repartitionByRange(num_partitions, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (Window.partitionBy("_pid").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    # persisted: `local` feeds the subtotal collect AND the output join. An
    # unpersisted plan would execute the range shuffle twice, and
    # RangePartitioner's sample seed varies per execution (byteswap32 of the
    # rdd id) — on inputs big enough that sampling is not exhaustive the two
    # executions could draw DIFFERENT range boundaries, pairing partition
    # bases with the wrong rows. One materialization makes the partitioning,
    # whatever it sampled, the single source of truth for both consumers.
    local = ranged.withColumn(
        "_local_start",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))).persist()
    # One row per partition; prefix-sum on the driver (metadata-sized).
    subtotal_rows = (
        local.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_t"), F.min(id_col).alias("_lo"))
        .collect()
    )
    # the collect above materialized `local`'s blocks; every later consumer
    # reads those, so the narrow counts cache can be dropped immediately
    # (ADVICE r5: persisted frames must be released, not accumulated)
    counts.unpersist()
    # Partition ids are not promised to follow range order — anchor by the
    # partition's minimum id, which range partitioning does order.
    base, bases = 0, {}
    for row in sorted(subtotal_rows, key=lambda r: r["_lo"]):
        bases[row["_pid"]] = base
        base += row["_t"]
    # from pandas, as in search.search_many: a LocalTableScan, no Python RDD
    base_df = spark.createDataFrame(
        pd.DataFrame({"_pid": list(bases), "_base": list(bases.values())}),
        "_pid INT, _base BIGINT")
    return (
        local.join(F.broadcast(base_df), "_pid")
        .select(id_col, "n_tokens",
                (F.col("_base") + F.col("_local_start")).alias("tok_start"))
    )


def pack_sequences(docs: DataFrame, seq_len: int, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, n_tokens, tok_start, seq_first, seq_last): each document's global
    token interval and the fixed-length sequences it overlaps. Blank docs
    (n_tokens = 0) occupy no tokens and map to no sequence (seq_first/last
    NULL) rather than being dropped — the caller decides their fate."""
    offs = global_token_offsets(docs, id_col, text_col)
    nonblank = F.col("n_tokens") > 0
    # integer DIV, not floor(double /): past 2^53 cumulative tokens a double
    # quotient can round across the floor and shift a doc into the wrong
    # sequence — DIV stays exact at any BIGINT magnitude (the oracle's `//`)
    seq_len = int(seq_len)
    return offs.select(
        id_col, "n_tokens", "tok_start",
        F.when(nonblank, F.expr(f"tok_start DIV {seq_len}"))
         .cast("bigint").alias("seq_first"),
        F.when(nonblank,
               F.expr(f"(tok_start + n_tokens - 1) DIV {seq_len}"))
         .cast("bigint").alias("seq_last"),
    )


def sequence_stats(packed: DataFrame, seq_len: int,
                   id_col: str = "doc_id") -> DataFrame:
    """(seq_id, n_docs, n_tokens): per-sequence occupancy — how many documents
    touch each training window and how many of its token slots they fill
    (the final sequence is usually a partial fill). The doc→seq explode is a
    JVM ``sequence()`` over at most ceil(n_tokens/L)+1 elements per doc."""
    exploded = (
        packed.filter(F.col("seq_first").isNotNull())
        .select(
            id_col, "tok_start", "n_tokens",
            F.explode(F.sequence("seq_first", "seq_last")).alias("seq_id"),
        )
        .withColumn(
            "tok_in_seq",
            F.least(F.col("tok_start") + F.col("n_tokens"),
                    (F.col("seq_id") + 1) * seq_len)
            - F.greatest(F.col("tok_start"), F.col("seq_id") * seq_len),
        )
    )
    return (
        exploded.groupBy("seq_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("tok_in_seq").alias("n_tokens"))
    )
