"""Exact unit-level deduplication — the reference's core capability, Spark-first.

The reference's 16-shard global hash set (src/sentence_set.c:17-66) + racing worker
threads (src/dedup.c:621-745) becomes ONE hash-partitioned shuffle: a window over the
normalized unit bytes. First-wins ordering is made deterministic on (url, unit_idx) —
strictly stronger than the reference's scheduling-dependent keeper (quirk Q3) while
producing identical unique/duplicate counts, including the intra-file local-set rule
(quirk Q2): any occurrence after the globally-first is a duplicate either way.

Scale notes (100 TB): the single shuffle partitions by the unit bytes themselves —
uniform by construction (hash of high-entropy text). The empty-norm filter (P1/P2) runs
before the shuffle, killing the worst boilerplate key early. Unit rows carry only
(url, unit_idx, norm_unit); the html/text columns are pruned before the explode.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from corpus_dedup_spark import kernel


def _explode_batch(rb, mode: str, max_length: int, text_col: str,
                   id_col: str):
    """One Arrow batch of pages → one batch of (id, unit_idx, norm_unit)
    rows: the per-batch body of :func:`explode_units_arrow`."""
    texts = rb.column(text_col).cast(pa.binary()).to_pylist()
    doc_idx, unit_idx, values, offsets = kernel.extract_units_batch_flat(
        [t or b"" for t in texts], mode, max_length)
    if offsets[-1] >= (1 << 31):  # not assert: must survive python -O
        raise ValueError(
            "Arrow batch unit bytes exceed int32 offsets "
            f"({int(offsets[-1])} bytes); lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    ids = rb.column(id_col).take(pa.array(doc_idx, type=pa.int64()))
    units = pa.Array.from_buffers(
        pa.binary(), len(doc_idx),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(values)])
    return pa.RecordBatch.from_arrays(
        [ids, pa.array(unit_idx, type=pa.int64()), units],
        names=[id_col, "unit_idx", "norm_unit"])


def explode_units_arrow(pages: DataFrame, mode: str = "sentence",
                        max_length: int = 0, text_col: str = "text",
                        id_col: str = "url") -> DataFrame:
    """pages(id, text, ...) → units(id, unit_idx, norm_unit): the one Spark
    path to the normalized units.

    Column-prunes to (id, text), so the scan never reads html/binary payloads.
    ``mapInArrow`` hands each pyarrow RecordBatch to
    :func:`kernel.extract_units_batch_flat`, which returns the units as flat
    value/offset buffers; they leave the worker as one binary column, so no
    Python object is made per unit and no JVM-side explode stage runs. The id
    column (any type, a struct too) is carried by a C++ ``take`` gather. A
    NULL text has no units; empty units are dropped inside the kernel
    (P1/P2). ``unit_idx`` is the unit's position in its document, for the
    deterministic keeper rule."""
    def fn(batches):
        for rb in batches:
            yield _explode_batch(rb, mode, max_length, text_col, id_col)

    src = pages.select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(
        fn, schema=f"{id_col} {id_type}, unit_idx long, norm_unit binary")


def mark_duplicates(units: DataFrame, id_col: str = "url") -> DataFrame:
    """Add ``is_dup`` + ``keeper``: first occurrence by (id, unit_idx) wins globally.

    This window IS the reference's global sentence set: partitionBy(norm_unit) hash-
    partitions on the full normalized bytes (never trusting a 64-bit hash alone —
    quirk Q6 comes free because the key is the content itself).
    """
    w = Window.partitionBy(
        F.xxhash64("norm_unit"), F.col("norm_unit")
    ).orderBy(F.col(id_col).asc(), F.col("unit_idx").asc())
    return units.withColumn("rn", F.row_number().over(w)).withColumn(
        "is_dup", F.col("rn") > F.lit(1)
    ).drop("rn")


def dedup_keepers(units: DataFrame, id_col: str = "url") -> DataFrame:
    """One row per distinct normalized unit with its deterministic keeper and
    occurrence count: (norm_unit, id, unit_idx, n_occ).

    Semantically identical to the window in :func:`mark_duplicates` but expressed as
    ``groupBy(norm_unit).agg(min(struct(id, unit_idx)))`` — an aggregation with
    MAP-SIDE PARTIAL COMBINE, so duplicate-heavy unit streams shrink before the
    shuffle. At 100 TB this is the difference between shuffling every occurrence and
    shuffling roughly the distinct set. Use mark_duplicates only when per-occurrence
    rows are required (duplicates sink / verify listings).

    Plan note: ``min`` over a struct is not hash-aggregable, so this runs as a
    SortAggregate — which is fine (it IS the reference's sort-the-units design,
    src/dedup.c radix sort), but the sort comparator then byte-compares long
    near-identical unit strings (web boilerplate shares prefixes). Prepending a
    64-bit content hash to the GROUP KEY ``(xxhash64(norm_unit), norm_unit)``
    makes almost every comparison resolve on one long compare, falling back to
    the bytes only for true duplicates; grouping stays keyed on the full bytes
    (quirk Q6 — the hash is a comparator accelerator, never the identity).
    Measured 24% off the agg stage at 50k docs / 8 cores, bit-identical rows.
    r5: ``octet_length`` sits between the hash and the bytes — a second fixed-
    width comparator rung (resolves residual 64-bit collisions and gives the
    ties a cheap header compare before the variable-length bytes). Redundant
    for grouping (norm_unit determines its length), free to compute, and
    measured weakly positive (~2-5% at 200k docs / 8 cores under storm — the
    'lenkey' rows of SCALE.md's round-5 session-config table); rows stay
    bit-identical.
    """
    return (
        units.withColumn("_h", F.xxhash64("norm_unit"))
        .withColumn("_l", F.octet_length("norm_unit"))
        .groupBy("_h", "_l", "norm_unit")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("unit_idx"))).alias("_keeper"),
            F.count("*").alias("n_occ"),
        )
        .select(
            "norm_unit",
            F.col(f"_keeper.{id_col}").alias(id_col),
            F.col("_keeper.unit_idx").alias("unit_idx"),
            "n_occ",
        )
    )


def dedup_units(units: DataFrame, id_col: str = "url") -> DataFrame:
    """Keep-side only (the reference's written output units)."""
    return dedup_keepers(units, id_col).drop("n_occ")


def dedup_stats_from_keepers(keepers: DataFrame) -> DataFrame:
    """Same counters from the aggregated keeper table (bit-identical values)."""
    return keepers.agg(
        F.sum("n_occ").alias("total_units"),
        F.count("*").alias("unique_units"),
        (F.sum("n_occ") - F.count("*")).alias("duplicate_units"),
        F.sum(F.length("norm_unit") * F.col("n_occ")).alias("bytes_processed"),
    )


def reassemble(units_kept: DataFrame, id_col: str = "url",
               all_ids: DataFrame | None = None) -> DataFrame:
    """Per-document output: kept units joined by \\n in document order
    (the reference writes normalized units joined by newline — quirk Q4,
    src/dedup.c:341-351). One groupBy shuffle on the document id.

    Pass ``all_ids`` (a one-column DataFrame of document ids) to also emit rows for
    documents whose every unit was a duplicate. NOTE: this is an explicit EXTENSION,
    not reference parity — the reference SKIPS the write when deduped_len == 0 and
    counts the file in its files_empty counter (src/dedup.c:671-677); the default
    (all_ids=None) matches that behavior, and the CLI's "n_in - n_written empty"
    accounting mirrors the counter."""
    out = (
        units_kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("unit_idx", "norm_unit"))
                    ),
                    lambda s: s["norm_unit"].cast("string"),
                ),
                "\n",
            ).alias("dedup_text"),
            F.count("*").alias("n_units"),
        )
    )
    if all_ids is not None:
        out = (
            all_ids.select(id_col).join(out, id_col, "left")
            .select(
                id_col,
                F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
                F.coalesce("n_units", F.lit(0)).alias("n_units"),
            )
        )
    return out


def run_exact_dedup(pages: DataFrame, mode: str = "sentence", max_length: int = 0,
                    id_col: str = "url") -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full reference-dedup pipeline: returns (marked_units, deduped_docs, stats).

    Uses the map-side-combining keeper aggregation (see :func:`dedup_keepers`); the
    first element of the returned tuple is the keeper table.

    The keeper table is not persisted: block-manager caching of 4M keeper rows
    was measured at 15-25 s at 8 cores, dearer than recomputing it from lineage.
    Callers that need stats AND output in one job should use
    :func:`run_exact_dedup_observed` (stats ride along as an Observation on the
    reassembly action — zero extra jobs). In production the cross-job reuse
    point is the Iceberg stage checkpoint (plans/pipeline.py).
    """
    units = explode_units_arrow(pages, mode, max_length, id_col=id_col)
    keepers = dedup_keepers(units, id_col)
    kept = keepers.drop("n_occ")
    return keepers, reassemble(kept, id_col), dedup_stats_from_keepers(keepers)


def run_exact_dedup_observed(pages: DataFrame, mode: str = "sentence",
                             max_length: int = 0, id_col: str = "url"):
    """Single-job variant: returns (deduped_docs, observation).

    The reference summary counters (src/dedup.c:1113-1141) are attached as a Spark
    ``Observation`` on the keeper table, so ONE action on ``deduped_docs`` (count,
    write, ...) computes the output AND the stats — no keeper persist, no second
    job. Read ``observation.get`` (dict with total_units / unique_units /
    duplicate_units / bytes_processed) after the action completes."""
    from pyspark.sql import Observation

    units = explode_units_arrow(pages, mode, max_length, id_col=id_col)
    keepers = dedup_keepers(units, id_col)
    obs = Observation()
    keepers_o = keepers.observe(
        obs,
        F.sum("n_occ").alias("total_units"),
        F.count(F.lit(1)).alias("unique_units"),
        (F.sum("n_occ") - F.count(F.lit(1))).alias("duplicate_units"),
        F.sum(F.length("norm_unit") * F.col("n_occ")).alias("bytes_processed"),
    )
    return reassemble(keepers_o.drop("n_occ"), id_col), obs


def _unit_fingerprint(col):
    """64-bit fingerprint of a unit's bytes for :func:`verify_no_duplicates`'
    filter phase. A hook of its own so that a test can weaken it."""
    return F.xxhash64(col)


def _repeated_fingerprints(units: DataFrame) -> DataFrame:
    """(_h) of every unit fingerprint seen more than once. The aggregation
    combines map-side, so its exchange carries only (_h, count): two longs
    per distinct fingerprint, no unit bytes."""
    return (
        units.select(_unit_fingerprint(F.col("norm_unit")).alias("_h"))
        .groupBy("_h").count().filter(F.col("count") > 1).select("_h")
    )


def _content_duplicates(units: DataFrame, repeated: DataFrame) -> DataFrame:
    """One row, ``dups``: the duplicate units among ``units`` whose
    fingerprint is in ``repeated``, counted on their bytes. ``repeated`` is
    broadcast into a ``left_semi`` join, so the units cross no exchange on
    their way to it; only the suspects that survive it are shuffled, on
    ``norm_unit``."""
    suspects = units.join(
        F.broadcast(repeated),
        _unit_fingerprint(units["norm_unit"]) == repeated["_h"], "left_semi")
    return (
        suspects.groupBy("norm_unit").count().filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("dups"))
    )


def verify_no_duplicates(deduped_docs: DataFrame, mode: str = "sentence",
                         max_length: int = 0, id_col: str = "url") -> int:
    """The reference's ``verify`` mode (src/verify_mode.c:370-561): re-split the
    engine's own output and count duplicate units. Returns that count (must be 0).

    Two phases, so that the units are shuffled as 64-bit fingerprints, not as
    their bytes, while the count stays keyed on content (quirk Q6: the
    fingerprint filters, the content decides):

    1. Always: group the units on a 64-bit fingerprint of their bytes and
       cache the fingerprints that repeat. Equal units have equal
       fingerprints, so if none repeats, no unit does, and the answer is 0.
    2. Only when some fingerprint repeats (a duplicate, or a real 64-bit
       collision): extract the units again, keep those whose fingerprint is
       in the cached set (a ``left_semi`` join that Spark broadcasts the set
       into; no Python code holds it), group them on their bytes and count
       ``sum(count - 1)``. Every copy of a duplicated unit shares its
       fingerprint, so none is filtered out, and distinct units that only
       collide fall into groups of one. Phase 1 is not recomputed: the
       broadcast reads the cache.

    Phase 2 costs one more extraction, and its shuffle carries the bytes of
    the suspects only. On a correct output the suspects are the 64-bit
    collisions, about n^2 / 2^65 for n distinct units: none at 10^5 units,
    but about 1.8·10^7 hashes (~150 MB of longs to broadcast) at the
    2.6·10^13 units of SCALE.md, where phase 2 therefore runs every time. A
    96- or 128-bit fingerprint would stop there after phase 1, but ships
    1.5-2x the bytes in every run (SCALE.md, "exact verify"). An output
    with repeated fingerprints of the order of 10^8 outgrows the broadcast
    and fails instead of returning its count.

    The cache is released before this returns."""
    units = explode_units_arrow(deduped_docs, mode, max_length,
                                text_col="dedup_text",
                                id_col=id_col).select("norm_unit")
    repeated = _repeated_fingerprints(units).cache()
    try:
        if repeated.isEmpty():
            return 0
        return int(_content_duplicates(units, repeated).collect()[0]["dups"])
    finally:
        repeated.unpersist()


def write_corpus_state(corpus_units: DataFrame, table: str,
                       buckets: int = 512) -> None:
    """Persist the corpus dedup state (one ``norm_unit`` column) BUCKETED on
    the unit bytes, so the next batch's anti-join in
    :func:`dedup_against_corpus` is co-located: the bucketed scan reports
    ``HashPartitioning(norm_unit, buckets)``, which satisfies the join's
    required distribution — the historical corpus side gets NO Exchange
    (``Bucketed: true`` in the scan, checked by
    tests/test_plans.py::test_bucketed_anti_join), only the new batch
    shuffles, to the bucket count. This is the parquet stand-in for Iceberg ``bucket(norm_unit, N)``
    (storage-partitioned join); size ``buckets`` so one bucket ≈ 128-512 MB
    at the target corpus size (10^12 docs ⇒ O(10^5) buckets).

    Write cost is one clustering shuffle of the distinct-unit column — paid
    once per state refresh, amortized over every subsequent incremental
    batch."""
    (corpus_units.select("norm_unit").write.mode("overwrite")
     .bucketBy(buckets, "norm_unit").format("parquet").saveAsTable(table))


def dedup_against_corpus(new_pages: DataFrame, corpus_units: DataFrame,
                         mode: str = "sentence", max_length: int = 0,
                         id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """Incremental dedup of a NEW crawl batch against an existing corpus state —
    the batch form of the streaming contract (stream_dedup): units already in
    the corpus are dropped, then the batch is first-wins deduped internally,
    then reassembled. Returns (kept_units, deduped_docs).

    ``corpus_units`` is a one-column DataFrame of the corpus's normalized unit
    bytes (``norm_unit``) — in production the keeper-table checkpoint from the
    previous run (plans/pipeline.py), i.e. yesterday's state.

    Scale notes: the anti-join keys on the full unit bytes (quirk Q6), hash-
    partitioned on norm_unit — the SAME key as the keeper agg, so with the
    corpus state stored bucketed by norm_unit (:func:`write_corpus_state`;
    Iceberg `bucket(norm_unit, N)` in production) the join is co-located and
    only the new batch shuffles: the bucketed scan carries the partitioning,
    so the corpus side has NO Exchange (checked by
    tests/test_plans.py::test_bucketed_anti_join). The corpus side is pruned
    to the single key column, so no historical text bytes move.
    """
    units = explode_units_arrow(new_pages, mode, max_length, id_col=id_col)
    fresh = units.join(
        corpus_units.select("norm_unit"), "norm_unit", "left_anti")
    keepers = dedup_keepers(fresh, id_col)
    kept = keepers.drop("n_occ")
    return kept, reassemble(kept, id_col)
