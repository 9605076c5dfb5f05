"""Structured Streaming exact dedup — incremental ingestion of new crawl batches.

The reference is a batch CLI; this is the engine's extension for continuously-arriving
pages: readStream over the pages table directory → the SAME batch extraction as
the batch engine (``explode_units_arrow``) → state-store-backed dedup on the
normalized unit (the streaming analog of the global sentence set).

State-lifetime contract (two modes; ``bounded_state`` is REQUIRED — the default
flip-flopped across reviews because neither mode is a safe silent choice, so the
caller must pick one explicitly):
- ``bounded_state=False``: plain ``dropDuplicates`` on norm_unit — exact global
  first-wins, the SAME guarantee as the batch engine. State grows with the
  distinct-unit count (Spark only evicts dedup state when the event-time column
  is part of the key); fine for bounded replays and finite backfills, UNSAFE on
  a truly unbounded stream.
- ``bounded_state=True``: ``dropDuplicatesWithinWatermark`` — Spark evicts a
  unit's state once the watermark passes its event time, so memory is bounded;
  the trade is that a duplicate arriving later than the watermark delay is
  RE-EMITTED. This is the scale-safe mode for a truly unbounded stream — it
  weakens the dedup guarantee, so it too must be an explicit choice.

At scale: state is hash-partitioned on norm_unit (same key as the batch shuffle);
RocksDB state store keeps it off-heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus_dedup_spark.operators.exact_dedup import explode_units_arrow


def stream_unit_dedup(spark: SparkSession, input_dir: str, schema,
                      mode: str = "sentence", max_length: int = 0,
                      watermark: str = "1 hour",
                      *, bounded_state: bool) -> DataFrame:
    """Streaming keep-side units: (url, warc_ts, unit_idx, norm_unit),
    first-wins across micro-batches (see module docstring for the
    state-lifetime contract)."""
    pages = spark.readStream.schema(schema).parquet(input_dir)
    # url and warc_ts ride through the batch extraction as one struct id
    units = explode_units_arrow(
        pages.select(F.struct("url", "warc_ts").alias("doc"), "text"),
        mode, max_length, id_col="doc",
    ).select("doc.*", "unit_idx", "norm_unit").withWatermark(
        "warc_ts", watermark)
    # state key = the normalized unit bytes (never a hash alone — quirk Q6)
    if bounded_state:
        return units.dropDuplicatesWithinWatermark(["norm_unit"])
    return units.dropDuplicates(["norm_unit"])
