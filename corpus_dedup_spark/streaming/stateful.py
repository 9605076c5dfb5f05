"""Custom stateful streaming operator: per-host running crawl/dedup counters.

Demonstrates the applyInPandasWithState surface (arbitrary stateful processing) on the
pages stream: for each host (url prefix), maintain running totals — docs seen, units
extracted, bytes, plus an approximate distinct-unit count via a fixed-width bit-sketch
(a tiny linear-probabilistic counter kept IN state, so state size is constant per host
regardless of stream length — the streaming analog of the bounded-memory rule).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType)

from corpus_dedup_spark import kernel

SKETCH_BITS = 8192  # linear counter width (1 KB of state per host)

OUTPUT_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("n_docs", LongType()),
    StructField("n_units", LongType()),
    StructField("n_bytes", LongType()),
    StructField("approx_unique_units", LongType()),
])

STATE_SCHEMA = StructType([
    StructField("n_docs", LongType()),
    StructField("n_units", LongType()),
    StructField("n_bytes", LongType()),
    StructField("sketch", BinaryType()),
])


def _linear_count(bitmap: np.ndarray) -> int:
    """Linear (probabilistic) counting estimate from a bit sketch."""
    m = bitmap.size * 8
    zeros = m - int(np.unpackbits(bitmap).sum())
    if zeros == 0:
        return m  # saturated
    return int(round(-m * np.log(zeros / m)))


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    if state.exists:
        n_docs, n_units, n_bytes, sketch_bytes = state.get
        bitmap = np.frombuffer(sketch_bytes, dtype=np.uint8).copy()
    else:
        n_docs = n_units = n_bytes = 0
        bitmap = np.zeros(SKETCH_BITS // 8, dtype=np.uint8)

    for pdf in pdfs:
        raw = [(t or "").encode("utf-8") for t in pdf["text"]]
        doc_idx, _u, values, offsets = kernel.extract_units_batch_flat(raw)
        n_docs += len(raw)
        n_units += len(doc_idx)
        n_bytes += sum(map(len, raw))
        h = kernel.fnv1a_flat(values, offsets) % np.uint64(SKETCH_BITS)
        np.bitwise_or.at(bitmap, (h // 8).astype(np.int64),
                         (np.uint8(1) << (h % 8).astype(np.uint8)))

    state.update((n_docs, n_units, n_bytes, bitmap.tobytes()))
    yield pd.DataFrame({
        "host": [key[0]],
        "n_docs": [n_docs],
        "n_units": [n_units],
        "n_bytes": [n_bytes],
        "approx_unique_units": [_linear_count(bitmap)],
    })


def stream_host_stats(spark: SparkSession, input_dir: str, schema) -> DataFrame:
    """readStream(pages) → per-host running counters via applyInPandasWithState."""
    pages = spark.readStream.schema(schema).parquet(input_dir)
    hosts = pages.select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"), "text"
    )
    return hosts.groupBy("host").applyInPandasWithState(
        _update, OUTPUT_SCHEMA, STATE_SCHEMA,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
    )
