"""Structured Streaming dedup: streamed keep-set equals the batch keep-set."""

import re

import numpy as np
import pytest

from corpus_dedup_spark import kernel
from corpus_dedup_spark.streaming.stream_dedup import stream_unit_dedup
from tests.helpers import drain_to_memory, pages_spark


def test_stream_matches_batch_keepset(spark, tmp_path, capsys):
    """The streamed keep-set is exactly the distinct units of the scalar
    kernel over every page, and the query extracts them with the batch
    Arrow map, not a pandas UDF."""
    df, _, _ = pages_spark(spark, n_docs=60, seed=5)
    path = str(tmp_path / "pages_stream")
    df.write.mode("overwrite").parquet(path)

    q = drain_to_memory(stream_unit_dedup(spark, path, df.schema,
                                          bounded_state=False), "sd_test")
    q.awaitTermination(120)
    streamed = spark.sql("select norm_unit from sd_test")
    stream_units = {bytes(r["norm_unit"]) for r in streamed.collect()}

    batch_units = {u for r in df.select("text").collect()
                   for u in kernel.extract_units((r["text"] or "").encode())}
    assert stream_units == batch_units
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "MapInArrow" in plan and "ArrowEvalPython" not in plan, plan


def test_stateful_host_stats(spark, tmp_path):
    """Per-host counters of the stateful operator (batch kernel) equal a
    scalar-kernel recount: docs, units, bytes, and the distinct-unit
    estimate of a sketch built from scalar FNV-1a unit hashes."""
    from corpus_dedup_spark.streaming.stateful import (
        SKETCH_BITS, _linear_count, stream_host_stats)

    df, _, _ = pages_spark(spark, n_docs=80, seed=9)
    path = str(tmp_path / "pages_state")
    df.write.mode("overwrite").parquet(path)

    q = drain_to_memory(stream_host_stats(spark, path, df.schema), "hs_test",
                        output_mode="update")
    q.awaitTermination(180)
    got = {r["host"]: r for r in spark.sql(
        "select * from hs_test").collect()}

    truth: dict[str, list] = {}
    for r in df.select("url", "text").collect():
        m = re.search(r"https?://([^/]+)/", r["url"])
        raw = (r["text"] or "").encode()
        units = kernel.extract_units(raw)
        t = truth.setdefault(m.group(1) if m else "",
                             [0, 0, 0, np.zeros(SKETCH_BITS // 8, np.uint8)])
        t[0] += 1
        t[1] += len(units)
        t[2] += len(raw)
        for u in units:
            h = kernel.fnv1a(u) % SKETCH_BITS
            t[3][h // 8] |= 1 << (h % 8)
    assert set(got) == set(truth)
    for host, (n_docs, n_units, n_bytes, bitmap) in truth.items():
        assert got[host]["n_docs"] == n_docs, host
        assert got[host]["n_units"] == n_units, host
        assert got[host]["n_bytes"] == n_bytes, host
        assert got[host]["approx_unique_units"] == _linear_count(bitmap), host
