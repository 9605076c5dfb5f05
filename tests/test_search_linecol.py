"""Search line/col output (ref src/search_mode.c:288,296-303) + fnmatch mask parity."""

import fnmatch

import pytest
from pyspark.sql import functions as F

from corpus_dedup_spark.functions.text import glob_to_rlike
from corpus_dedup_spark.operators.search import (build_fingerprint_index, search,
                                                 with_line_col)


@pytest.mark.parametrize("mask,names", [
    ("*.txt", ["a.txt", "b.TXT", "x.txt.bak", "noext", ".txt"]),
    ("doc?", ["doc1", "docs", "doc", "doc12"]),
    ("src[02468]", ["src0", "src1", "src24", "src8"]),
    ("a[!xyz]c", ["abc", "axc", "ac"]),
    ("lit+er(al)", ["lit+er(al)", "liter(al)"]),
    ("un[closed", ["un[closed", "unX"]),
])
def test_glob_to_rlike_matches_fnmatch(mask, names):
    import re

    rx = re.compile(glob_to_rlike(mask))
    for n in names:
        assert bool(rx.fullmatch(n)) == fnmatch.fnmatchcase(n, mask), (mask, n)


def test_search_hits_carry_line_col(spark):
    pages = spark.createDataFrame(
        [("u1", "first line\nneedle here\nthird needle line"),
         ("u2", "needle at start")],
        ["url", "text"],
    )
    idx = build_fingerprint_index(pages, window=6, squash=False)
    hits = search(idx, pages, "needle", squash=False)
    rows = {(r["url"], r["line"], r["col"])
            for r in with_line_col(hits, pages).collect()}
    # 1-based line/col, newline-relative, like the reference's printf("%s:%zu:%zu")
    assert rows == {("u1", 2, 1), ("u1", 3, 7), ("u2", 1, 1)}


@pytest.mark.parametrize("squash", [True, False])
def test_search_probe_evaluates_fingerprints_once(spark, squash):
    """posexplode over the fps column makes Spark infer a size(fps) > 0
    filter; on an uncached index it must not run the window_fps UDF a
    second time below the projection."""
    pages = spark.createDataFrame(
        [("u1", "first line\nneedle here"), ("u2", "needle at start")],
        ["url", "text"])
    idx = build_fingerprint_index(pages, window=6, squash=squash)
    hits = search(idx, pages, "needle", squash=squash)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert hits.count() == 2


def test_search_many_query_table_is_local(spark):
    """search_many's query table is a LocalTableScan, not a pickled Python
    RDD (``Scan ExistingRDD``) that workers unpickle for each broadcast."""
    import pandas as pd

    from corpus_dedup_spark.operators.search import search_many

    pages = spark.createDataFrame(pd.DataFrame({
        "url": ["u1", "u2"],
        "text": ["first line\nneedle here", "needle at start, then bobbin"]}))
    idx = build_fingerprint_index(pages, window=6)
    hits = search_many(idx, pages, ["needle", "bobbin"])
    assert sorted(map(tuple, hits.collect())) == [
        ("bobbin", "u2", 22), ("needle", "u1", 11), ("needle", "u2", 0)]
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
