"""Physical-plan checks of the engine's key plans, one test per PLANS.md section.

Each ``plan_*`` function builds one section's formatted plan on a session and
sf directory; the test after it asserts that plan's properties: the
exchange-versus-broadcast choices, map-side combining, scan pruning and the
Python evaluations each operator is meant to have. ``SECTIONS`` at the end
maps every PLANS.md section to its builder and its test;
``scripts/explain_audit.py`` prints the same plans into PLANS.md.

The checks name stable plan features only: node kinds, exchange keys and
input columns, column types (a long column prints as ``#<id>L``). They never
name an optimizer-inferred filter conjunct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from corpus_dedup_spark.config import DedupConfig
from tests.plans import exchanges, plan_of

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _has(plan: str, *needles: str) -> None:
    missing = [n for n in needles if n not in plan]
    assert not missing, f"missing {missing}\n{plan}"


def _lacks(plan: str, *needles: str) -> None:
    found = [n for n in needles if n in plan]
    assert not found, f"unexpected {found}\n{plan}"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pages(spark, sf_dir):
    return _docs(spark, sf_dir).selectExpr(
        "cast(doc_id as string) as url", "text", "lang", "n_chars")


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")


def plan_scan_pruning(spark, sf_dir) -> str:
    return plan_of(_docs(spark, sf_dir).filter(F.col("lang") == "en")
                   .select("doc_id", "n_chars"))


def test_scan_pruning(spark, sf_dir):
    """The filter and the projection reach the parquet scan: 3 of the file's
    5 columns are read (lang kept for the filter)."""
    _has(plan_scan_pruning(spark, sf_dir),
         "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]",
         "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>")


def plan_keeper_aggregation(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.exact_dedup import (dedup_keepers,
                                                          explode_units_arrow)

    return plan_of(dedup_keepers(explode_units_arrow(_pages(spark, sf_dir))))


def test_keeper_aggregation(spark, sf_dir):
    """The flat-Arrow extraction (MapInArrow, no pandas UDF, no explode
    stage) feeds a partial hash aggregate before the fingerprint exchange."""
    plan = plan_keeper_aggregation(spark, sf_dir)
    _has(plan, "MapInArrow", "partial_min", "partial_count",
         "hashpartitioning(_h")
    _lacks(plan, "ArrowEvalPython", "Generate")


def plan_units_stage(spark, sf_dir) -> str:
    from corpus_dedup_spark.plans.pipeline import units_stage

    return plan_of(units_stage(_pages(spark, sf_dir), DedupConfig()))


def test_units_stage_is_map_only(spark, sf_dir):
    """The pipeline's units checkpoint is a pure map: no Exchange, Window or
    Sort touches the per-occurrence unit stream."""
    plan = plan_units_stage(spark, sf_dir)
    _has(plan, "MapInArrow")
    _lacks(plan, "Exchange", "Window", "Sort")


def plan_exact_verify(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.exact_dedup import (
        _repeated_fingerprints, explode_units_arrow)

    return plan_of(_repeated_fingerprints(
        explode_units_arrow(_pages(spark, sf_dir))))


def test_exact_verify_shuffles_fingerprints(spark, sf_dir):
    """The always-run phase of verify_no_duplicates shuffles 64-bit
    fingerprints and partial counts only: every column into its Exchange is
    a long, none is the unit bytes."""
    plan = plan_exact_verify(spark, sf_dir)
    _has(plan, "MapInArrow", "partial_count", "hashpartitioning(_h")
    inputs = [cols for _, cols, _ in exchanges(plan)]
    assert inputs, plan
    for cols in inputs:
        assert all(re.fullmatch(r"\w+#\d+L", c) for c in cols.split(", ")), cols


def plan_lsh_edges(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.minhash_lsh import (doc_band_features,
                                                          edges_from_features)

    cfg = DedupConfig()
    feats = doc_band_features(_pages(spark, sf_dir), cfg).persist()
    try:
        return plan_of(edges_from_features(feats, cfg)[0])
    finally:
        feats.unpersist()


def test_lsh_edges(spark, sf_dir):
    """The shipped LSH edges plan: band rows cross ONE exchange on
    (band_id, band_hash), carrying a 64-bit url key and no url string; a
    window over it sizes the buckets (no hot-bucket set joined or broadcast
    back); the capped collect_list streams pairs out of explodes; the keyed
    verify joins feed ONE inter/union evaluation."""
    plan = plan_lsh_edges(spark, sf_dir)
    _has(plan, "Window", "collect_list", "Generate", "explode(",
         "xxhash64(url", "ArrowEvalPython")
    _lacks(plan, "LeftAnti", "ReusedExchange")
    band = [re.sub(r"#\d+", "", cols).split(", ")
            for _, cols, args in exchanges(plan)
            if args.startswith("hashpartitioning(band_id")]
    assert band == [["_kL", "band_id", "band_hashL"]], band
    assert not re.search(r"Left keys \[\d+\]: \[band_id", plan), plan
    assert plan.count("inter_union(") == 1, plan


def plan_search_probe(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.search import (build_fingerprint_index,
                                                     search)

    pages = _pages(spark, sf_dir)
    return plan_of(search(build_fingerprint_index(pages, window=10), pages,
                          "table scan"))


def test_search_probe(spark, sf_dir):
    """The probe filters the exploded postings on the query's window hash
    before the substring-verify join, and the posting side (url, pos) is
    what the join moves: no text column crosses an exchange after the
    index build. (That the window_fps UDF runs once is
    test_search_linecol.py::test_search_probe_evaluates_fingerprints_once.)"""
    plan = plan_search_probe(spark, sf_dir)
    assert re.search(r"\(whash#\d+L = -?\d+\)", plan), plan
    _has(plan, "Join condition: (substring(")
    ex = exchanges(plan)
    assert all("text#" not in cols for _, cols, args in ex
               if not args.startswith("RoundRobinPartitioning")), ex


def plan_shared_block_pairs(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.block_dups import shared_block_pairs

    return plan_of(shared_block_pairs(_pages(spark, sf_dir), window=32))


def test_shared_block_pairs(spark, sf_dir):
    """The hot-fingerprint cap is a groupBy plus a broadcast anti-join, never
    a window over the fingerprint index; pairs verify on a second hash, so
    no text is cut for a join."""
    plan = plan_shared_block_pairs(spark, sf_dir)
    _has(plan, "LeftAnti", "whash2")
    _lacks(plan, "Window", "substring")


def plan_block_tree(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.block_tree import build_block_tree

    # a subset by filter, not limit: GlobalLimit inserts an Exchange itself
    return plan_of(build_block_tree(
        _pages(spark, sf_dir).filter(F.col("n_chars") < 200)))


def test_block_tree(spark, sf_dir):
    """The whole per-doc recursion is one worker-side MapInPandas: no
    Exchange, no per-level join."""
    plan = plan_block_tree(spark, sf_dir)
    _has(plan, "MapInPandas")
    _lacks(plan, "Exchange", "SortMergeJoin", "BroadcastHashJoin")


_STATE_TABLE = "plans_corpus_state"
_BROADCAST_CONFS = ("spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold")


def plan_bucketed_anti_join(spark, sf_dir) -> str:
    """dedup_against_corpus over a state written by write_corpus_state
    (bucketBy norm_unit, 8 buckets, the session's shuffle partition count).
    Broadcast is off, as for a corpus-sized state; the table and the confs
    are restored however the plan turns out."""
    from corpus_dedup_spark.operators.exact_dedup import (
        dedup_against_corpus, explode_units_arrow, write_corpus_state)

    pages = _pages(spark, sf_dir)
    saved = {k: spark.conf.get(k, None) for k in _BROADCAST_CONFS}
    try:
        write_corpus_state(explode_units_arrow(pages.limit(50))
                           .select("norm_unit").distinct(),
                           _STATE_TABLE, buckets=8)
        for k in _BROADCAST_CONFS:
            spark.conf.set(k, "-1")
        kept, _docs = dedup_against_corpus(pages, spark.table(_STATE_TABLE))
        return plan_of(kept)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"DROP TABLE IF EXISTS {_STATE_TABLE}")


def test_bucketed_anti_join(spark, sf_dir):
    """The anti-join against a bucketed corpus state is co-located: the
    state is a bucketed scan, and the one exchange on norm_unit carries the
    new batch's units (with their url), never the state's lone column."""
    plan = plan_bucketed_anti_join(spark, sf_dir)
    _has(plan, "Bucketed: true", "LeftAnti")
    unit_ex = [cols for _, cols, args in exchanges(plan)
               if args.startswith("hashpartitioning(norm_unit")]
    assert len(unit_ex) == 1 and "url#" in unit_ex[0], unit_ex


def plan_exact_substr(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.exact_substr import \
        duplicate_substring_spans

    return plan_of(duplicate_substring_spans(
        _pages(spark, sf_dir).selectExpr("url AS doc_id", "text"), window=40))


def test_exact_substr(spark, sf_dir):
    """Per-position hashes come from one rolling-hash kernel pass, persisted
    for both consumers (InMemoryTableScan); the hot-hash aggregate takes the
    8-byte hash alone; window text is cut by substring only for survivors."""
    plan = plan_exact_substr(spark, sf_dir)
    _has(plan, "ArrowEvalPython", "InMemoryTableScan", "hashpartitioning(_h",
         "substring(text")
    _lacks(plan, "BatchEvalPython", "CartesianProduct")
    assert re.search(r"\(\d+\) HashAggregate[^\n]*\nInput \[1\]: \[_h#\d+L\]",
                     plan), plan


def plan_ivf_ann(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.ivf_ann import ivf_topk

    emb = _embeddings(spark, sf_dir)
    return plan_of(ivf_topk(emb, emb.filter("vec_id < 20"), k=3,
                            n_centroids=8, nprobe=2))


def test_ivf_ann(spark, sf_dir):
    """The centroids reach every vector by a broadcast nested-loop join, and
    the cell argmax partial-combines before its exchange; no Python."""
    plan = plan_ivf_ann(spark, sf_dir)
    _has(plan, "BroadcastNestedLoopJoin", "partial_max")
    _lacks(plan, "CartesianProduct", *PYTHON_NODES)


def plan_c4_line_filter(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.quality_filters import c4_line_filter

    return plan_of(c4_line_filter(_docs(spark, sf_dir).select("doc_id", "text")))


def plan_gopher_flags(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.quality_filters import \
        gopher_quality_flags

    return plan_of(gopher_quality_flags(
        _docs(spark, sf_dir).select("doc_id", "text")))


def _assert_staged_map_pass(plan: str, staged: str) -> None:
    """One interpreted map pass with no exchange and no Python; the lambda
    array is aliased once (``staged``), so consumers do not re-evaluate it."""
    _has(plan, staged)
    _lacks(plan, "Exchange", "CartesianProduct", *PYTHON_NODES)


def test_c4_line_filter(spark, sf_dir):
    _assert_staged_map_pass(plan_c4_line_filter(spark, sf_dir), "AS _kept")


def test_gopher_flags(spark, sf_dir):
    _assert_staged_map_pass(plan_gopher_flags(spark, sf_dir), "AS _words")


def plan_semdedup(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.semantic_dedup import semantic_dedup

    return plan_of(semantic_dedup(_embeddings(spark, sf_dir), threshold=0.8,
                                  n_centroids=8))


def test_semdedup(spark, sf_dir):
    """Cell assignment partial-combines its argmax and pairs are formed
    within cells only; no Python. (Broadcast centroids and no cartesian:
    test_semantic_dedup.py::test_plan_broadcasts_centroids_no_cartesian.)"""
    plan = plan_semdedup(spark, sf_dir)
    _has(plan, "partial_max")
    _lacks(plan, *PYTHON_NODES)


def plan_bloom_incremental(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.bloom_dedup import \
        bloom_incremental_dedup
    from corpus_dedup_spark.operators.exact_dedup import (dedup_units,
                                                          explode_units_arrow)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus_units = dedup_units(
        explode_units_arrow(docs.filter("doc_id < 30"), id_col="doc_id"),
        id_col="doc_id").select("norm_unit")
    _kept, deduped, probed = bloom_incremental_dedup(
        docs.filter("doc_id >= 30"), corpus_units, n_items=4096,
        id_col="doc_id")
    try:
        return plan_of(deduped)
    finally:
        probed.unpersist()


def test_bloom_incremental(spark, sf_dir):
    """Definitely-new units reach the union through a filter; only the maybe
    branch takes the one LeftAnti join; Python runs only in the Arrow
    probe."""
    plan = plan_bloom_incremental(spark, sf_dir)
    _has(plan, "MapInArrow", "Union")
    _lacks(plan, "CartesianProduct", "BatchEvalPython")
    assert plan.count("Join type: LeftAnti") == 1, plan


def plan_packing(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.packing import pack_sequences

    return plan_of(pack_sequences(_docs(spark, sf_dir).select("doc_id", "text"),
                                  seq_len=256))


def test_packing(spark, sf_dir):
    """The global token offset is a distributed prefix sum: a range exchange,
    per-partition windows and broadcast bases, never a SinglePartition
    exchange."""
    plan = plan_packing(spark, sf_dir)
    _has(plan, "rangepartitioning", "BroadcastHashJoin")
    _lacks(plan, "SinglePartition", "CartesianProduct", *PYTHON_NODES)


def plan_asof(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return plan_of(asof_join(
        ev.select("event_id", "user_id", "ts"),
        ev.filter("event_type = 'purchase'")
        .select("user_id", "ts", "event_id", "value"),
        key_col="user_id", ts_col="ts", left_id_col="event_id",
        right_id_col="event_id", right_payload_cols=("value",)))


def test_asof(spark, sf_dir):
    """A union-tag sweep: one window keyed on user_id over the union, no
    cross or range join, no Python."""
    plan = plan_asof(spark, sf_dir)
    _has(plan, "Union", "hashpartitioning(user_id", "Window")
    _lacks(plan, "CartesianProduct", "BroadcastNestedLoopJoin", *PYTHON_NODES)


def plan_unigram_lm(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.lm_quality import unigram_lm_scores

    return plan_of(unigram_lm_scores(_docs(spark, sf_dir).select("doc_id",
                                                                 "text")))


def test_unigram_lm(spark, sf_dir):
    """The vocabulary aggregate partial-combines; the operator is JVM-only."""
    plan = plan_unigram_lm(spark, sf_dir)
    _has(plan, "partial_count")
    _lacks(plan, "CartesianProduct", *PYTHON_NODES)


def plan_line_col(spark, sf_dir) -> str:
    from corpus_dedup_spark.operators.search import with_line_col

    hits = spark.createDataFrame([("1", 5)], ["url", "pos"])
    return plan_of(with_line_col(hits, _pages(spark, sf_dir)))


def test_line_col(spark, sf_dir):
    """Hit line and column are JVM expressions, no UDF."""
    plan = plan_line_col(spark, sf_dir)
    _has(plan, "split(", "length(")
    _lacks(plan, *PYTHON_NODES)


#: (PLANS.md section title, plan builder, the test that checks the plan)
SECTIONS = [
    ("Parquet scan pruning (filter pushdown + column pruning)",
     plan_scan_pruning, test_scan_pruning),
    ("Flat-Arrow extraction feeding the keeper aggregation (MapInArrow, "
     "no explode stage, partial agg before the exchange)",
     plan_keeper_aggregation, test_keeper_aggregation),
    ("Pipeline units stage (map-only extraction checkpoint: no Exchange, "
     "no Window over the occurrence stream)",
     plan_units_stage, test_units_stage_is_map_only),
    ("Exact verify (fingerprint exchange: 64-bit unit hashes and counts "
     "cross the shuffle, no unit bytes)",
     plan_exact_verify, test_exact_verify_shuffles_fingerprints),
    ("LSH edges (one band-row exchange on a 64-bit url key -> window-sized "
     "buckets -> capped collect_list -> streamed pair explode -> keyed "
     "verify joins, one inter/union eval)",
     plan_lsh_edges, test_lsh_edges),
    ("Rabin-Karp search probe (filter + verify; no full-text shuffle)",
     plan_search_probe, test_search_probe),
    ("Shared-block pairs (groupBy sizes + broadcast anti-join; NO window over "
     "the fingerprint index; dual-hash verify -> NO text column in any join)",
     plan_shared_block_pairs, test_shared_block_pairs),
    ("Block-tree construction (single worker-side MapInPandas; no Exchange, "
     "no per-level joins)",
     plan_block_tree, test_block_tree),
    ("Bucketed incremental dedup (corpus state bucketBy(norm_unit): "
     "anti-join corpus side exchange-FREE, only the new batch shuffles)",
     plan_bucketed_anti_join, test_bucketed_anti_join),
    ("ExactSubstr duplicate spans (O(n) rolling-hash kernel, computed "
     "once and persisted for both consumers; hash-only prefilter "
     "exchange; window text cut only for survivors; island merge windows "
     "only duplicated positions)",
     plan_exact_substr, test_exact_substr),
    ("IVF ANN top-k (broadcast centroids; partial-combining argmax "
     "assignment; no cartesian shuffle)",
     plan_ivf_ann, test_ivf_ann),
    ("C4 line filter (single map pass; lambda arrays staged once — "
     "no Exchange, no Python)",
     plan_c4_line_filter, test_c4_line_filter),
    ("Gopher quality flags (single map pass; lambda arrays staged once — "
     "no Exchange, no Python)",
     plan_gopher_flags, test_gopher_flags),
    ("SemDeDup semantic dedup (broadcast centroids; partial-combining "
     "argmax cells; intra-cell pairs only — no cartesian, no Python)",
     plan_semdedup, test_semdedup),
    ("Bloom-prefiltered incremental dedup (broadcast-bitmap Arrow probe; "
     "definitely-new units bypass the anti-join; one LeftAnti for the "
     "maybe branch)",
     plan_bloom_incremental, test_bloom_incremental),
    ("Sequence packing (distributed prefix sum: range partition + "
     "per-partition window + broadcast bases — never SinglePartition)",
     plan_packing, test_packing),
    ("As-of join (union-tag sweep: one window keyed on user_id; "
     "no cross/range join, no Python)",
     plan_asof, test_asof),
    ("Unigram-LM quality score (vocab agg partial-combines; zero Python)",
     plan_unigram_lm, test_unigram_lm),
    ("Search hit line/col (JVM expressions only — no UDF)",
     plan_line_col, test_line_col),
]
