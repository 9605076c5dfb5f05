#!/usr/bin/env python
"""Physical-plan audit: dump .explain('formatted') for the engine's key plans and
assert the properties that matter at 100 TB:

- parquet scans carry PushedFilters / narrow ReadSchema (pruning works)
- the dedup aggregation is HashAggregate with a partial_ pass before the exchange
  (map-side combine)
- exact verify shuffles 64-bit unit fingerprints and counts, never unit bytes
- the shipped LSH edges plan sends band rows across one exchange keyed on a
  64-bit url key, and evaluates the inter/union UDF once
- WholeStageCodegen spans cover the JVM-side expressions

Run: python scripts/explain_audit.py [--write]. Exits non-zero if a check
fails. ``--write`` also rewrites PLANS.md, keeping verbatim every section whose
plan differs only in run-specific ids (expression, plan and RDD ids, the
warehouse directory), so a change to one plan shows as a change to one
section.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _masked(text: str) -> str:
    """``text`` with the ids that change from run to run blanked."""
    text = re.sub(r"#\d+", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[]", text)
    return re.sub(r"plans_audit_wh_[^/\s]+", "plans_audit_wh_", text)


def _sections(text: str) -> dict[str, str]:
    """PLANS.md's ``## title`` sections by title, each with its body."""
    parts = re.split(r"^## ", text, flags=re.M)[1:]
    return {p.split("\n", 1)[0]: "## " + p for p in parts}


def write_plans(out: list[str], old_path: str) -> None:
    """Write ``out`` to ``old_path``, keeping each old section whose text is
    the same up to run-specific ids. Both opens use ``newline=""``: a plan
    can print a bare ``\\r`` (the whitespace class of a regex literal), which
    universal-newline reading would turn into ``\\n``, so an unchanged
    section would be rewritten."""
    new = "\n".join(out)
    if os.path.exists(old_path):
        with open(old_path, newline="") as f:
            old = _sections(f.read())
        head = new.split("\n## ", 1)[0]
        body = []
        for title, text in _sections(new).items():
            kept = old.get(title)
            keep = kept is not None and _masked(kept.rstrip()) == _masked(text.rstrip())
            body.append(kept.rstrip() + text[len(text.rstrip()):] if keep
                        else text)
        new = head + "\n" + "".join(body)
    with open(old_path, "w", newline="") as f:
        f.write(new)


def exchanges(plan: str) -> list[tuple[int, str, str]]:
    """(node id, input columns, arguments) of every Exchange in a formatted
    plan."""
    return [(int(i), cols, args) for i, cols, args in re.findall(
        r"\((\d+)\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: ([^\n]*)", plan)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true",
                    help="also rewrite PLANS.md (changed sections only)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from corpus_dedup_spark.config import DedupConfig
    from corpus_dedup_spark.operators.exact_dedup import (dedup_keepers,
                                                          explode_units_arrow)
    from corpus_dedup_spark.operators.minhash_lsh import (doc_band_features,
                                                          edges_from_features)
    from corpus_dedup_spark.operators.search import (build_fingerprint_index,
                                                     search)
    from corpus_dedup_spark.plans.session import build_session

    import tempfile

    spark = build_session(
        master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir":
                    tempfile.mkdtemp(prefix="plans_audit_wh_")})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr("cast(doc_id as string) as url", "text", "lang",
                            "n_chars")
    cfg = DedupConfig()

    sections: list[tuple[str, str, list[str]]] = []
    # (section title, what failed)
    failures: list[tuple[str, str]] = []

    # 1. scan pruning: filter + projection must reach the parquet scan
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    sections.append((
        "Parquet scan pruning (filter pushdown + column pruning)",
        plan_of(q),
        ["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]",
         # pruned to the 3 needed columns (lang kept for the filter) of the 5 in file
         "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"],
    ))

    # 2. the shipped extraction feeding the keeper aggregation: scan →
    # MapInArrow (flat units: no pandas UDF, no explode stage) → partial
    # hash agg before the exchange (map-side combine)
    sections.append((
        "Flat-Arrow extraction feeding the keeper aggregation (MapInArrow, "
        "no explode stage, partial agg before the exchange)",
        plan_of(dedup_keepers(explode_units_arrow(pages))),
        ["MapInArrow", "partial_min", "partial_count", "hashpartitioning(_h",
         "!ArrowEvalPython", "!Generate"],
    ))

    # 2c. pipeline units stage: extraction alone (what plans/pipeline.py writes
    # as its first checkpoint) is a pure map — NO shuffle touches the
    # per-occurrence unit stream; dedup happens in the next stage's partial agg
    sections.append((
        "Pipeline units stage (map-only extraction checkpoint: no Exchange, "
        "no Window over the occurrence stream)",
        plan_of(explode_units_arrow(pages)),
        ["MapInArrow", "!Exchange", "!Window", "!Sort"],
    ))

    # 2d. exact verify, always-run phase: the units are grouped on a 64-bit
    # fingerprint, and only (_h, partial count) crosses the exchange — the
    # unit bytes are grouped only in the rare phase where a fingerprint repeats
    from corpus_dedup_spark.operators.exact_dedup import _repeated_fingerprints

    verify_plan = plan_of(_repeated_fingerprints(explode_units_arrow(pages)))
    sections.append((
        "Exact verify (fingerprint exchange: 64-bit unit hashes and counts "
        "cross the shuffle, no unit bytes)",
        verify_plan,
        ["MapInArrow", "partial_count", "hashpartitioning(_h"],
    ))
    verify_ex = [cols for _, cols, _ in exchanges(verify_plan)]
    if not verify_ex or any("norm_unit" in cols for cols in verify_ex):
        failures.append((sections[-1][0], "norm_unit crosses the fingerprint "
                         f"exchange (inputs: {verify_ex})"))

    # 3. LSH edges, the plan near_dup_edges and the pipeline ship: ONE
    # band-row exchange carrying (64-bit key, band_id, band_hash); a window
    # over its partitions sizes the buckets, hot ones are filtered out before
    # the collect_list, the pairs stream out of two explodes, and the verify
    # joins map keys back to (url, shingles) for ONE Arrow-batched inter/union
    # evaluation (asNondeterministic keeps the threshold filter from pushing
    # through the projection and re-evaluating it)
    feats = doc_band_features(pages, cfg).persist()
    lsh_plan = plan_of(edges_from_features(feats, cfg)[0])
    feats.unpersist()
    sections.append((
        "LSH edges (one band-row exchange on a 64-bit url key -> window-sized "
        "buckets -> capped collect_list -> streamed pair explode -> keyed "
        "verify joins, one inter/union eval)",
        lsh_plan,
        ["Window", "collect_list", "Generate", "explode(", "xxhash64(url",
         "hashpartitioning(band_id", "ArrowEvalPython", "!LeftAnti"],
    ))
    band_ex = [cols for _, cols, args in exchanges(lsh_plan)
               if args.startswith("hashpartitioning(band_id")]
    if len(band_ex) != 1:
        failures.append((sections[-1][0],
                         f"{len(band_ex)} band-row exchanges, expected one"))
    elif not re.search(r"(^|, )_k#\d+L(,|$)", band_ex[0]) or "url#" in band_ex[0]:
        failures.append((sections[-1][0], "band-row exchange input is not "
                         f"(64-bit key, band): {band_ex[0]}"))
    if lsh_plan.count("inter_union(") != 1:
        failures.append((sections[-1][0], "inter_union evaluated "
                         f"{lsh_plan.count('inter_union(')} times"))

    # 5. search probe: fingerprint filter + substring verify; on an uncached
    # index the window_fps UDF runs once (the size(fps) > 0 filter inferred
    # for posexplode must not re-evaluate it below the projection)
    idx = build_fingerprint_index(pages, window=10)
    hits = search(idx, pages, "table scan")
    hits_plan = plan_of(hits)
    sections.append((
        "Rabin-Karp search probe (filter + verify; no full-text shuffle)",
        hits_plan,
        ["Filter"]
        + (["!__DUP_UDF__"]
           if len(re.findall(r"\(\d+\) ArrowEvalPython", hits_plan)) == 1
           else ["__DUP_UDF__"]),
    ))

    # 6. shared-block pairs: hot-fingerprint cap must be a broadcast anti-join,
    # never a Window sort-shuffle of the docs x chars fingerprint index
    from corpus_dedup_spark.operators.block_dups import shared_block_pairs

    sbp = shared_block_pairs(pages, window=32)
    sections.append((
        "Shared-block pairs (groupBy sizes + broadcast anti-join; NO window over "
        "the fingerprint index; dual-hash verify -> NO text column in any join)",
        plan_of(sbp),
        ["LeftAnti", "whash2", "!Window", "!substring"],
    ))

    # 6b. block tree: the whole per-doc recursion is ONE map pass — no Exchange,
    # no per-level text join anywhere in the construction plan
    from corpus_dedup_spark.operators.block_tree import build_block_tree

    # subset via filter, not limit — GlobalLimit itself inserts an Exchange and
    # would mask the property under audit (the operator adds none)
    bt = build_block_tree(pages.filter(F.col("n_chars") < 200))
    sections.append((
        "Block-tree construction (single worker-side MapInPandas; no Exchange, "
        "no per-level joins)",
        plan_of(bt),
        ["MapInPandas", "!Exchange", "!SortMergeJoin", "!BroadcastHashJoin"],
    ))

    # 6c. bucketed incremental dedup: corpus state written with
    # write_corpus_state (bucketBy norm_unit — the parquet stand-in for
    # Iceberg bucket(norm_unit, N)) makes the anti-join CO-LOCATED: the
    # bucketed scan's HashPartitioning(norm_unit) satisfies the join's
    # required distribution, so the 10^12-unit corpus side gets NO Exchange —
    # only the (small) new batch shuffles, to the bucket count. Broadcast is
    # disabled here to audit the distributed path a real corpus state takes.
    from corpus_dedup_spark.operators.exact_dedup import write_corpus_state

    write_corpus_state(
        explode_units_arrow(pages.limit(50)).select("norm_unit").distinct(),
        "plans_audit_corpus_state", buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    inc = explode_units_arrow(pages).join(
        spark.table("plans_audit_corpus_state"), "norm_unit", "left_anti")
    inc_plan = plan_of(inc)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    sections.append((
        "Bucketed incremental dedup (corpus state bucketBy(norm_unit): "
        "anti-join corpus side exchange-FREE, only the new batch shuffles)",
        inc_plan,
        ["Bucketed: true", "LeftAnti"]
        # formatted explain puts the operator name and its arguments on
        # separate lines — count the detail-section headers "(n) Exchange"
        + (["!__EXTRA_EXCHANGE__"]
           if len(re.findall(r"\(\d+\) Exchange", inc_plan)) == 1
           else ["__EXACTLY_ONE_EXCHANGE__"]),
    ))

    # 6d. ExactSubstr duplicated spans: per-position hashes come from the
    # O(n) rolling-hash kernel (ONE ArrowEvalPython — the same pass the
    # search index persists), so no window text is materialized for unique
    # positions; the prefilter aggregation shuffles ONLY the 8-byte hash, and
    # window text is cut by substring solely for hash-survivors (the
    # `substring(text, pos` projection after the survivor join); the island
    # merge is a per-doc window over duplicated positions alone.
    from corpus_dedup_spark.operators.exact_substr import \
        duplicate_substring_spans

    es = duplicate_substring_spans(
        pages.selectExpr("url AS doc_id", "text"), window=40)
    es_plan = plan_of(es)
    # the hot-hash exchange must not carry any text: the aggregate feeding
    # hashpartitioning(_h) prunes to the hash column only
    hot_agg = re.search(
        r"\(\d+\) HashAggregate[^\n]*\nInput \[1\]: \[_h#\d+L\]", es_plan)
    sections.append((
        "ExactSubstr duplicate spans (O(n) rolling-hash kernel, computed "
        "once and persisted for both consumers; hash-only prefilter "
        "exchange; window text cut only for survivors; island merge windows "
        "only duplicated positions)",
        es_plan,
        # InMemoryTableScan = the persisted kernel pass is REUSED by the
        # hot-hash agg and the survivor join instead of re-running
        ["ArrowEvalPython", "InMemoryTableScan", "hashpartitioning(_h",
         "substring(text", "!BatchEvalPython", "!CartesianProduct"]
        + (["!__HOT_AGG_CARRIES_TEXT__"] if hot_agg
           else ["__HOT_AGG_INPUT_IS_HASH_ONLY__"]),
    ))

    # 6e. IVF ANN: the K centroids reach every vector via a broadcast
    # nested-loop join (NEVER a CartesianProduct shuffle), and the cell
    # assignment collapses the N×K scored stream with a partial_max aggregate
    # before its exchange — no window over the cross product.
    from corpus_dedup_spark.operators.ivf_ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    ivf = ivf_topk(emb, emb.filter("vec_id < 20"), k=3, n_centroids=8,
                   nprobe=2)
    sections.append((
        "IVF ANN top-k (broadcast centroids; partial-combining argmax "
        "assignment; no cartesian shuffle)",
        plan_of(ivf),
        ["BroadcastNestedLoopJoin", "partial_max", "!CartesianProduct",
         "!ArrowEvalPython", "!BatchEvalPython"],
    ))

    # 6b. quality filters: one map pass, no Exchange, no Python anywhere
    from corpus_dedup_spark.operators.quality_filters import (
        c4_line_filter, gopher_quality_flags)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    # higher-order lambdas are not codegen-able, so the pass is an
    # interpreted Project; the staged `_kept`/`_words` aliases assert the
    # arrays are materialized ONCE per row instead of re-evaluated per
    # consumer (CollapseProject inlines only cheap expressions)
    for name, fn, staged in (
            ("C4 line filter", c4_line_filter, "AS _kept"),
            ("Gopher quality flags", gopher_quality_flags, "AS _words")):
        sections.append((
            f"{name} (single map pass; lambda arrays staged once — "
            "no Exchange, no Python)",
            plan_of(fn(docs)),
            [staged, "!Exchange", "!ArrowEvalPython",
             "!BatchEvalPython", "!CartesianProduct"],
        ))

    # 6c. SemDeDup: broadcast centroids, partial-combining argmax cells,
    # intra-cell pair join only (no all-pairs), no Python
    from corpus_dedup_spark.operators.semantic_dedup import semantic_dedup

    emb2 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    sections.append((
        "SemDeDup semantic dedup (broadcast centroids; partial-combining "
        "argmax cells; intra-cell pairs only — no cartesian, no Python)",
        plan_of(semantic_dedup(emb2, threshold=0.8, n_centroids=8)),
        ["BroadcastNestedLoopJoin", "partial_max", "!CartesianProduct",
         "!ArrowEvalPython", "!BatchEvalPython"],
    ))

    # 6d. Bloom-prefiltered incremental dedup: definitely-new units reach
    # the union through a plain filter (no join on that branch); exactly one
    # left-anti join (the maybe branch); Python only in the Arrow probe
    from corpus_dedup_spark.operators.bloom_dedup import \
        bloom_incremental_dedup
    from corpus_dedup_spark.operators.exact_dedup import (dedup_units,
                                                          explode_units_arrow)

    bdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    bcorpus = bdocs.filter("doc_id < 30")
    bcu = dedup_units(explode_units_arrow(bcorpus, id_col="doc_id"),
                      id_col="doc_id").select("norm_unit")
    _bk, bdd, bprobed = bloom_incremental_dedup(
        bdocs.filter("doc_id >= 30"), bcu, n_items=4096, id_col="doc_id")
    bplan = plan_of(bdd)
    bprobed.unpersist()
    sections.append((
        "Bloom-prefiltered incremental dedup (broadcast-bitmap Arrow probe; "
        "definitely-new units bypass the anti-join; one LeftAnti for the "
        "maybe branch)",
        bplan,
        ["MapInArrow", "LeftAnti", "Union", "!CartesianProduct",
         "!BatchEvalPython"],
    ))
    # formatted explain names each join once in the tree and once in the
    # detail block — count the detail lines ("Join type: LeftAnti")
    n_anti = bplan.count("Join type: LeftAnti")
    if n_anti != 1:
        failures.append((sections[-1][0],
                         f"{n_anti} LeftAnti joins, expected one"))

    # 6e. Sequence packing: the global token offset must be a DISTRIBUTED
    # prefix sum — a range-partition Exchange and a per-partition window,
    # with the per-partition bases coming back via broadcast join. The
    # classic failure (sum() OVER (ORDER BY) with no PARTITION BY → a
    # SinglePartition exchange) is asserted ABSENT.
    from corpus_dedup_spark.operators.packing import pack_sequences

    sections.append((
        "Sequence packing (distributed prefix sum: range partition + "
        "per-partition window + broadcast bases — never SinglePartition)",
        plan_of(pack_sequences(docs, seq_len=256)),
        ["rangepartitioning", "BroadcastHashJoin", "!SinglePartition",
         "!ArrowEvalPython", "!BatchEvalPython", "!CartesianProduct"],
    ))

    # 6f. As-of join: union-tag sweep — ONE keyed window over the union,
    # no range/cross join anywhere
    from corpus_dedup_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    aj = asof_join(ev.select("event_id", "user_id", "ts"),
                   ev.filter("event_type = 'purchase'")
                     .select("user_id", "ts", "event_id", "value"),
                   key_col="user_id", ts_col="ts", left_id_col="event_id",
                   right_id_col="event_id", right_payload_cols=("value",))
    sections.append((
        "As-of join (union-tag sweep: one window keyed on user_id; "
        "no cross/range join, no Python)",
        plan_of(aj),
        ["Union", "hashpartitioning(user_id", "Window",
         "!CartesianProduct", "!BroadcastNestedLoopJoin",
         "!ArrowEvalPython", "!BatchEvalPython"],
    ))

    # 6g. Corpus-LM score: vocabulary agg partial-combines before its
    # exchange; the whole operator is JVM-side
    from corpus_dedup_spark.operators.lm_quality import unigram_lm_scores

    sections.append((
        "Unigram-LM quality score (vocab agg partial-combines; zero Python)",
        plan_of(unigram_lm_scores(docs)),
        ["partial_count", "!ArrowEvalPython", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    # 7. search line/col derivation: pure codegen expressions, no Python
    # (synthetic hits input so the plan isolates the derivation itself)
    from corpus_dedup_spark.operators.search import with_line_col

    hits_df = spark.createDataFrame([("1", 5)], ["url", "pos"])
    lc = with_line_col(hits_df, pages)
    sections.append((
        "Search hit line/col (JVM expressions only — no UDF)",
        plan_of(lc),
        ["split(", "length(", "!ArrowEvalPython", "!BatchEvalPython"],
    ))

    out = ["# PLANS — physical-plan audit (.explain formatted)", "",
           "Generated by scripts/explain_audit.py; assertions checked at generation "
           "time. Markers prefixed '!' assert ABSENCE.", ""]
    for title, plan, needles in sections:
        ok = all((n[1:] not in plan) if n.startswith("!") else (n in plan)
                 for n in needles)
        if not ok:
            missing = [n for n in needles
                       if ((n[1:] in plan) if n.startswith("!") else (n not in plan))]
            failures.append((title, f"missing {missing}"))
        out += [f"## {title}", "",
                f"Checked markers: {needles} → {'OK' if ok else 'MISSING: ' + str(missing)}",
                "", "```", plan.strip(), "```", ""]
    if args.write:
        write_plans(out, os.path.join(REPO, "PLANS.md"))
    if failures:
        print("AUDIT FAILURES:")
        for t, m in failures:
            print(f"  {t}: {m}")
        sys.exit(1)
    print("plan audit OK" + (" -> PLANS.md" if args.write else ""))


if __name__ == "__main__":
    main()
