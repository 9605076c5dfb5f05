"""C4-style boilerplate n-gram detection — corpus-frequency text cleaning.

The C4 pipeline drops any line that occurs in 3+ documents of the corpus
(Raffel et al. 2020, "Exploring the Limits of Transfer Learning", §2.2); the
same rule at n-gram granularity flags navigation chrome, cookie banners and
share buttons that exact-duplicate *fragments* across hosts without the whole
document duplicating. The reference engine has no corpus-frequency filter
(its dedup is first-wins identity); this is LLM-pipeline extension surface.

Spark shape (scales to 10^12 docs):
- one ``explode`` of per-doc n-grams (pure JVM expressions — split/
  transform/sequence, no Python),
- the boilerplate set = ``distinct (gram, doc) → groupBy(gram) count ≥ K``:
  one shuffle with map-side partial distinct; the ``≥ K`` filter collapses
  the long tail before anything is joined,
- per-doc counts via a left join against that set — AQE picks broadcast when
  the surviving set is small (typical: boilerplate is a tiny head of the
  gram distribution) and falls back to a shuffle join when it is not.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def ngram_array(text: Column, n: int = 2) -> Column:
    """Positional word n-grams of a single-spaced text column (empty tokens
    dropped, same tokenization as the bigram/token queries)."""
    toks = F.filter(F.split(text, " "), lambda x: x != "")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def boilerplate_ngram_stats(docs: DataFrame, n: int = 2, min_docs: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Per-document boilerplate exposure: ``(id, n_grams, n_boiler)`` where
    ``n_boiler`` counts gram POSITIONS whose gram occurs in ``min_docs``+
    distinct documents. Downstream policy (drop grams, drop docs over a
    threshold, reweight) composes on top; this operator only measures.

    The collapsed ``(doc, gram, cnt)`` table feeds BOTH the boilerplate-set
    branch and the per-doc measure branch, and is evaluated once per branch
    (column pruning makes the two subplans non-identical, so exchange reuse
    cannot dedupe them): two corpus scans, zero storage — the right shape for
    a one-shot pass over 10^12 docs."""
    grams = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(ngram_array(F.col(text_col), n)).alias("g"))
        .groupBy("_id", "g").agg(F.count("*").alias("_cnt")))
    boiler = (
        grams
        .groupBy("g").agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("g", F.lit(1).alias("_b")))
    per = (
        grams.join(boiler, "g", "left")
        .groupBy("_id")
        .agg(F.sum("_cnt").alias("n_grams"),
             F.sum(F.col("_cnt") * F.coalesce(F.col("_b"), F.lit(0)))
             .alias("n_boiler")))
    return (
        docs.select(F.col(id_col).alias("_id")).join(per, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"))
    )


def decontaminate_ngram_hits(corpus: DataFrame, benchmark: DataFrame,
                             n: int = 13, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Train/test decontamination: per corpus document, how many DISTINCT
    benchmark n-grams it contains (GPT-3 appendix C / Brown et al. 2020 use
    13-gram overlap; pass ``n`` to taste). ``n_hits > 0`` ⇒ the doc leaks
    evaluation data and should be dropped or scrubbed — policy composes
    downstream, this operator only measures.

    Shape at 10^12 docs: the benchmark gram set is tiny next to the corpus
    (thousands of eval docs vs billions of pages) — distinct it once and let
    AQE broadcast it; the corpus side streams one explode + semi-style left
    join + partial-combining count, never materializing corpus grams."""
    bench_grams = (
        benchmark.select(
            F.explode(ngram_array(F.col(text_col), n)).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1)))
    corpus_grams = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(ngram_array(F.col(text_col), n)))
        .alias("g"))
    per = (
        corpus_grams.join(bench_grams, "g", "left")
        .groupBy("_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits")))
    return (
        corpus.select(F.col(id_col).alias("_id")).join(per, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("long")
            .alias("is_contaminated"))
    )


def repetition_ngram_stats(docs: DataFrame, n: int = 2, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Gopher-style INTRA-document repetition signal (Rae et al. 2021, A1.1:
    "fraction of duplicate n-grams"): per document,

    - ``n_grams``      — gram positions,
    - ``n_distinct``   — distinct grams,
    - ``top_count``    — occurrences of the most frequent gram,
    - ``dup_frac_ppm`` — floor((n_grams - n_distinct) * 1e6 / n_grams)
      (0 when the doc has no grams).

    Integer outputs by design (parts-per-million) so the result is exactly
    SQL-replayable. Doc-local: one groupBy (id, gram) + one groupBy id —
    both partial-aggregate map-side; at 10^12 docs the (id, gram) key is
    near-unique so the first shuffle carries ~the gram stream once. A repeated
    gram is what it sounds like; filtering policy (Gopher drops docs with
    dup_frac over a threshold) composes downstream."""
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(ngram_array(F.col(text_col), n)).alias("g"))
    per = (
        base.groupBy("_id", "g").agg(F.count("*").alias("c"))
        .groupBy("_id")
        .agg(F.sum("c").alias("n_grams"),
             F.count("*").alias("n_distinct"),
             F.max("c").alias("top_count")))
    return (
        docs.select(F.col(id_col).alias("_id")).join(per, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
            F.coalesce(F.col("top_count"), F.lit(0)).alias("top_count"),
            F.when(F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                   F.floor((F.col("n_grams") - F.col("n_distinct"))
                           * F.lit(1000000) / F.col("n_grams")))
            .otherwise(F.lit(0)).cast("long").alias("dup_frac_ppm"))
    )
