"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

Each entry exercises an operator from SURVEY.md §2 on the driver's parquet tables
(documents / events / embeddings / lineitem ...). Column names are aliased identically
on both sides — the driver sorts columns by name and value-hashes, so names and value
representations must match exactly (integers preferred; floats rounded).

As of round 4 EVERY query has a value oracle (38/38): the stages with no direct
ANSI-SQL equivalent are value-checked through closed forms on the driver tables'
degenerate shape (OPH digest, SimHash≡FNV), seeded-constant replays (ANN
hyperplanes, probe tables as SQL literals), or recursive-CTE reconstruction
(block tree). Each such oracle documents its validity argument in the query
docstring, and pytest pins the closed forms / literals to the live kernels so
drift turns the oracle red."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from corpus_dedup_spark.config import DedupConfig
from corpus_dedup_spark.plans.ann_planes import PLANES_SQL as _ANN_PLANES_SQL

SEARCH_QUERY = "table scan"  # no self-overlap (no proper border) → replace-count oracle
EMB_DIM = 64  # driver testdata embedding dim (TESTDATA.md); passed explicitly so
              # the LSH bucketer never runs a 1-row .first() probe per call


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _fanned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with input-layout repair (functions/layout.fan_out): the sf
    tables are single-row-group parquet, so without this every map-side stage
    (UDFs, regex, explodes) runs as ONE task. Conditional — no Exchange when
    the scan already matches the cluster's parallelism. Used by the queries
    whose scan stage carries heavy per-row compute; results are unaffected
    (round-robin placement feeds shuffles/aggs only)."""
    from corpus_dedup_spark.functions.layout import fan_out

    return fan_out(_docs(spark, sf_dir))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# A1/J1 — first-wins dedup (document granularity: U4 + J1 window)
# ---------------------------------------------------------------------------

def q_doc_exact_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


SQL_DOC_EXACT_DEDUP = """
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) t WHERE rn = 1
"""


# A2/A3 — dup counters
def q_doc_dup_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        (F.count("*") - F.countDistinct("text")).alias("n_dups"),
    )


SQL_DOC_DUP_STATS = """
SELECT count(*) AS n_docs,
       count(DISTINCT text) AS n_unique,
       count(*) - count(DISTINCT text) AS n_dups
FROM documents
"""


# ---------------------------------------------------------------------------
# U-family on whitespace units (SQL-expressible stand-in for the splitter,
# which is covered byte-exactly by the kernel golden tests)
# ---------------------------------------------------------------------------

def q_token_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id, len(str_split(text, ' ')) AS n_tokens FROM documents
"""


def q_unit_dedup_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    units = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("unit")
    ).filter(F.col("unit") != "")
    return units.agg(
        F.count("*").alias("n_total"),
        F.countDistinct("unit").alias("n_unique"),
        (F.count("*") - F.countDistinct("unit")).alias("n_dups"),
    )


SQL_UNIT_DEDUP_COUNTS = """
SELECT count(*) AS n_total,
       count(DISTINCT unit) AS n_unique,
       count(*) - count(DISTINCT unit) AS n_dups
FROM (SELECT unnest(str_split(text, ' ')) AS unit FROM documents)
WHERE unit <> ''
"""


def q_unit_first_wins(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    units = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("unit")
    ).filter(F.col("unit") != "")
    return units.groupBy("unit").agg(
        F.min("doc_id").alias("keeper_doc"),
        F.count("*").alias("n_occurrences"),
    )


SQL_UNIT_FIRST_WINS = """
SELECT unit, min(doc_id) AS keeper_doc, count(*) AS n_occurrences
FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS unit FROM documents)
WHERE unit <> ''
GROUP BY unit
"""


def q_bigram_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # bigrams over 0-based array; sequence(0, n-2)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat(F.element_at(toks, i + 1), F.lit(" "),
                               F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams")
    )


SQL_BIGRAM_COUNTS = """
SELECT doc_id,
  len(list_distinct(CASE WHEN len(l) >= 2
      THEN list_transform(generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i+1])
      ELSE [] END)) AS n_distinct_bigrams
FROM (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS l
      FROM documents)
"""


# ---------------------------------------------------------------------------
# J5 — n-gram (token-set) Jaccard verify: integer arithmetic, band-limited pairs
# ---------------------------------------------------------------------------

def q_token_jaccard_pairs(spark, sf_dir):
    # fan out: the token-set projection above the first exchange is the
    # query's heaviest map stage — serialized on the 1-split table otherwise
    docs = _fanned_docs(spark, sf_dir)
    # r6: set-per-row banded join, no token explode, no aggregation. The
    # pre-r6 shape exploded (doc, token) rows, self-joined on (tok, blk) —
    # ~35M matched rows at sf1.0 — and counted them per pair in a hash agg;
    # the exploded-distinct subtree additionally appeared four times in the
    # plan. Each document's distinct token set is instead carried as ONE
    # array cell into the banded self-join (the join shuffles the same
    # token bytes — one (doc,tok) element per token either way — but ~1M
    # joined rows instead of ~35M, and zero aggregations: both sides are
    # distinct arrays, so size(array_intersect) IS |A∩B| per pair).
    # ``blk`` blocks the ±20-id band into the equi-join key exactly as
    # before; id_b ∈ (id_a, id_a+20] spans exactly one of a's two exploded
    # blocks, so every candidate pair joins exactly once — no distinct
    # needed. n_inter >= 1 reproduces the old "pairs exist only via a
    # shared token" shape (without it, two token-free docs would emit an
    # n_inter = n_union = 0 row the exploded formulation never produced).
    ta = F.array_distinct(F.filter(F.split(F.col("text"), " "),
                                   lambda x: x != ""))
    base = (docs.select(F.col("doc_id"), ta.alias("toks"))
            .withColumn("sz", F.size("toks")))
    a = base.select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"),
        F.col("sz").alias("sz_a"),
        F.explode(F.array(F.floor(F.col("doc_id") / 20),
                          F.floor(F.col("doc_id") / 20) + 1)).alias("blk"),
    )
    b = base.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"),
        F.col("sz").alias("sz_b"),
        F.floor(F.col("doc_id") / 20).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .where((F.col("id_b") > F.col("id_a")) & (F.col("id_b") <= F.col("id_a") + 20))
        .withColumn("n_inter",
                    F.size(F.array_intersect("ta", "tb")).cast("long"))
        .filter(F.col("n_inter") >= 1)
        .withColumn("n_union",
                    (F.col("sz_a") + F.col("sz_b")).cast("long") - F.col("n_inter"))
        # J >= 0.5 as integer arithmetic: 2*inter >= union
        .filter(F.col("n_inter") * 2 >= F.col("n_union"))
        .select("id_a", "id_b", "n_inter", "n_union")
    )


SQL_TOKEN_JACCARD_PAIRS = """
WITH u AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
), u2 AS (SELECT * FROM u WHERE tok <> ''),
sizes AS (SELECT doc_id, count(*) AS sz FROM u2 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM u2 a JOIN u2 b
    ON a.tok = b.tok AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
"""


# ---------------------------------------------------------------------------
# J6 — REAL iterative connected components, oracle = min-over-equivalence-class
# (buckets are equivalence classes, so the oracle is a window min; the Spark side
# builds chain edges within each bucket and runs the large-star/small-star loop)
# ---------------------------------------------------------------------------

def q_cc_bucket_clusters(spark, sf_dir):
    from corpus_dedup_spark.operators.connected_components import (
        attach_labels, connected_components)

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", "lang", F.floor(F.col("n_chars") / 100).alias("bkt")
    )
    w = Window.partitionBy("source", "lang", "bkt").orderBy("doc_id")
    edges = (
        docs.withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst"))
    )
    labels = connected_components(edges)
    return attach_labels(docs.select("doc_id"), labels, "doc_id").select(
        "doc_id", "cluster_id"
    )


SQL_CC_BUCKET_CLUSTERS = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY source, lang, CAST(floor(n_chars / 100) AS BIGINT))
         AS cluster_id
FROM documents
"""


# ---------------------------------------------------------------------------
# J3/H4 — Rabin–Karp substring search via rolling-hash fingerprints + verify
# ---------------------------------------------------------------------------

def q_substring_search(spark, sf_dir):
    import numpy as np

    from corpus_dedup_spark import kernel
    from corpus_dedup_spark.functions.udfs import make_window_match_positions_udf

    q = SEARCH_QUERY
    q_cps = kernel.utf8_decode_buffer(q.encode())
    qlen = len(q_cps)
    q_prefix, _ = kernel.rolling_prefix(q_cps, kernel.SEARCH_HASH_BASE, add=1)
    q_hash = int(np.uint64(q_prefix[qlen]).view(np.int64))

    # fan out: the fingerprint UDF runs above the (single-split) scan —
    # serial without layout repair. r6: the hash probe is fused into the
    # kernel (make_window_match_positions_udf) so only candidate positions
    # cross Arrow and the JVM — the prior shape exploded one row per
    # document position (~n_chars rows/doc) and filtered them all.
    docs = _fanned_docs(spark, sf_dir)
    match_pos = make_window_match_positions_udf(qlen, q_hash)
    hits = (
        docs.select("doc_id", "text", F.explode(match_pos(F.col("text"))).alias("pos"))
        # verify: rolling hash match is a candidate, not an answer (quirk Q6)
        .filter(F.substring(F.col("text"), (F.col("pos") + 1).cast("int"), qlen)
                == F.lit(q))
    )
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_hits"))


SQL_SUBSTRING_SEARCH = f"""
SELECT doc_id,
       CAST((length(text) - length(replace(text, '{SEARCH_QUERY}', '')))
            / length('{SEARCH_QUERY}') AS BIGINT) AS n_hits
FROM documents
WHERE text LIKE '%{SEARCH_QUERY}%'
"""


# ---------------------------------------------------------------------------
# Text analysis: quality counters + BPE-ish token counting (integer outputs)
# ---------------------------------------------------------------------------

def q_quality_scores(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias("n_spaces"),
        ((F.length("text") - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))) / 3)
        .cast("long").alias("n_the"),
    )


SQL_QUALITY_SCORES = """
SELECT doc_id,
       length(text) AS len_chars,
       length(text) - length(replace(text, ' ', '')) AS n_spaces,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the
FROM documents
"""


def q_token_count_bpe(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).alias("n_bpe"),
    )


SQL_TOKEN_COUNT_BPE = """
SELECT doc_id, len(regexp_extract_all(text, '[a-z0-9]+')) AS n_bpe FROM documents
"""


# ---------------------------------------------------------------------------
# Events: windowed aggregation (exact integer cents; hour bucket)
# ---------------------------------------------------------------------------

def q_event_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    # tie-free cent rounding: floor(x*100 + 0.5) is an exact double op on both
    # engines (Spark round() is HALF_UP while DuckDB round() is banker's — .5
    # cents hash-diverge otherwise)
    return ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5)).alias("sum_cents"),
    )


# DuckDB sum(BIGINT) widens to HUGEINT — cast back so the value representation
# (and the driver's value hash) matches Spark's LONG
SQL_EVENT_HOURLY = """
SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-1 (ANN baseline), f64, rounded
# ---------------------------------------------------------------------------

def q_embedding_top1(spark, sf_dir):
    # delegates to the operator, which broadcasts the PROBE side (small by
    # construction) — broadcasting the base table would OOM at scale
    from corpus_dedup_spark.operators.embedding_dedup import brute_force_topk

    emb = _embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 50)
    return brute_force_topk(emb, probes, k=1).select(
        F.col("probe_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        F.round(F.col("cosine"), 4).alias("cos_r"),
    )


SQL_EMBEDDING_TOP1 = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
)
SELECT id_a AS vec_id, id_b AS nn_id, round(cos, 4) AS cos_r
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rn
      FROM pairs) t
WHERE rn = 1
"""


def q_norm_doc_dedup(spark, sf_dir):
    """Whitespace-normalized document dedup (U5-style normalize + J1 window)."""
    docs = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.trim(F.col("text")), "\\s+", " ")
    w = Window.partitionBy(norm).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


SQL_NORM_DOC_DEDUP = r"""
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (
    PARTITION BY regexp_replace(trim(text), '\s+', ' ', 'g') ORDER BY doc_id) AS rn
  FROM documents
) t WHERE rn = 1
"""


def q_event_sessions(spark, sf_dir):
    """Sessionization (30-min gap) — the window-function workhorse."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count("*").alias("n_events"))
    )


SQL_EVENT_SESSIONS = """
WITH g AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events
)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-shaped aggregate (integer cents for exactness)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # tie-free rounding + BIGINT sums (see q_event_hourly)
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.floor(F.col("l_quantity") + 0.5)).alias("sum_qty"),
            F.sum(cents).alias("sum_price_cents"),
        )
    )


SQL_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_mask_filter(spark, sf_dir):
    """S1 mask filter: the reference's fnmatch mask (default '*.txt', ref
    src/config.c:4, src/dedup.c:899-1014) via the glob_to_rlike translator."""
    from corpus_dedup_spark.functions.text import glob_to_rlike

    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("source").rlike(glob_to_rlike("src[02468]")))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


SQL_MASK_FILTER = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE regexp_matches(source, '^src[02468]$')
GROUP BY source
"""


def _docs_augmented(spark, sf_dir):
    """documents ∪ deterministic exact copies of every 20th doc (doc_id + 1e6).

    The driver tables carry ZERO exact text duplicates, so without seeding the
    near-dup leg verifies nothing (r1: lsh_candidates = 0 rows). The augmentation
    is SQL-expressible, so both engines build the identical input."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


SQL_AUG = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
"""


def q_lsh_exact_floor(spark, sf_dir):
    """Recall floor for the LSH leg (H5/H6/J4): every exact text-equal pair MUST
    surface as an LSH candidate (identical text ⇒ identical shingle set ⇒ identical
    signature ⇒ collision in every band). Output = exact pairs ∩ candidate pairs;
    the structural guarantee makes that equal to the full exact-pair set, so any
    signature/banding/bucket-join regression drops rows and turns this red."""
    from corpus_dedup_spark.operators.minhash_lsh import (band_explode,
                                                          candidate_pairs,
                                                          doc_band_features)

    cfg = DedupConfig()
    docs = _docs_augmented(spark, sf_dir)
    feats = doc_band_features(docs, cfg, id_col="doc_id", text_col="text")
    pairs, _dropped = candidate_pairs(
        band_explode(feats, id_col="doc_id"), cfg, id_col="doc_id"
    )
    exact = (
        docs.alias("a")
        .join(
            docs.alias("b"),
            (F.col("a.text") == F.col("b.text"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return exact.join(pairs, ["id_a", "id_b"]).select("id_a", "id_b")


SQL_LSH_EXACT_FLOOR = f"""
WITH aug AS ({SQL_AUG})
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM aug a JOIN aug b ON a.text = b.text AND a.doc_id < b.doc_id
"""


# The driver's documents are clean single-spaced printable ASCII with NO sentence
# terminators (asserted for sf0.001/0.01/0.1), so on this input: sentence extraction
# yields exactly [whole text], single-unit shingle sets make near-dup Jaccard ∈ {0,1},
# and the full near-dup leg degenerates to text-equality clustering — which IS
# SQL-expressible. These oracles run the REAL pipelines (H5→H6→J4→J5→J6 and
# extract→keeper-agg→reassemble) end-to-end against that closed form; the rich-input
# behavior is covered by the pytest planted-truth harness.

def q_near_dup_clusters(spark, sf_dir):
    """Whole near-dup pipeline (MinHash → LSH bands → candidates → exact-Jaccard
    verify → connected components) on the augmented docs, oracle-checked: with
    single-unit docs, shingle Jaccard is ∈ {0,1}, so clusters must equal
    text-equality groups labeled by their min doc_id."""
    from corpus_dedup_spark.operators.minhash_lsh import near_dup_clusters

    cfg = DedupConfig(jaccard_threshold=0.5)
    out = near_dup_clusters(_docs_augmented(spark, sf_dir), cfg, id_col="doc_id")
    return out.select("doc_id", "cluster_id")


SQL_NEAR_DUP_CLUSTERS = f"""
WITH aug AS ({SQL_AUG})
SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS cluster_id FROM aug
"""


def q_sentence_dedup_docs(spark, sf_dir):
    """Flagship reference pipeline (sentence extract → normalize → global first-wins
    keeper agg → per-doc reassembly) on the augmented docs, oracle-checked."""
    from corpus_dedup_spark.operators.exact_dedup import run_exact_dedup

    docs = _docs_augmented(spark, sf_dir)
    _keepers, deduped, _stats = run_exact_dedup(docs, id_col="doc_id")
    return deduped.select("doc_id", "dedup_text", "n_units")


SQL_SENTENCE_DEDUP_DOCS = f"""
WITH aug AS ({SQL_AUG})
SELECT doc_id, text AS dedup_text, CAST(1 AS BIGINT) AS n_units
FROM (SELECT doc_id, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM aug) t
WHERE rn = 1
"""


def q_shared_blocks(spark, sf_dir):
    """Cross-document shared-block leg (rolling-hash fingerprint grouping — the
    distributable form of the reference's global block tree) on augmented docs."""
    from corpus_dedup_spark.operators.block_dups import shared_block_pairs

    docs = _docs_augmented(spark, sf_dir)
    # default seed=0 on purpose: the oracle compare needs a deterministic base;
    # this trades the adversarial Schwartz–Zippel bound for the random-input one
    # (fine for driver data). Pipelines pass seed_from_run_id(run_id) instead.
    return shared_block_pairs(docs, window=32, id_col="doc_id")


SQL_SHARED_BLOCKS = f"""
WITH aug AS ({SQL_AUG}),
w AS (
  SELECT doc_id, substr(text, i, 32) AS blk
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 31, 0))) AS i
        FROM aug)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_windows
FROM w a JOIN w b ON a.blk = b.blk AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_except_op(spark, sf_dir):
    """Set difference (the verify-mode shape: A EXCEPT B == expected remainder)."""
    docs = _docs(spark, sf_dir)
    all_ids = docs.select("doc_id")
    en_ids = docs.filter(F.col("lang") == "en").select("doc_id")
    return all_ids.exceptAll(en_ids)


SQL_EXCEPT_OP = """
SELECT doc_id FROM documents
EXCEPT ALL
SELECT doc_id FROM documents WHERE lang = 'en'
"""


# ---------------------------------------------------------------------------
# Signature/LSH/cluster/fingerprint stages — oracle-backed via closed forms,
# seeded-constant replays, or recursive reconstruction (see module docstring)
# ---------------------------------------------------------------------------

def _docs_as_pages(spark, sf_dir):
    from corpus_dedup_spark.sources.pages import documents_as_pages

    return documents_as_pages(spark, sf_dir)


def q_minhash_signatures(spark, sf_dir):
    """Per-page OPH MinHash signature digest — FULL value oracle as of r4.

    Oracle validity (SQL_MINHASH_SIG): on the driver tables every document is a
    single sentence unit (no terminators) whose bytes equal the text bytes, so
    the shingle set is the singleton {fnv1a(text)} (``_shingle_hashes`` with
    n < k folds all units into one shingle, which for one unit is the unit hash
    itself). A singleton set makes the full OPH+optimal-densification signature
    a closed-form function of ``hv = fnv1a(text)*a0 + b0 mod 2^64``: bin
    ``j0 = hv % P`` holds hv; every other lane c holds ``hv + m(c, j0)*C``
    where m is determined by the fixed probe permutations (probe attempt k
    hitting j0 ⇒ m = k+1, else rotation fallback m = 24 + (j0-c) mod P). The
    oracle therefore recomputes ``sig_sum = (P*hv + C*M[j0]) mod 2^64`` and
    ``sig_first = hv + C*M0[j0] mod 2^64`` in DuckDB HUGEINT arithmetic with
    the two 128-entry multiplier tables embedded as literals (M[j0] = Σ_c
    m(c,j0); M0[j0] = m(0,j0)) — value-checking unit extraction, FNV-1a, the
    multiply-shift hash, binning, and both densification branches end-to-end.
    The closed form is property-tested against the real kernel on random
    multi-shingle sets in tests (not just the degenerate case). ``sig_len`` /
    ``n_shingles`` are structural (constant on this input) — the value load is
    carried by sig_sum/sig_first."""
    from corpus_dedup_spark.functions.udfs import make_sig_digest_udf
    from corpus_dedup_spark.operators.minhash_lsh import doc_features

    cfg = DedupConfig()
    feats = doc_features(_docs_as_pages(spark, sf_dir), cfg)
    # sig/shingles are packed u64 blobs (8 bytes per hash) — see make_features_udf
    digest = make_sig_digest_udf(cfg.num_perm)
    return feats.select(
        "url",
        (F.length("sig") / 8).cast("long").alias("sig_len"),
        (F.length("shingles") / 8).cast("long").alias("n_shingles"),
        digest(F.col("sig")).alias("digest"),
    ).select(
        "url", "sig_len", "n_shingles",
        F.col("digest.sig_sum").alias("sig_sum"),
        F.col("digest.sig_first").alias("sig_first"),
    )


# Closed-form OPH signature digest for singleton shingle sets (see the
# q_minhash_signatures docstring). Constants: a0/b0 = first multiply-shift draw
# of _perm_params(seed=1215752193); C = the odd golden-ratio densification
# offset; M/M0 = 128-entry multiplier tables derived from the fixed probe
# permutations (_probe_tables(128, 24), seeded by P alone — constants by
# construction, like embedding the FNV prime). Regenerate with
# scripts/gen_minhash_oracle_tables.py; tests/test_minhash_oracle_closed_form.py
# property-checks the closed form against the real kernel.
_MINHASH_M = (
    "[9724,9718,9647,9523,9935,9882,9359,9454,9455,9288,9519,9690,9523,9571,"
    "9580,9350,9361,9801,9681,9569,9662,9725,9325,9667,9723,9858,9494,9288,"
    "8979,9321,9980,9219,9688,9333,9354,9347,9633,9359,9625,9484,9625,9605,"
    "9572,9603,9552,9530,9499,9440,9957,9639,9490,9470,9355,9574,9337,9588,"
    "9751,9298,9495,9599,9552,9487,9639,9602,9476,9514,9475,9594,9576,9909,"
    "9524,9100,9674,9257,9682,9586,9398,9566,9585,9378,9623,9475,9260,9771,"
    "9584,9764,9653,9838,9540,9340,9375,9493,9426,9684,9148,9502,9142,9652,"
    "9531,9699,9535,9628,9638,9450,9295,9211,9288,9736,9635,9381,9710,9488,"
    "9473,9887,9369,9469,9482,9748,9350,9312,9118,9592,9787,9307,9501,9718,"
    "9578,10094]"
)
_MINHASH_M0 = (
    "[0,25,26,27,28,29,2,31,32,33,34,35,36,37,38,14,40,7,42,43,44,45,12,47,"
    "48,49,50,5,52,53,11,55,56,57,20,59,8,61,62,63,64,65,66,67,68,69,4,71,"
    "72,24,74,75,76,77,78,79,80,81,82,83,84,85,86,87,19,89,90,91,92,10,21,"
    "95,96,97,98,99,100,101,102,103,104,105,106,13,108,109,1,111,112,113,"
    "114,115,116,117,118,119,120,121,16,123,124,125,18,127,128,129,130,131,"
    "132,133,134,15,136,137,3,139,140,141,142,143,144,145,146,147,148,6,"
    "150,151]"
)

SQL_MINHASH_SIG = f"""
WITH pages AS (
  SELECT 'doc://' || source || '/' || CAST(doc_id AS VARCHAR) AS url, text
  FROM documents
), b AS (
  SELECT url, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM pages
), f AS (
  SELECT url,
    list_reduce(
      list_prepend(CAST(1469598103934665603 AS HUGEINT),
        list_transform(range(1, n + 1),
          i -> CAST(strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) * 16
                  + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 17 AS HUGEINT))),
      (acc, byte) -> (xor(acc, byte) * 1099511628211) % 18446744073709551616
    ) AS u
  FROM b
), hv AS (
  SELECT url,
    ( (u % 4294967296) * CAST(17517612444482299011 AS HUGEINT)
    + ((u // 4294967296) * CAST(17517612444482299011 AS HUGEINT) % 4294967296)
      * 4294967296
    + CAST(4234548666615899430 AS HUGEINT)
    ) % 18446744073709551616 AS hv
  FROM f
), lanes AS (
  SELECT url, hv, CAST(hv % 128 AS INT) AS j0 FROM hv
), digest AS (
  SELECT url,
    (128 * hv + CAST(11400714819323198485 AS HUGEINT)
              * {_MINHASH_M}[j0 + 1]) % 18446744073709551616 AS s,
    (hv + CAST(11400714819323198485 AS HUGEINT)
        * {_MINHASH_M0}[j0 + 1]) % 18446744073709551616 AS f0
  FROM lanes
)
SELECT url,
       CAST(128 AS BIGINT) AS sig_len,
       CAST(1 AS BIGINT) AS n_shingles,
       CAST(CASE WHEN s >= 9223372036854775808
                 THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS sig_sum,
       CAST(CASE WHEN f0 >= 9223372036854775808
                 THEN f0 - 18446744073709551616 ELSE f0 END AS BIGINT) AS sig_first
FROM digest
"""


def q_lsh_candidates(spark, sf_dir):
    """Oracle-backed as of r4. On the driver's degenerate input (no sentence
    terminators ⇒ one unit per doc ⇒ singleton shingle set), the LSH candidate
    set equals the text-equal pair set EXACTLY: identical text ⇒ identical
    signature ⇒ collision in every band (the ≥ floor), and distinct singleton
    shingle sets would need a 4×64-bit band-hash collision to produce a spurious
    pair (the ≤ side — deterministic data, so green once means green always).
    So the same SQL that floors the leg (text-equal self-join) is the full
    value oracle here. Augmented input: driver tables carry no dups (r1
    vacuity), so copies are planted deterministically."""
    from corpus_dedup_spark.operators.minhash_lsh import (band_explode,
                                                          candidate_pairs,
                                                          doc_band_features)

    cfg = DedupConfig()
    feats = doc_band_features(_docs_augmented(spark, sf_dir), cfg,
                              id_col="doc_id")
    pairs, _dropped = candidate_pairs(
        band_explode(feats, id_col="doc_id"), cfg, id_col="doc_id"
    )
    return pairs


def q_sentence_dedup_pages(spark, sf_dir):
    """The flagship reference pipeline (sentence mode) on documents-as-pages —
    oracle-backed as of r4: same degenerate-input argument as sentence_dedup_docs
    (driver text has no terminators ⇒ one unit per page), with the url mapping
    reproduced in SQL, so the pages-schema entry point is value-checked too."""
    from corpus_dedup_spark.operators.exact_dedup import run_exact_dedup

    from corpus_dedup_spark.functions.layout import fan_out

    _marked, deduped, _stats = run_exact_dedup(
        fan_out(_docs_as_pages(spark, sf_dir)))
    return deduped.select("url", "dedup_text", "n_units")


SQL_SENTENCE_DEDUP_PAGES = """
WITH pages AS (
  SELECT 'doc://' || source || '/' || CAST(doc_id AS VARCHAR) AS url, text
  FROM documents
)
SELECT url, text AS dedup_text, CAST(1 AS BIGINT) AS n_units
FROM (SELECT url, text,
             row_number() OVER (PARTITION BY text ORDER BY url) AS rn
      FROM pages) t
WHERE rn = 1
"""


def q_simhash(spark, sf_dir):
    """Per-page 64-bit SimHash over sentence-unit FNV hashes.

    Oracle validity (SQL_SIMHASH): on the driver tables every document extracts
    exactly ONE sentence unit whose bytes equal the raw text bytes (verified for
    all sf0.01 docs), and a single-unit SimHash degenerates to that unit's
    FNV-1a hash (each bit's vote tally is +-1, so the sign bits ARE the hash
    bits). The oracle therefore folds reference FNV-1a (offset 1469598103934665603,
    prime 1099511628211 — ref src/hash_utils.c:3-10) over the UTF-8 bytes in
    DuckDB HUGEINT arithmetic, value-checking the full hash pipeline: byte
    extraction, xor/multiply mod 2^64 fold, and int64 bit-reinterpretation.
    Multi-unit voting is value-checked separately by simhash_floor (planted
    copies) and pytest goldens.
    """
    from corpus_dedup_spark.functions.udfs import simhash_udf

    pages = _docs_as_pages(spark, sf_dir)
    return pages.select("url", simhash_udf(F.col("text")).alias("simhash"))


SQL_SIMHASH = """
WITH pages AS (
  SELECT 'doc://' || source || '/' || CAST(doc_id AS VARCHAR) AS url, text
  FROM documents
), b AS (
  SELECT url, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM pages
), f AS (
  SELECT url,
    list_reduce(
      list_prepend(CAST(1469598103934665603 AS HUGEINT),
        list_transform(range(1, n + 1),
          i -> CAST(strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) * 16
                  + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 17 AS HUGEINT))),
      (acc, byte) -> (xor(acc, byte) * 1099511628211) % 18446744073709551616
    ) AS hu
  FROM b
)
SELECT url,
       CAST(CASE WHEN hu >= 9223372036854775808
                 THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS simhash
FROM f
"""


def q_text_profile(spark, sf_dir):
    """Full text-analysis profile — COMPLETE value oracle as of r4 (every
    column, not just the _ints/_ratios slices): the fingerprint column is now
    the reference-parity base-31 rolling hash (plain modular arithmetic,
    foldable in DuckDB HUGEINT over codepoints of the normalized text), and
    SQL_TEXT_PROFILE replicates the whole lang-ID decision tree (script-class
    regex densities + per-language marker votes with the Spark tie-break
    order) plus the quality composite. The float ratio columns are emitted RAW
    (not ppm-floored): each is a single IEEE-754 division of exact integers,
    so both engines produce bit-identical doubles and identical reprs. The
    _ints/_ratios companions are kept as narrower, independently-derived
    checks."""
    from corpus_dedup_spark.functions.text import text_profile

    return text_profile(_docs(spark, sf_dir).select("doc_id", "text"))


SQL_TEXT_PROFILE = r"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, '[\.,;:!\?"''()\[\]{}]', '', 'g')) AS n_punct,
         length(text) - length(replace(text, ' ', '')) AS n_space,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_words,
         ' ' || lower(text) || ' ' AS padded
  FROM documents
), mk AS (
  SELECT *,
    CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
       + (length(padded) - length(replace(padded, ' and ', ''))) / 5
       + (length(padded) - length(replace(padded, ' of ', ''))) / 4
       + (length(padded) - length(replace(padded, ' to ', ''))) / 4
       + (length(padded) - length(replace(padded, ' is ', ''))) / 4 AS BIGINT) AS s_en,
    CAST((length(padded) - length(replace(padded, ' el ', ''))) / 4
       + (length(padded) - length(replace(padded, ' la ', ''))) / 4
       + (length(padded) - length(replace(padded, ' de ', ''))) / 4
       + (length(padded) - length(replace(padded, ' que ', ''))) / 5
       + (length(padded) - length(replace(padded, ' los ', ''))) / 5 AS BIGINT) AS s_es,
    CAST((length(padded) - length(replace(padded, ' der ', ''))) / 5
       + (length(padded) - length(replace(padded, ' die ', ''))) / 5
       + (length(padded) - length(replace(padded, ' und ', ''))) / 5
       + (length(padded) - length(replace(padded, ' das ', ''))) / 5
       + (length(padded) - length(replace(padded, ' ist ', ''))) / 5 AS BIGINT) AS s_de,
    CAST((length(padded) - length(replace(padded, ' le ', ''))) / 4
       + (length(padded) - length(replace(padded, ' les ', ''))) / 5
       + (length(padded) - length(replace(padded, ' des ', ''))) / 5
       + (length(padded) - length(replace(padded, ' est ', ''))) / 5
       + (length(padded) - length(replace(padded, ' une ', ''))) / 5 AS BIGINT) AS s_fr,
    CAST((length(padded) - length(replace(padded, ' o ', ''))) / 3
       + (length(padded) - length(replace(padded, ' os ', ''))) / 4
       + (length(padded) - length(replace(padded, ' um ', ''))) / 4
       + (length(padded) - length(replace(padded, ' uma ', ''))) / 5
       + (length(padded) - length(replace(padded, ' não ', ''))) / 5 AS BIGINT) AS s_pt,
    CAST((length(padded) - length(replace(padded, ' il ', ''))) / 4
       + (length(padded) - length(replace(padded, ' gli ', ''))) / 5
       + (length(padded) - length(replace(padded, ' di ', ''))) / 4
       + (length(padded) - length(replace(padded, ' che ', ''))) / 5
       + (length(padded) - length(replace(padded, ' per ', ''))) / 5 AS BIGINT) AS s_it,
    CAST((length(padded) - length(replace(padded, ' de ', ''))) / 4
       + (length(padded) - length(replace(padded, ' het ', ''))) / 5
       + (length(padded) - length(replace(padded, ' een ', ''))) / 5
       + (length(padded) - length(replace(padded, ' van ', ''))) / 5
       + (length(padded) - length(replace(padded, ' niet ', ''))) / 6 AS BIGINT) AS s_nl,
    CAST((length(padded) - length(replace(padded, ' і ', ''))) / 3
       + (length(padded) - length(replace(padded, ' та ', ''))) / 4
       + (length(padded) - length(replace(padded, ' що ', ''))) / 4
       + (length(padded) - length(replace(padded, ' це ', ''))) / 4
       + (length(padded) - length(replace(padded, ' він ', ''))) / 5
       + (length(padded) - length(replace(padded, ' як ', ''))) / 4
       + (length(padded) - length(replace(padded, ' не ', ''))) / 4 AS BIGINT) AS s_uk,
    CAST((length(padded) - length(replace(padded, ' и ', ''))) / 3
       + (length(padded) - length(replace(padded, ' в ', ''))) / 3
       + (length(padded) - length(replace(padded, ' не ', ''))) / 4
       + (length(padded) - length(replace(padded, ' что ', ''))) / 5
       + (length(padded) - length(replace(padded, ' он ', ''))) / 4
       + (length(padded) - length(replace(padded, ' это ', ''))) / 5
       + (length(padded) - length(replace(padded, ' как ', ''))) / 5 AS BIGINT) AS s_ru,
    CAST((length(padded) - length(replace(padded, ' и ', ''))) / 3
       + (length(padded) - length(replace(padded, ' на ', ''))) / 4
       + (length(padded) - length(replace(padded, ' да ', ''))) / 4
       + (length(padded) - length(replace(padded, ' се ', ''))) / 4
       + (length(padded) - length(replace(padded, ' това ', ''))) / 6
       + (length(padded) - length(replace(padded, ' той ', ''))) / 5 AS BIGINT) AS s_bg,
    length(regexp_replace(text, '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]', '', 'g')) < n * 0.7 AS is_cjk,
    length(regexp_replace(text, '[\x{3040}-\x{30ff}]', '', 'g')) < n AS has_kana,
    length(regexp_replace(text, '[\x{ac00}-\x{d7af}]', '', 'g')) < n * 0.7 AS is_hangul,
    length(regexp_replace(text, '[\x{0600}-\x{06ff}]', '', 'g')) < n * 0.7 AS is_ar,
    length(regexp_replace(text, '[\x{0400}-\x{04ff}]', '', 'g')) < n * 0.7 AS is_cy
  FROM base
), lang AS (
  SELECT *,
    CASE
      WHEN n IS NULL OR n = 0 THEN 'und'
      WHEN is_cjk AND has_kana THEN 'ja'
      WHEN is_cjk AND is_hangul THEN 'ko'
      WHEN is_cjk THEN 'zh'
      WHEN is_ar THEN 'ar'
      WHEN is_cy THEN
        CASE WHEN greatest(s_uk, s_ru, s_bg) > 0 THEN
          CASE WHEN s_uk = greatest(s_uk, s_ru, s_bg) THEN 'uk'
               WHEN s_ru = greatest(s_uk, s_ru, s_bg) THEN 'ru'
               ELSE 'bg' END
        ELSE 'uk' END
      ELSE
        CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) > 0 THEN
          CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) THEN 'en'
               WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) THEN 'es'
               WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) THEN 'de'
               WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) THEN 'fr'
               WHEN s_pt = greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) THEN 'pt'
               WHEN s_it = greatest(s_en, s_es, s_de, s_fr, s_pt, s_it, s_nl) THEN 'it'
               ELSE 'nl' END
        ELSE 'und' END
    END AS lang_pred
  FROM mk
), fp AS (
  SELECT doc_id,
    list_reduce(
      list_prepend(CAST(0 AS HUGEINT),
        list_transform(
          range(1, length(trim(regexp_replace(text, '[\x{01}-\x{20}]+', ' ', 'g'), ' ')) + 1),
          i -> CAST(unicode(substr(trim(regexp_replace(text, '[\x{01}-\x{20}]+', ' ', 'g'), ' '), i, 1)) AS HUGEINT))),
      (acc, cp) -> (acc * 31 + cp) % 18446744073709551616
    ) AS fpu
  FROM documents
)
SELECT l.doc_id, l.text, l.lang_pred,
  (CASE WHEN l.n >= 200 AND l.n <= 100000 THEN 1.0 WHEN l.n >= 50 THEN 0.5 ELSE 0.0 END
 + CASE WHEN l.n_alpha / greatest(l.n, 1) >= 0.6 THEN 1.0 WHEN l.n_alpha / greatest(l.n, 1) >= 0.4 THEN 0.5 ELSE 0.0 END
 + CASE WHEN s_en / greatest(l.n_words, 1) >= 0.05 THEN 1.0 WHEN s_en / greatest(l.n_words, 1) > 0 THEN 0.5 ELSE 0.0 END
 + CASE WHEN (l.n - l.n_space) / greatest(l.n_words, 1) >= 3 AND (l.n - l.n_space) / greatest(l.n_words, 1) <= 12 THEN 1.0 ELSE 0.0 END
  ) / 4.0 AS quality,
  CAST(l.n_words AS BIGINT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(l.text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe,
  CAST(CASE WHEN f.fpu >= 9223372036854775808 THEN f.fpu - 18446744073709551616 ELSE f.fpu END AS BIGINT) AS fingerprint,
  CAST(l.n_words AS BIGINT) AS n_words,
  l.n_alpha / greatest(l.n, 1) AS alpha_ratio,
  l.n_digit / greatest(l.n, 1) AS digit_ratio,
  l.n_punct / greatest(l.n, 1) AS punct_ratio,
  (l.n - l.n_space) / greatest(l.n_words, 1) AS mean_word_len,
  s_en / greatest(l.n_words, 1) AS stopword_ratio
FROM lang l JOIN fp f USING (doc_id)
"""


def q_embedding_ann(spark, sf_dir):
    """Multi-table hyperplane-LSH ANN top-3 — FULL value oracle as of r4.

    The whole computation is deterministic given the seeded hyperplane matrix
    (seed=7), so SQL_EMBEDDING_ANN replays it exactly: the planes are embedded
    as repr()-exact double literals (plans/ann_planes.py), bucket ids are the
    little-endian sign-bit byte × FNV-prime + table salt (n_planes=8 ⇒ one
    byte), candidates are the distinct same-bucket pairs, and cosine + window
    rank reuse the formulation already proven bit-exact by embedding_top1.
    Both engines fold the dot products sequentially in double, so even the
    rank ORDERING matches bit-for-bit; cosine is emitted rounded to 4 places
    like the top1 oracle. Residual caveat (documented, deterministic data so
    green-once-is-green-always): numpy's blocked matmul vs SQL's sequential
    dot could in principle disagree on the SIGN of a plane dot within ~1 ulp
    of zero — probability ~1e-11 per dataset, and any such flip is caught by
    the hash compare, not hidden."""
    from corpus_dedup_spark.operators.embedding_dedup import lsh_ann_topk

    emb = _embeddings(spark, sf_dir)
    return lsh_ann_topk(emb, k=3, n_planes=8, n_tables=2, dim=EMB_DIM).select(
        "probe_id", "neighbor_id",
        F.round(F.col("cosine"), 4).alias("cos_r"), "rank")


SQL_EMBEDDING_ANN = f"""
WITH planes AS (
  SELECT {_ANN_PLANES_SQL} AS p
), dots AS (
  SELECT e.vec_id, t.t, j.j,
    list_sum(list_transform(range(1, 65),
      i -> CAST(e.embedding[i] AS DOUBLE) * p.p[t.t * 8 + j.j + 1][i])) AS d
  FROM embeddings e, planes p, range(0, 2) t(t), range(0, 8) j(j)
), b AS (
  SELECT vec_id, t,
    CAST(sum(CASE WHEN d > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      * 1099511628211 + t AS bucket
  FROM dots GROUP BY vec_id, t
), cand AS (
  SELECT DISTINCT l.vec_id AS probe_id, r.vec_id AS neighbor_id
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
), scored AS (
  SELECT c.probe_id, c.neighbor_id,
    list_sum(list_transform(list_zip(a.embedding, bb.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(bb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    AS cos
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.probe_id
  JOIN embeddings bb ON bb.vec_id = c.neighbor_id
)
SELECT probe_id, neighbor_id, round(cos, 4) AS cos_r, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored) t
WHERE rn <= 3
"""


def q_media_features(spark, sf_dir):
    """Multimodal plumbing over synthetic media derived from documents (payload =
    utf-8 text bytes; deterministic fake decoder). Oracle-backed as of r4:
    n_bytes comes out of the REAL mapInPandas pass (value-checks the batch
    plumbing), content_md5 is md5 over the same payload bytes on both engines.
    The doc_id<200 filter replaces r3's limit(200) — LIMIT without ORDER is not
    a deterministic row set, so it could never be value-checked."""
    from corpus_dedup_spark.multimodal.ops import extract_media_features

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(64).cast("long").alias("width"),
        F.lit(64).cast("long").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_media_features(media, fake=True).drop("features", "content_hash")
    sidecar = media.select("media_id", F.md5(F.col("payload")).alias("content_md5"))
    return feats.join(sidecar, "media_id")


SQL_MEDIA_FEATURES = """
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       'image' AS kind,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 200
"""


def q_embedding_ann_floor(spark, sf_dir):
    """Recall floor for the LSH ANN leg (the one LLM op with no value check in
    r3): plant an exact copy of every 10th embedding (vec_id + 1e6); an identical
    vector lands in the SAME bucket in EVERY hyperplane table, so the LSH
    candidate is guaranteed, and cosine(v, v) is the maximum any neighbor can
    score, so the source must be the copy's rank-1 neighbor. Output = the planted
    relation recovered from lsh_ann_topk; any bucketing/scoring/ranking
    regression drops rows and turns the oracle red (same pattern as
    lsh_exact_floor floors the MinHash leg)."""
    from corpus_dedup_spark.operators.embedding_dedup import lsh_ann_topk

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    aug = emb.unionByName(copies)
    ann = lsh_ann_topk(aug, k=3, n_planes=8, n_tables=2, dim=EMB_DIM)
    return (
        ann.filter((F.col("probe_id") >= 1_000_000) & (F.col("rank") == 1)
                   & (F.col("neighbor_id") == F.col("probe_id") - 1_000_000))
        .select("probe_id", "neighbor_id")
    )


SQL_EMBEDDING_ANN_FLOOR = """
SELECT vec_id + 1000000 AS probe_id, vec_id AS neighbor_id
FROM embeddings WHERE vec_id % 10 = 0
"""


def q_minhash_sig_floor(spark, sf_dir):
    """Structural floor for the signature stage (H5): identical text ⇒ identical
    shingle set ⇒ identical OPH MinHash signature, bit for bit. Output = the
    planted copy relation filtered on byte-equal sig blobs, so any
    non-determinism or drift in extraction/shingling/minhash turns this red."""
    from corpus_dedup_spark.operators.minhash_lsh import doc_features

    cfg = DedupConfig()
    feats = doc_features(_docs_augmented(spark, sf_dir), cfg, id_col="doc_id")
    orig = feats.filter(F.col("doc_id") < 1_000_000).select(
        F.col("doc_id"), F.col("sig").alias("sig_o"))
    copy = feats.filter(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("doc_id"),
        (F.col("doc_id")).alias("copy_id"), F.col("sig").alias("sig_c"))
    return (
        orig.join(copy, "doc_id")
        .filter(F.col("sig_o") == F.col("sig_c"))
        .select("doc_id", "copy_id")
    )


SQL_MINHASH_SIG_FLOOR = """
SELECT doc_id, doc_id + 1000000 AS copy_id
FROM documents WHERE doc_id % 20 = 0
"""


def q_simhash_floor(spark, sf_dir):
    """Same structural floor for SimHash: identical text ⇒ identical 64-bit
    simhash. Upgrades the r3 rows-only simhash entry with a value check."""
    from corpus_dedup_spark.functions.udfs import simhash_udf

    sh = _docs_augmented(spark, sf_dir).select(
        "doc_id", simhash_udf(F.col("text")).alias("simhash"))
    orig = sh.filter(F.col("doc_id") < 1_000_000).select(
        "doc_id", F.col("simhash").alias("sh_o"))
    copy = sh.filter(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("doc_id"),
        F.col("doc_id").alias("copy_id"), F.col("simhash").alias("sh_c"))
    return (
        orig.join(copy, "doc_id")
        .filter(F.col("sh_o") == F.col("sh_c"))
        .select("doc_id", "copy_id")
    )


SQL_SIMHASH_FLOOR = SQL_MINHASH_SIG_FLOOR


def q_block_tree_stats(spark, sf_dir):
    """Per-level marked/pointer counts of the Block Tree — FULL value oracle
    as of r4: SQL_BLOCK_TREE_STATS replays the whole construction level by
    level. The replay is exact, not approximated: level-0 root per non-empty
    (squashed) doc; each marked node of length > 1 splits into
    (floor(l/2), l - floor(l/2)) children (s = tau = 2, the reference's call
    sites); a child is marked iff it is the FIRST occurrence (min start_pos)
    of its CONTENT among the level's blocks — content compared directly via
    substr, which is the decision the engine's hash+memcmp election computes
    (the hash is an accelerator, never the identity — quirk Q6). Pointer
    nodes do not recurse; depth capped at 40 on both sides.

    r5 portability fix: the r4 oracle put a window function inside the
    recursive arm of a RECURSIVE CTE — a construct whose evaluation order
    varies across DuckDB releases (locally value-identical, driver-red). The
    depth cap makes recursion unnecessary: the construction is now UNROLLED
    into 40 chained PLAIN CTEs (ch_k = children of lvl_{k-1}'s marked nodes;
    lvl_k marks via ``min(start_pos) OVER (PARTITION BY doc, content)`` — a
    window in a non-recursive CTE, which is well-defined SQL everywhere).
    Levels past the corpus' actual depth are empty and vanish in the final
    GROUP BY, exactly as the engine emits no rows there. This value-checks
    node counts, marking decisions, and recursion shape at every level.
    (The r3 .limit(50) was replaced by doc_id < 50: LIMIT without ORDER is
    not a deterministic row set, so it could never be value-checked.)"""
    from corpus_dedup_spark.operators.block_tree import (build_block_tree,
                                                         tree_stats)

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return tree_stats(build_block_tree(docs, id_col="doc_id"))


def _block_tree_stats_sql(max_levels: int = 40) -> str:
    """Build the unrolled (non-recursive) block-tree-stats oracle SQL.

    One ``ch{k}``/``lvl{k}`` pair per level up to the engine's depth cap;
    every construct used (plain CTE chain, unnest(generate_series),
    ``min() OVER`` without frame/order) is stable across DuckDB versions —
    unlike the r4 window-inside-recursive-CTE this replaces."""
    parts = [r"""WITH sq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         replace(replace(text, chr(10), ' '), chr(13), ' ') AS text
  FROM documents WHERE doc_id < 50
), lvl0 AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS start_pos,
         CAST(length(text) AS BIGINT) AS length, true AS is_marked
  FROM sq WHERE length(text) > 0
)"""]
    for k in range(1, max_levels + 1):
        parts.append(f""", ch{k} AS (
  SELECT t.doc_id,
         t.start_pos + c.j * (t.length // 2) AS start_pos,
         CASE WHEN c.j = 0 THEN t.length // 2
              ELSE t.length - (t.length // 2) END AS length,
         substr(s.text, CAST(t.start_pos + c.j * (t.length // 2) + 1 AS INT),
                CAST(CASE WHEN c.j = 0 THEN t.length // 2
                     ELSE t.length - (t.length // 2) END AS INT)) AS content
  FROM lvl{k - 1} t JOIN sq s USING (doc_id),
       (SELECT unnest(generate_series(0, 1)) AS j) c
  WHERE t.is_marked AND t.length > 1
), lvl{k} AS (
  SELECT doc_id, start_pos, length,
         start_pos = min(start_pos) OVER (PARTITION BY doc_id, content)
           AS is_marked
  FROM ch{k}
)""")
    union = "\n  UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS level, is_marked FROM lvl{k}"
        for k in range(max_levels + 1))
    parts.append(f"""
SELECT level, count(*) AS n_nodes,
       count_if(is_marked) AS n_marked,
       count_if(NOT is_marked) AS n_pointers
FROM ({union})
GROUP BY level ORDER BY level
""")
    return "".join(parts)


SQL_BLOCK_TREE_STATS = _block_tree_stats_sql()


def q_block_tree_access(spark, sf_dir):
    """Value oracle for the block-tree leg (J2/§2.9): the tree's pointer-resolved
    character at sampled positions must equal the original text's character —
    the reference's own self-check (src/dedup.c:535-551) made live as a query."""
    from corpus_dedup_spark.operators.block_tree import sampled_access

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return sampled_access(docs, n_positions=5, pos_stride=37, id_col="doc_id")


SQL_BLOCK_TREE_ACCESS = """
WITH sq AS (  -- model the engine's newline squash (Q1): \\n and \\r become spaces
  SELECT doc_id,
         replace(replace(text, chr(10), ' '), chr(13), ' ') AS text
  FROM documents
)
SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
       (g.i * 37) % length(text) AS pos,
       substr(text, ((g.i * 37) % length(text)) + 1, 1) AS ch
FROM sq, (SELECT unnest(generate_series(0, 4)) AS i) g
WHERE length(text) > 0
"""


def q_text_profile_ints(spark, sf_dir):
    """Value-checked integer slice of text_profile (token counts + marker score);
    the float ratios and lang vote stay pytest-covered."""
    from corpus_dedup_spark.functions.text import (_LANG_MARKERS, _marker_score,
                                                   text_profile)

    prof = text_profile(_docs(spark, sf_dir).select("doc_id", "text"))
    return prof.select(
        "doc_id", "n_words", "n_tokens_ws", "n_tokens_bpe",
        _marker_score(F.col("text"), _LANG_MARKERS["en"]).alias("en_stop_hits"),
    )


def q_text_profile_ratios(spark, sf_dir):
    """Value-checked float slice of text_profile: each ratio is scaled to parts-
    per-million and floored — both engines compute the same IEEE-754 double
    (integer inputs, one division, one multiply), so the floor is identical;
    emitting BIGINT sidesteps the float-repr hashing trap. quality×8 is an
    integral double by construction (four terms in {0, .5, 1}, /4), so its cast
    is exact on both sides. (Historical note: these slices predate the complete
    SQL_TEXT_PROFILE oracle and are kept as narrower independent checks.)"""
    from corpus_dedup_spark.functions.text import text_profile

    prof = text_profile(_docs(spark, sf_dir).select("doc_id", "text"))
    ppm = lambda c: F.floor(F.col(c) * 1_000_000).alias(c + "_ppm")  # noqa: E731
    return prof.select(
        "doc_id",
        ppm("alpha_ratio"), ppm("digit_ratio"), ppm("punct_ratio"),
        ppm("mean_word_len"), ppm("stopword_ratio"),
        (F.col("quality") * 8).cast("long").alias("quality_x8"),
    )


_WS_TOKENS_SQL = "len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))"
_PUNCT_CLASS_SQL = """[\\.,;:!\\?"''()\\[\\]{}]"""  # '' = escaped quote in SQL
_EN_MARKER_SQL = " + ".join(
    "(length(' ' || lower(text) || ' ') - "
    f"length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(m)}"
    for m in (" the ", " and ", " of ", " to ", " is ")
)
SQL_TEXT_PROFILE_INTS = f"""
SELECT doc_id,
       {_WS_TOKENS_SQL} AS n_words,
       {_WS_TOKENS_SQL} AS n_tokens_ws,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
           AS n_tokens_bpe,
       CAST({_EN_MARKER_SQL} AS BIGINT) AS en_stop_hits
FROM documents
"""


SQL_TEXT_PROFILE_RATIOS = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) AS n_punct,
         length(text) - length(replace(text, ' ', '')) AS n_space,
         {_WS_TOKENS_SQL} AS n_words,
         CAST({_EN_MARKER_SQL} AS BIGINT) AS stop_hits
  FROM documents
),
r AS (
  SELECT doc_id, n,
         n_alpha / greatest(n, 1) AS alpha_ratio,
         n_digit / greatest(n, 1) AS digit_ratio,
         n_punct / greatest(n, 1) AS punct_ratio,
         (n - n_space) / greatest(n_words, 1) AS mean_word_len,
         stop_hits / greatest(n_words, 1) AS stopword_ratio
  FROM f
)
SELECT doc_id,
       CAST(floor(alpha_ratio * 1000000) AS BIGINT) AS alpha_ratio_ppm,
       CAST(floor(digit_ratio * 1000000) AS BIGINT) AS digit_ratio_ppm,
       CAST(floor(punct_ratio * 1000000) AS BIGINT) AS punct_ratio_ppm,
       CAST(floor(mean_word_len * 1000000) AS BIGINT) AS mean_word_len_ppm,
       CAST(floor(stopword_ratio * 1000000) AS BIGINT) AS stopword_ratio_ppm,
       CAST((CASE WHEN n >= 200 AND n <= 100000 THEN 1.0
                  WHEN n >= 50 THEN 0.5 ELSE 0.0 END
           + CASE WHEN alpha_ratio >= 0.6 THEN 1.0
                  WHEN alpha_ratio >= 0.4 THEN 0.5 ELSE 0.0 END
           + CASE WHEN stopword_ratio >= 0.05 THEN 1.0
                  WHEN stopword_ratio > 0 THEN 0.5 ELSE 0.0 END
           + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 1.0
                  ELSE 0.0 END) * 2 AS BIGINT) AS quality_x8
FROM r
"""


def q_incremental_dedup(spark, sf_dir):
    """Incremental crawl dedup (batch form of the streaming contract): a NEW
    batch is deduped against an existing corpus state (anti-join on the full
    unit bytes — quirk Q6) and then first-wins deduped internally. Corpus =
    docs < 250; new batch = docs ≥ 250 plus planted copies of corpus docs
    (must vanish via the anti-join) and planted copies of new docs (must lose
    internal first-wins)."""
    from corpus_dedup_spark.operators.exact_dedup import (dedup_against_corpus,
                                                          dedup_units,
                                                          explode_units_arrow)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 250)
    rest = docs.filter(F.col("doc_id") >= 250)
    new = (
        rest
        .unionByName(corpus.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))
        .unionByName(rest.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"))
    )
    # corpus state = the keeper table of a previous run, pruned to the key
    corpus_units = dedup_units(
        explode_units_arrow(corpus, id_col="doc_id"), id_col="doc_id"
    ).select("norm_unit")
    _kept, deduped = dedup_against_corpus(new, corpus_units, id_col="doc_id")
    return deduped.select("doc_id", "dedup_text", "n_units")


SQL_INCREMENTAL_DEDUP = """
WITH corpus AS (SELECT text FROM documents WHERE doc_id < 250),
new AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents
  WHERE doc_id < 250 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM documents
  WHERE doc_id >= 250 AND doc_id % 25 = 0
),
fresh AS (
  SELECT doc_id, text FROM new
  WHERE text NOT IN (SELECT text FROM corpus)
)
SELECT doc_id, text AS dedup_text, CAST(1 AS BIGINT) AS n_units
FROM (SELECT doc_id, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM fresh) t
WHERE rn = 1
"""


def q_block_tree_level1(spark, sf_dir):
    """Value oracle for the leader election itself (J2, the scan vectorized in
    r4): at level 1 a doc of n ≥ 2 codepoints splits into exactly two children
    (lengths n//2 and n-n//2); the second child is a POINTER iff n is even and
    the two halves are equal as CONTENT — which DuckDB can decide with substr
    equality, no hashes involved. Any election bug (hash-trusting, wrong leader
    order, off-by-one in the split) flips n_pointers and turns this red."""
    from corpus_dedup_spark.operators.block_tree import build_block_tree

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tree = build_block_tree(docs, id_col="doc_id", text_col="text")
    return (
        tree.filter(F.col("level") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_l1_nodes"),
             F.count_if(~F.col("is_marked")).alias("n_l1_pointers"))
    )


SQL_BLOCK_TREE_LEVEL1 = """
SELECT doc_id,
       CAST(2 AS BIGINT) AS n_l1_nodes,
       CAST(CASE WHEN length(text) % 2 = 0
                  AND substr(text, 1, length(text) // 2)
                      = substr(text, length(text) // 2 + 1, length(text) // 2)
                 THEN 1 ELSE 0 END AS BIGINT) AS n_l1_pointers
FROM documents WHERE length(text) >= 2
"""


def q_url_canonical(spark, sf_dir):
    """URL canonicalization dedup (crawl-side, pre-text). Extension surface —
    the reference's unit is a file path (no URL stage); a web-scale corpus
    needs scheme/host case, www., default ports, tracking params, trailing
    slash and fragments collapsed BEFORE any text is read.

    The driver tables carry no URL column, so the query synthesizes one
    deterministically from doc_id (same formula in the oracle) with planted
    variant spellings: ids congruent mod 210 share a canonical URL, and the
    tracking-param form (id%3==0) merges with the plain-query form (id%3==1)
    exactly when canonicalization is correct. Operator shape at scale: pure
    string expressions + one hash-partitioned window min on the canonical key
    (equivalently groupBy+join; no Python anywhere)."""
    from corpus_dedup_spark.functions.urls import canonical_url_expr

    d = F.col("id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 7).cast("string"), F.lit(".Example.COM"),
        F.when(d % 5 == 0,
               F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80"))
               ).otherwise(F.lit("")),
        F.lit("/a/"), (d % 10).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0,
               F.concat(F.lit("?utm_source=feed&q="), (d % 2).cast("string")))
        # sgclid is NOT a tracking param: only the boundary-anchored regex
        # keeps it (the unanchored one truncated it to '?s')
        .when(d % 3 == 1, F.concat(F.lit("?sgclid=keep&q="),
                                   (d % 2).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    from corpus_dedup_spark.functions.layout import fan_out

    base = (
        fan_out(_docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("id")))
        .withColumn("url", url)
        .withColumn("canon_url", canonical_url_expr(F.col("url"))))
    # r6: keeper via ONE keyed window min, not agg + self-join — the join
    # shape evaluated the whole regex canonicalization chain TWICE (once per
    # join subtree; Catalyst does not CSE across them) and that chain IS the
    # query's cost. The window hash-partitions on canon_url once and reuses
    # the single computed canon column for both the key and the output; the
    # added per-partition sort is over (id) pairs, negligible next to a
    # second full regex pass at any scale. Rows are identical (min over the
    # whole partition frame == groupBy min joined back). fan_out above
    # parallelizes the regex itself past the 1-split input.
    w = Window.partitionBy("canon_url")
    return base.withColumn("keeper_id", F.min("id").over(w)).select(
        F.col("id").alias("doc_id"), "url", "canon_url", "keeper_id",
        (F.col("id") != F.col("keeper_id")).cast("long").alias("is_dup"))


SQL_URL_CANONICAL = r"""
WITH ids AS (
  SELECT CAST(doc_id AS BIGINT) AS id FROM documents
), raw AS (
  SELECT id,
    (CASE WHEN id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
    (CASE WHEN id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
    'Site' || CAST(id % 7 AS VARCHAR) || '.Example.COM' ||
    (CASE WHEN id % 5 = 0
          THEN (CASE WHEN id % 2 = 0 THEN ':443' ELSE ':80' END)
          ELSE '' END) ||
    '/a/' || CAST(id % 10 AS VARCHAR) ||
    (CASE WHEN id % 4 = 0 THEN '/' ELSE '' END) ||
    (CASE WHEN id % 3 = 0 THEN '?utm_source=feed&q=' || CAST(id % 2 AS VARCHAR)
          WHEN id % 3 = 1 THEN '?sgclid=keep&q=' || CAST(id % 2 AS VARCHAR)
          ELSE '' END) ||
    (CASE WHEN id % 6 = 0 THEN '#sec' ELSE '' END) AS url
  FROM ids
), nofrag AS (
  SELECT id, url, regexp_replace(url, '#.*$', '', 'g') AS u FROM raw
), parts AS (
  SELECT id, url,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      AS hostport,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest0
  FROM nofrag
), fixed AS (
  SELECT id, url, scheme,
    CASE WHEN scheme = 'http'
         THEN regexp_replace(regexp_replace(hostport, '^www\.', '', 'g'),
                             ':80$', '', 'g')
         WHEN scheme = 'https'
         THEN regexp_replace(regexp_replace(hostport, '^www\.', '', 'g'),
                             ':443$', '', 'g')
         ELSE regexp_replace(hostport, '^www\.', '', 'g') END AS host,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(
        rest0, '([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
      '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g'),
      '/\?', '?', 'g'), '/$', '', 'g') AS rest1
  FROM parts
), canon AS (
  SELECT id, url,
    scheme || '://' || host ||
    (CASE WHEN rest1 = '' THEN '/' ELSE rest1 END) AS canon_url
  FROM fixed
)
SELECT id AS doc_id, url, canon_url,
       min(id) OVER (PARTITION BY canon_url) AS keeper_id,
       CAST(id <> min(id) OVER (PARTITION BY canon_url) AS BIGINT) AS is_dup
FROM canon
"""


def q_boilerplate_bigrams(spark, sf_dir):
    """C4-style corpus-frequency boilerplate: per doc, how many bigram
    positions carry a bigram that occurs in >= K distinct documents
    (operators/boilerplate.py; extension surface — the reference has no
    corpus-frequency filter). Distinct-pair shuffle + >=K head filter +
    AQE-chosen join; no Python. K=29 here (the operator default is C4's 3):
    the driver corpus's small vocabulary centers bigram doc-frequency at ~27,
    so 29 is the median-splitting threshold that makes the oracle
    discriminate; C4's 3 would flag 99.9% of grams on this synthetic input."""
    from corpus_dedup_spark.operators.boilerplate import boilerplate_ngram_stats

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    return boilerplate_ngram_stats(docs, n=2, min_docs=29)


SQL_BOILERPLATE_BIGRAMS = """
WITH grams AS (
  SELECT CAST(t.doc_id AS BIGINT) AS id, u.g AS g
  FROM (SELECT doc_id,
          CASE WHEN len(l) >= 2
            THEN list_transform(generate_series(1, len(l) - 1),
                                i -> l[i] || ' ' || l[i+1])
            ELSE [] END AS gs
        FROM (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '')
                AS l FROM documents)) t,
       UNNEST(t.gs) AS u(g)
), boiler AS (
  SELECT g FROM (SELECT g, count(DISTINCT id) AS c FROM grams GROUP BY g)
  WHERE c >= 29
), per AS (
  SELECT id, count(*) AS n_grams,
         CAST(sum(CASE WHEN g IN (SELECT g FROM boiler) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boiler
  FROM grams GROUP BY id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.n_boiler, 0) AS n_boiler
FROM documents d LEFT JOIN per ON CAST(d.doc_id AS BIGINT) = per.id
"""


def q_repetition_bigrams(spark, sf_dir):
    """Gopher-style intra-document repetition (duplicate-bigram fraction, in
    ppm so the output is pure integers; operators/boilerplate.py). Extension
    surface; doc-local aggregation, both stages partial-combine."""
    from corpus_dedup_spark.operators.boilerplate import repetition_ngram_stats

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    return repetition_ngram_stats(docs, n=2)


SQL_REPETITION_BIGRAMS = """
WITH grams AS (
  SELECT CAST(t.doc_id AS BIGINT) AS id, u.g AS g
  FROM (SELECT doc_id,
          CASE WHEN len(l) >= 2
            THEN list_transform(generate_series(1, len(l) - 1),
                                i -> l[i] || ' ' || l[i+1])
            ELSE [] END AS gs
        FROM (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '')
                AS l FROM documents)) t,
       UNNEST(t.gs) AS u(g)
), per_gram AS (
  SELECT id, g, count(*) AS c FROM grams GROUP BY id, g
), per AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_grams,
         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_count
  FROM per_gram GROUP BY id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.n_distinct, 0) AS n_distinct,
       coalesce(per.top_count, 0) AS top_count,
       CASE WHEN coalesce(per.n_grams, 0) > 0
            THEN CAST(floor((per.n_grams - per.n_distinct) * 1000000.0
                            / per.n_grams) AS BIGINT)
            ELSE 0 END AS dup_frac_ppm
FROM documents d LEFT JOIN per ON CAST(d.doc_id AS BIGINT) = per.id
"""


def q_decontamination(spark, sf_dir):
    """Train/test decontamination (GPT-3-style n-gram overlap;
    operators/boilerplate.decontaminate_ngram_hits). The benchmark set is
    every 50th document (a deterministic stand-in for an eval suite); n=8
    because driver docs run 25-60 tokens. Benchmark grams broadcast; corpus
    side is one explode + left join + partial-combining count."""
    from corpus_dedup_spark.operators.boilerplate import decontaminate_ngram_hits

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate_ngram_hits(docs, bench, n=8)


SQL_DECONTAMINATION = """
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         list_filter(str_split(text, ' '), x -> x <> '') AS l
  FROM documents
), grams AS (
  SELECT id, list_distinct(CASE WHEN len(l) >= 8
    THEN list_transform(generate_series(1, len(l) - 7),
      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
           l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7])
    ELSE [] END) AS gs
  FROM toks
), corpus_g AS (
  SELECT id, u.g AS g FROM grams, UNNEST(grams.gs) AS u(g)
), bench_g AS (
  SELECT DISTINCT g FROM corpus_g WHERE id % 50 = 0
), per AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_hits
  FROM corpus_g WHERE g IN (SELECT g FROM bench_g) GROUP BY id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(per.n_hits, 0) AS n_hits,
       CAST(CASE WHEN coalesce(per.n_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS is_contaminated
FROM documents d LEFT JOIN per ON CAST(d.doc_id AS BIGINT) = per.id
"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction (ROOTS/BigScience-style; functions/text.scrub_pii_expr).
    Extension surface — the reference has no PII stage. The driver corpus is
    letters-only, so emails / phone-shaped numbers / IPv4s are planted
    deterministically from doc_id (same formula in the oracle); the scrubbed
    text itself is value-hashed, so a half-eaten or missed redaction fails
    the oracle, not just the counts. Pure JVM regexps, patterns restricted
    to the Java∩RE2 dialect."""
    from corpus_dedup_spark.functions.text import pii_counts, scrub_pii_expr

    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(
            F.lit(" contact user"), d.cast("string"), F.lit("@mail"),
            (d % 5).cast("string"), F.lit(".example.org"))).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(
            F.lit(" call 555-123-"),
            (d % 9000 + 1000).cast("string"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(
            F.lit(" from 10."), (d % 200).cast("string"), F.lit("."),
            (d % 250).cast("string"), F.lit("."),
            (d % 100).cast("string"))).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    t = docs.withColumn("t", aug)
    cnt = pii_counts(F.col("t"))
    return t.select(
        "doc_id",
        cnt["n_emails"].cast("long").alias("n_emails"),
        cnt["n_phones"].cast("long").alias("n_phones"),
        cnt["n_ips"].cast("long").alias("n_ips"),
        scrub_pii_expr(F.col("t")).alias("scrubbed"),
    )


SQL_PII_SCRUB = r"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
), aug AS (
  SELECT id, text ||
    (CASE WHEN id % 3 = 0
          THEN ' contact user' || CAST(id AS VARCHAR) || '@mail' ||
               CAST(id % 5 AS VARCHAR) || '.example.org' ELSE '' END) ||
    (CASE WHEN id % 4 = 0
          THEN ' call 555-123-' || CAST(id % 9000 + 1000 AS VARCHAR)
          ELSE '' END) ||
    (CASE WHEN id % 5 = 0
          THEN ' from 10.' || CAST(id % 200 AS VARCHAR) || '.' ||
               CAST(id % 250 AS VARCHAR) || '.' || CAST(id % 100 AS VARCHAR)
          ELSE '' END) AS t
  FROM base
)
SELECT id AS doc_id,
  CAST(len(regexp_extract_all(t,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t,
    '\b\d{3}-\d{3,4}-\d{3,4}\b')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(t,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(t,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{3}-\d{3,4}-\d{3,4}\b', '<PHONE>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
FROM aug
"""


def q_corpus_rollup(spark, sf_dir):
    """Corpus statistics at every grouping level in one pass — ROLLUP
    (source, lang) → per-(source,lang), per-source, and grand-total rows.
    The multi-level aggregation surface (Spark ``rollup`` ≡ SQL ROLLUP):
    one shuffle produces all levels via partial aggregation, which is how a
    100 TB corpus dashboard should be computed — never one job per level."""
    docs = _docs(spark, sf_dir)
    return (
        docs.rollup("source", "lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"),
             F.sum(F.size(F.filter(F.split(F.col("text"), " "),
                                   lambda x: x != ""))).alias("sum_tokens"))
    )


SQL_CORPUS_ROLLUP = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(len(list_filter(str_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS sum_tokens
FROM documents
GROUP BY ROLLUP (source, lang)
"""


def q_source_medians(spark, sf_dir):
    """Exact per-source length medians + IQR bounds — the ordered-statistics
    aggregate surface (Spark `percentile` ≡ SQL quantile_cont, both linear
    interpolation over the sorted values). Scaled by 4 and cast to BIGINT: quantile positions q*(n-1) for q in
    {.25,.5,.75} land on a quarter-grid, so 4x the interpolated value of
    integer inputs is always integer-exact across engines. Exact percentile sorts per group; at 100 TB use
    approx_percentile for dashboards and keep this for audited reports."""
    docs = _docs(spark, sf_dir)
    g = docs.groupBy("source")
    return g.agg(
        F.count("*").alias("n_docs"),
        (F.percentile("n_chars", F.lit(0.25)) * 4).cast("long").alias("q1_x4"),
        (F.percentile("n_chars", F.lit(0.5)) * 4).cast("long").alias("med_x4"),
        (F.percentile("n_chars", F.lit(0.75)) * 4).cast("long").alias("q3_x4"),
    )


SQL_SOURCE_MEDIANS = """
SELECT source, count(*) AS n_docs,
       CAST(4 * quantile_cont(n_chars, 0.25) AS BIGINT) AS q1_x4,
       CAST(4 * quantile_cont(n_chars, 0.5)  AS BIGINT) AS med_x4,
       CAST(4 * quantile_cont(n_chars, 0.75) AS BIGINT) AS q3_x4
FROM documents GROUP BY source
"""


def _docs_spliced(spark, sf_dir):
    """documents ∪ deterministic splice docs for the ExactSubstr leg.

    The driver docs share no 40-char substrings, so duplicated spans must be
    planted. Every doc with doc_id % 20 == 10 (disjoint from _docs_augmented's
    full copies) contributes one splice at doc_id + 2e6: 120 chars copied from
    itself (offset 20) + ' ' + 120 chars copied from its successor (offset 60).
    Expected maximal spans: [20,140) in the first source, [60,180) in the
    second, [0,120) and [121,241) in the splice — partial, NOT whole-doc, so a
    span-merge off-by-one cannot hide behind full-copy degeneracy."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    splices = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(
            (F.col("a.doc_id") % 20 == 10)
            & (F.length("a.text") >= 140)
            & (F.length("b.text") >= 180)
        )
        .select(
            (F.col("a.doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.expr("substring(a.text, 21, 120)"),
                F.lit(" "),
                F.expr("substring(b.text, 61, 120)"),
            ).alias("text"),
        )
    )
    return docs.unionByName(splices)


SQL_SPLICED = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT a.doc_id + 2000000 AS doc_id,
         substr(a.text, 21, 120) || ' ' || substr(b.text, 61, 120) AS text
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 20 = 10 AND length(a.text) >= 140 AND length(b.text) >= 180
"""

_ES_W = 40  # ExactSubstr window (chars); Lee et al. 2021 use 50 BPE tokens


def q_exact_substr_spans(spark, sf_dir):
    """ExactSubstr dedup (suffix-array-substring semantics, Lee et al. 2021):
    maximal spans of length ≥ 40 whose every 40-char window occurs ≥ 2 times
    corpus-wide. The oracle recomputes the full definition — windows, content
    counts, gaps-and-islands merge — so span boundaries are value-checked to
    the character."""
    from corpus_dedup_spark.operators.exact_substr import duplicate_substring_spans

    # fan out: the testdata documents table is 1-2 parquet splits, which
    # starves the O(n) kernel pass at high core counts — a production table's
    # splits already match the cluster, so this is input-layout repair
    docs = _docs_spliced(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    return duplicate_substring_spans(docs, window=_ES_W, id_col="doc_id")


SQL_EXACT_SUBSTR_CORE = f"""
wins0 AS (
  -- unnest(range(...)) instead of a lateral generate_series: correlated
  -- table-function args are not portable across DuckDB versions
  SELECT doc_id, text,
         unnest(range(0, length(text) - {_ES_W - 1})) AS pos
  FROM aug WHERE length(text) >= {_ES_W}
),
wins AS (
  SELECT doc_id, pos, substr(text, pos + 1, {_ES_W}) AS win FROM wins0
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY win) AS c FROM wins
  ) WHERE c > 1
),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                      > {_ES_W}
              THEN 1 ELSE 0 END AS b
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
),
spans AS (
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + {_ES_W} AS BIGINT) AS span_end,
         CAST(max(pos) + {_ES_W} - min(pos) AS BIGINT) AS span_len
  FROM isl GROUP BY doc_id, island
)
"""

SQL_EXACT_SUBSTR_SPANS = f"""
WITH aug AS ({SQL_SPLICED}),
{SQL_EXACT_SUBSTR_CORE}
SELECT doc_id, span_start, span_end, span_len FROM spans
"""


def q_exact_substr_stats(spark, sf_dir):
    """Per-document duplicated-character accounting over the ExactSubstr spans
    (0 rows-with-spans collapse to zeros, so every document is value-checked,
    span-free ones included)."""
    from corpus_dedup_spark.operators.exact_substr import (
        duplicate_span_stats, duplicate_substring_spans)

    docs = _docs_spliced(spark, sf_dir)
    spans = duplicate_substring_spans(docs, window=_ES_W, id_col="doc_id")
    return duplicate_span_stats(spans, docs, id_col="doc_id")


def q_exact_substr_clean(spark, sf_dir):
    """ExactSubstr dedup OUTPUT (Lee et al. 2021 "drop duplicated text"
    variant): every character inside a maximal duplicated span is cut from
    every occurrence; the cleaned text ITSELF is value-hashed, so a splice
    off-by-one anywhere in the span arithmetic fails the oracle."""
    from corpus_dedup_spark.operators.exact_substr import (
        cut_duplicate_spans, duplicate_substring_spans)

    docs = _docs_spliced(spark, sf_dir)
    spans = duplicate_substring_spans(docs, window=_ES_W, id_col="doc_id")
    return cut_duplicate_spans(docs, spans, id_col="doc_id")


SQL_EXACT_SUBSTR_CLEAN = f"""
WITH aug AS ({SQL_SPLICED}),
{SQL_EXACT_SUBSTR_CORE},
segs AS (
  -- keep-segments between spans: [prev span end, this span start) ...
  SELECT doc_id,
         coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start),
                  0) AS seg_start,
         span_start AS seg_end
  FROM spans
  UNION ALL
  -- ... plus the tail after the last span
  SELECT s.doc_id, max(s.span_end) AS seg_start,
         max(length(d.text)) AS seg_end
  FROM spans s JOIN aug d USING (doc_id) GROUP BY s.doc_id
),
cleaned AS (
  SELECT g.doc_id,
         string_agg(substr(d.text, CAST(g.seg_start + 1 AS INT),
                           CAST(g.seg_end - g.seg_start AS INT)),
                    '' ORDER BY g.seg_start) AS clean_text
  FROM segs g JOIN aug d USING (doc_id)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(c.clean_text, d.text) AS clean_text,
       CAST(length(d.text) - length(coalesce(c.clean_text, d.text)) AS BIGINT)
         AS n_removed
FROM aug d LEFT JOIN cleaned c USING (doc_id)
"""


SQL_EXACT_SUBSTR_STATS = f"""
WITH aug AS ({SQL_SPLICED}),
{SQL_EXACT_SUBSTR_CORE}
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(s.dup_chars, 0) AS BIGINT) AS dup_chars
FROM aug d
LEFT JOIN (
  SELECT doc_id, count(*) AS n_spans, sum(span_len) AS dup_chars
  FROM spans GROUP BY doc_id
) s USING (doc_id)
"""


def _duck_cos(a: str, b: str) -> str:
    """DuckDB cosine between two list columns — same fold order as Spark's
    F.aggregate left fold in _cosine_expr, so the doubles match bit for bit
    (the pattern SQL_EMBEDDING_TOP1/SQL_EMBEDDING_ANN already rely on)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform({b}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


_IVF_K = 3
_IVF_CENTROIDS = 8
_IVF_NPROBE = 2


def q_embedding_ivf(spark, sf_dir):
    """IVF-Flat ANN (third similarity rung after brute force and hyperplane
    LSH): seeded-sample centroids, broadcast argmax assignment, nprobe-cell
    search. The oracle replays the full index — the Knuth-hash centroid
    sample, the argmax cell assignment, the probe ranking, and the in-cell
    exact cosine top-k — so the whole index construction is value-checked,
    not just the final neighbor list."""
    from corpus_dedup_spark.operators.ivf_ann import ivf_topk

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < 50)
    return ivf_topk(emb, probes, k=_IVF_K, n_centroids=_IVF_CENTROIDS,
                    nprobe=_IVF_NPROBE).select(
        "probe_id", "neighbor_id",
        F.round(F.col("cosine"), 4).alias("cos_r"), "rank")


SQL_EMBEDDING_IVF = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM embeddings
  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
  LIMIT {_IVF_CENTROIDS}
),
cscore AS (
  SELECT v.vec_id, c.cid, {_duck_cos('v.embedding', 'c.cvec')} AS cs
  FROM embeddings v CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM cscore) t WHERE rn = 1
),
pcells AS (
  SELECT vec_id AS probe_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM cscore WHERE vec_id < 50) t WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT p.probe_id, a.vec_id AS neighbor_id
  FROM pcells p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.probe_id
),
scored AS (
  SELECT c.probe_id, c.neighbor_id,
         {_duck_cos('a.embedding', 'b.embedding')} AS cos
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.probe_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
)
SELECT probe_id, neighbor_id, round(cos, 4) AS cos_r, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored) t
WHERE rn <= {_IVF_K}
"""


def _docs_multiline(spark, sf_dir):
    """documents reshaped into a deterministic multi-line corpus for the C4 /
    Gopher rule filters (the driver text is single-line, period-free — the
    rules would be vacuous on it). Break into '.'-terminated lines at every
    ' table' token, then plant per-rule triggers on disjoint doc_id residues:
    curly brace (%17=3), lorem ipsum (%19=4), a javascript line (%13=5), a
    short unterminated line (%11=6), bullet-heavy lines (%23=7), symbol spam
    (%29=8), ellipsis-heavy lines (%31=9), extra stop words (%5=0) — so every
    flag takes BOTH values across the corpus and a sign error in any rule
    flips hashed rows."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = F.replace(F.col("text"), F.lit(" table"), F.lit(".\ntable"))

    def plant(mod, r, lit_expr):
        return F.when(F.col("doc_id") % mod == r, lit_expr).otherwise(F.lit(""))

    text = F.concat(
        base,
        plant(17, 3, F.lit(" {")),
        plant(19, 4, F.lit("\nlorem ipsum")),
        plant(13, 5, F.lit("\nPowered by javascript engine.")),
        plant(11, 6, F.lit("\nclick here")),
        plant(23, 7, F.expr(r"repeat('\n• item', 20)")),
        plant(29, 8, F.expr("repeat(' #', 12)")),
        plant(31, 9, F.expr(r"repeat('\n wait...', 15)")),
        plant(5, 0, F.lit(" and that have with")),
    )
    return d.select("doc_id", text.alias("text"))


SQL_MULTILINE = """
  SELECT doc_id,
    replace(text, ' table', '.' || chr(10) || 'table')
    || CASE WHEN doc_id % 17 = 3 THEN ' {' ELSE '' END
    || CASE WHEN doc_id % 19 = 4 THEN chr(10) || 'lorem ipsum' ELSE '' END
    || CASE WHEN doc_id % 13 = 5
         THEN chr(10) || 'Powered by javascript engine.' ELSE '' END
    || CASE WHEN doc_id % 11 = 6 THEN chr(10) || 'click here' ELSE '' END
    || CASE WHEN doc_id % 23 = 7
         THEN repeat(chr(10) || '• item', 20) ELSE '' END
    || CASE WHEN doc_id % 29 = 8 THEN repeat(' #', 12) ELSE '' END
    || CASE WHEN doc_id % 31 = 9
         THEN repeat(chr(10) || ' wait...', 15) ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' and that have with' ELSE '' END
    AS text
  FROM documents
"""


def q_c4_line_filter(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020 §2.2): per-line terminal-punct /
    ≥3-words / no-javascript keep predicate + page-level lorem-ipsum, curly
    brace, ≥5-surviving-lines verdict. The cleaned text itself is
    value-hashed, so a predicate flipped on any single line fails."""
    from corpus_dedup_spark.operators.quality_filters import c4_line_filter

    return c4_line_filter(_docs_multiline(spark, sf_dir))


SQL_C4_LINE_FILTER = rf"""
WITH ml AS ({SQL_MULTILINE}),
k AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)), l ->
      len(list_filter(string_split_regex(trim(l), '\s+'), x -> x <> '')) >= 3
      AND right(rtrim(l), 1) IN ('.', '!', '?', '"')
      AND NOT contains(lower(l), 'javascript')) AS kept
  FROM ml
)
SELECT doc_id,
  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  CAST(CASE WHEN NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{{')
             AND len(kept) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS page_kept,
  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM k
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 A1.1) as per-doc counters +
    integer flags — every threshold evaluated in integer arithmetic on both
    sides, so the oracle is float-drift-free by construction."""
    from corpus_dedup_spark.operators.quality_filters import \
        gopher_quality_flags

    return gopher_quality_flags(_docs_multiline(spark, sf_dir))


SQL_GOPHER_QUALITY = rf"""
WITH ml AS ({SQL_MULTILINE}),
feat AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS words,
    string_split(text, chr(10)) AS lines,
    CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3
         AS BIGINT) AS n_sym
  FROM ml
),
cnt AS (
  SELECT doc_id, n_sym,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0)
         AS BIGINT) AS n_word_chars,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines,
         l -> left(ltrim(l), 1) IN ('•', '-', '*'))) AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines,
         l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
         AS BIGINT) AS n_ellipsis,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
         AS BIGINT) AS n_alpha,
    CAST((CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'the')  THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'be')   THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'to')   THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'of')   THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'and')  THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'that') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'have') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'with') THEN 1 ELSE 0 END)
       AS BIGINT) AS n_stop
  FROM feat
)
SELECT doc_id, n_words, n_word_chars, n_sym, n_lines, n_bullet, n_ellipsis,
  n_alpha, n_stop,
  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS wc_ok,
  CAST(CASE WHEN 3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT) AS mwl_ok,
  CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS BIGINT) AS sym_ok,
  CAST(CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS bullet_ok,
  CAST(CASE WHEN 10 * n_ellipsis <= 3 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS ellipsis_ok,
  CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS BIGINT) AS alpha_ok,
  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS stop_ok,
  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
         AND 3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words
         AND 10 * n_sym <= n_words
         AND 10 * n_bullet <= 9 * n_lines
         AND 10 * n_ellipsis <= 3 * n_lines
         AND 5 * n_alpha >= 4 * n_words
         AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
FROM cnt
"""


def q_bloom_incremental(spark, sf_dir):
    """Bloom-prefiltered incremental crawl dedup: a broadcast Bloom filter of
    the corpus keys routes definitely-new units AROUND the anti-join (no
    false negatives), and only the maybe set — true dups + fpp of the rest —
    pays for the exact join, which also resolves Bloom false positives. The
    final rows are bit-identical to the plain anti-join, which is exactly
    what the oracle computes. Corpus = docs < 300; new batch = docs ≥ 300
    plus planted corpus copies (%9, must vanish via the filter+join) and
    planted new copies (%23, must lose internal first-wins)."""
    from corpus_dedup_spark.operators.bloom_dedup import \
        bloom_incremental_dedup
    from corpus_dedup_spark.operators.exact_dedup import (dedup_units,
                                                          explode_units_arrow)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 300)
    rest = docs.filter(F.col("doc_id") >= 300)
    new = (
        rest
        .unionByName(corpus.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"), "text"))
        .unionByName(rest.filter(F.col("doc_id") % 23 == 0).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"))
    )
    corpus_units = dedup_units(
        explode_units_arrow(corpus, id_col="doc_id"), id_col="doc_id"
    ).select("norm_unit")
    _kept, deduped, probed = bloom_incremental_dedup(
        new, corpus_units, n_items=4096, fpp=0.01, id_col="doc_id")
    # the caller collects an unexecuted frame and never sees the probed
    # stream: release it now, so both branches probe instead of leaving a
    # cache behind
    probed.unpersist()
    return deduped.select("doc_id", "dedup_text", "n_units")


SQL_BLOOM_INCREMENTAL = """
WITH corpus AS (SELECT text FROM documents WHERE doc_id < 300),
new AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 300
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, text FROM documents
  WHERE doc_id < 300 AND doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text FROM documents
  WHERE doc_id >= 300 AND doc_id % 23 = 0
),
fresh AS (
  SELECT doc_id, text FROM new
  WHERE text NOT IN (SELECT text FROM corpus)
)
SELECT doc_id, text AS dedup_text, CAST(1 AS BIGINT) AS n_units
FROM (SELECT doc_id, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM fresh) t
WHERE rn = 1
"""


_SEMDEDUP_CENTROIDS = 8
_SEMDEDUP_TAU = 0.8


def _semdedup_corpus(spark, sf_dir):
    """embeddings (as doubles) + deterministic planted semantic dups: a ×2.0
    copy of every vec_id % 7 == 0 vector (same direction — cosine exactly 1
    up to float rounding, must be DROPPED) and a ×−1 copy of every
    vec_id % 11 == 0 vector (opposite direction — must be KEPT). Scaling by
    ±2/−1 is exact in IEEE doubles, so the copies land in the same/opposite
    cells bit-for-bit on both engines. Natural pairs max out at cosine 0.51
    on this table, far from the 0.8 threshold."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    planted = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"))
    anti = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"))
    return emb.unionByName(planted).unionByName(anti)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings into cells, drop any
    vector whose cosine to a smaller-id cell-mate exceeds τ. The oracle
    replays the whole decision — centroid sample, argmax cells, intra-cell
    pair scores, keep flags — so a wrong cell or a flipped comparison on any
    single vector fails the hash."""
    from corpus_dedup_spark.operators.semantic_dedup import semantic_dedup

    return semantic_dedup(_semdedup_corpus(spark, sf_dir),
                          threshold=_SEMDEDUP_TAU,
                          n_centroids=_SEMDEDUP_CENTROIDS)


SQL_SEMANTIC_DEDUP = f"""
WITH corpus AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0)
  FROM embeddings WHERE vec_id % 7 = 0
  UNION ALL
  SELECT vec_id + 20000,
         list_transform(embedding, x -> -CAST(x AS DOUBLE))
  FROM embeddings WHERE vec_id % 11 = 0
),
cent AS (
  SELECT vec_id AS cid, emb AS cvec FROM corpus
  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
  LIMIT {_SEMDEDUP_CENTROIDS}
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT v.vec_id, c.cid, row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY {_duck_cos('v.emb', 'c.cvec')} DESC, c.cid ASC) AS rn
    FROM corpus v CROSS JOIN cent c) t
  WHERE rn = 1
),
m AS (
  SELECT c.vec_id, a.cell, c.emb
  FROM corpus c JOIN assign a USING (vec_id)
),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE {_duck_cos('x.emb', 'y.emb')} > {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM assign a LEFT JOIN dropped d USING (vec_id)
"""


def q_hash_split(spark, sf_dir):
    """Deterministic md5 train/val/test split (~80/10/10): reproducible
    across runs, engines, and incremental appends — never rand(). The
    bucket compares the first two hex chars of the digest against string
    thresholds, so no engine-specific hex→int conversion exists to drift."""
    from corpus_dedup_spark.operators.corpus_splits import hash_split

    return hash_split(_docs(spark, sf_dir).select("doc_id"),
                      key_col="doc_id", salt="r5")


SQL_HASH_SPLIT = """
SELECT doc_id,
  CASE WHEN substring(md5('r5' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
         THEN 'train'
       WHEN substring(md5('r5' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
         THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


def q_domain_topk(spark, sf_dir):
    """Frequency cap: keep the 10 shortest documents per source domain.
    Skew-proof two-phase top-K (partial top-K per input task spread over
    (partition, key) reducers, then a ≤K×tasks merge) — a hot domain never
    lands on one reducer, unlike row_number() OVER (PARTITION BY source)."""
    from corpus_dedup_spark.operators.corpus_splits import top_k_per_key

    return top_k_per_key(
        _docs(spark, sf_dir).select("source", "n_chars", "doc_id"),
        key_col="source", order_col="n_chars", k=10, tiebreak_col="doc_id")


SQL_DOMAIN_TOPK = """
SELECT source, n_chars, doc_id, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT source, n_chars, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rank
  FROM documents)
WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# r5 — sequence packing, as-of join, corpus-LM quality, top-k terms
# ---------------------------------------------------------------------------

PACK_SEQ_LEN = 256  # training-window length for the packing queries


def q_sequence_pack(spark, sf_dir):
    """Sequence packing (operators/packing.py): every document's global token
    interval under ORDER BY doc_id concatenation and the fixed-length
    training sequences it overlaps. The engine computes the global offset as
    a DISTRIBUTED prefix sum (range partition → per-partition cumsum →
    broadcast per-partition bases) — never the single-task global window the
    oracle is allowed to use at sf0.01. Integer-exact by construction."""
    from corpus_dedup_spark.operators.packing import pack_sequences

    return pack_sequences(_fanned_docs(spark, sf_dir), seq_len=PACK_SEQ_LEN)


SQL_SEQUENCE_PACK = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT)
           AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM c
)
SELECT doc_id, n_tokens, tok_start,
       CASE WHEN n_tokens > 0 THEN tok_start // {PACK_SEQ_LEN} END AS seq_first,
       CASE WHEN n_tokens > 0
            THEN (tok_start + n_tokens - 1) // {PACK_SEQ_LEN} END AS seq_last
FROM o
"""


def q_packed_seq_stats(spark, sf_dir):
    """Per-training-sequence occupancy from the packing map: how many docs
    touch each window and how many of its token slots are filled (the last
    sequence is a partial fill; every other must sum to seq_len — a
    structural invariant the value hash enforces across every row)."""
    from corpus_dedup_spark.operators.packing import (pack_sequences,
                                                      sequence_stats)

    packed = pack_sequences(_fanned_docs(spark, sf_dir), seq_len=PACK_SEQ_LEN)
    return sequence_stats(packed, seq_len=PACK_SEQ_LEN)


SQL_PACKED_SEQ_STATS = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT)
           AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM c
), e AS (
  SELECT doc_id, tok_start, n_tokens,
         unnest(generate_series(tok_start // {PACK_SEQ_LEN},
                                (tok_start + n_tokens - 1) // {PACK_SEQ_LEN}))
           AS seq_id
  FROM o WHERE n_tokens > 0
)
SELECT seq_id, count(*) AS n_docs,
       CAST(sum(least(tok_start + n_tokens, (seq_id + 1) * {PACK_SEQ_LEN})
                - greatest(tok_start, seq_id * {PACK_SEQ_LEN})) AS BIGINT)
         AS n_tokens
FROM e GROUP BY seq_id
"""


def q_asof_purchase(spark, sf_dir):
    """As-of join (operators/asof.py): for every event, the most recent
    STRICTLY earlier 'purchase' by the same user. The engine runs the
    union-tag sweep (one keyed window, no per-key cross product); the oracle
    is the textbook inequality-join + row_number formulation, which is
    plainly portable SQL and affordable at sf0.01 — two very different plans
    that must agree row-for-row, including the strict-< tie rule."""
    from corpus_dedup_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases.select("user_id", "ts", "event_id", "value"),
        key_col="user_id", ts_col="ts",
        left_id_col="event_id", right_id_col="event_id",
        right_payload_cols=("value",),
    )
    return out.select("event_id", "user_id", "ts",
                      "asof_event_id", "asof_ts", "asof_value")


SQL_ASOF_PURCHASE = """
WITH p AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
), pairs AS (
  SELECT e.event_id, p.event_id AS p_id, p.ts AS p_ts, p.value AS p_value,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM events e JOIN p
    ON e.user_id = p.user_id AND p.ts < e.ts
)
SELECT e.event_id, e.user_id, e.ts,
       pr.p_id AS asof_event_id, pr.p_ts AS asof_ts, pr.p_value AS asof_value
FROM events e LEFT JOIN (SELECT * FROM pairs WHERE rn = 1) pr
  USING (event_id)
"""


def q_unigram_lm(spark, sf_dir):
    """CCNet-style corpus-LM quality score, engine-exact (operators/
    lm_quality.py): per-doc sum of floor(log2(corpus unigram count)) plus
    token count — the integer skeleton of mean log-probability (see module
    docstring for why floats cannot be oracled). Vocabulary built with one
    map-side-combining agg, joined back broadcast-sized."""
    from corpus_dedup_spark.operators.lm_quality import unigram_lm_scores

    return unigram_lm_scores(_fanned_docs(spark, sf_dir))


SQL_UNIGRAM_LM = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
), vocab AS (
  SELECT token, CAST(floor(log2(count(*))) AS BIGINT) AS freq_class
  FROM toks GROUP BY token
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(COALESCE(freq_class, 0)) AS BIGINT) AS sum_freq_class
FROM toks LEFT JOIN vocab USING (token)
GROUP BY doc_id
"""


def q_topk_terms(spark, sf_dir):
    """Top-3 distinguishing terms per document ranked by the integer pair
    (tf DESC, df ASC, term ASC) — the exactly-reproducible skeleton of
    TF-IDF (IDF is monotone-decreasing in df, so for fixed tf the order is
    the TF-IDF order). operators/lm_quality.py:top_terms_per_doc."""
    from corpus_dedup_spark.operators.lm_quality import top_terms_per_doc

    return top_terms_per_doc(_fanned_docs(spark, sf_dir), k=3)


SQL_TOPK_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), ranked AS (
  SELECT doc_id, token AS term, tf.tf AS tf, df.df AS df,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf.tf DESC, df.df ASC, token ASC) AS rank
  FROM tf JOIN df USING (token)
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_dup_stats": q_doc_dup_stats,
    "token_counts": q_token_counts,
    "unit_dedup_counts": q_unit_dedup_counts,
    "unit_first_wins": q_unit_first_wins,
    "bigram_counts": q_bigram_counts,
    "token_jaccard_pairs": q_token_jaccard_pairs,
    "cc_bucket_clusters": q_cc_bucket_clusters,
    "substring_search": q_substring_search,
    "quality_scores": q_quality_scores,
    "token_count_bpe": q_token_count_bpe,
    "event_hourly": q_event_hourly,
    "embedding_top1": q_embedding_top1,
    "norm_doc_dedup": q_norm_doc_dedup,
    "event_sessions": q_event_sessions,
    "tpch_pricing": q_tpch_pricing,
    "mask_filter": q_mask_filter,
    "except_op": q_except_op,
    "lsh_exact_floor": q_lsh_exact_floor,
    "near_dup_clusters": q_near_dup_clusters,  # oracle-backed as of r2
    "sentence_dedup_docs": q_sentence_dedup_docs,
    "shared_blocks": q_shared_blocks,
    "block_tree_access": q_block_tree_access,  # oracle-backed as of r3
    "text_profile_ints": q_text_profile_ints,  # oracle-backed as of r3
    # oracle-backed as of r4
    "sentence_dedup_pages": q_sentence_dedup_pages,
    "media_features": q_media_features,
    "embedding_ann_floor": q_embedding_ann_floor,
    "minhash_sig_floor": q_minhash_sig_floor,
    "simhash_floor": q_simhash_floor,
    "text_profile_ratios": q_text_profile_ratios,
    "block_tree_level1": q_block_tree_level1,
    "lsh_candidates": q_lsh_candidates,  # oracle-backed as of r4 (degenerate-input
    #                                      equality; see the query docstring)
    "incremental_dedup": q_incremental_dedup,
    "simhash": q_simhash,  # full FNV-fold oracle as of r4 (see q_simhash docstring)
    "minhash_signatures": q_minhash_signatures,  # closed-form OPH digest oracle (r4)
    "text_profile": q_text_profile,  # complete profile oracle incl. lang-ID + rolling fingerprint (r4)
    "embedding_ann": q_embedding_ann,  # deterministic seeded-LSH replay oracle (r4)
    "block_tree_stats": q_block_tree_stats,  # recursive-CTE tree replay oracle (r4)
    "url_canonical": q_url_canonical,  # crawl-side URL canonicalization (r4)
    "boilerplate_bigrams": q_boilerplate_bigrams,  # C4-style corpus-frequency filter (r4)
    "repetition_bigrams": q_repetition_bigrams,  # Gopher-style doc-internal repetition (r4)
    "decontamination": q_decontamination,  # GPT-3-style eval-overlap flagging (r4)
    "pii_scrub": q_pii_scrub,  # ROOTS-style PII redaction (r4)
    "corpus_rollup": q_corpus_rollup,  # multi-level ROLLUP stats (r4)
    "source_medians": q_source_medians,  # exact ordered-statistics agg (r4)
    # r5: ExactSubstr (suffix-array-substring) duplicate spans, Lee et al. 2021
    "exact_substr_spans": q_exact_substr_spans,
    "exact_substr_stats": q_exact_substr_stats,
    "exact_substr_clean": q_exact_substr_clean,
    "embedding_ivf": q_embedding_ivf,  # r5: IVF-Flat ANN (third rung)
    "c4_line_filter": q_c4_line_filter,  # r5: C4 line+page cleaning rules
    "gopher_quality": q_gopher_quality,  # r5: Gopher doc-quality flags
    "hash_split": q_hash_split,  # r5: deterministic train/val/test split
    "domain_topk": q_domain_topk,  # r5: skew-proof per-domain frequency cap
    "semantic_dedup": q_semantic_dedup,  # r5: SemDeDup over embedding cells
    "bloom_incremental": q_bloom_incremental,  # r5: Bloom-bypass incr dedup
    "sequence_pack": q_sequence_pack,  # r5: LLM training-window packing
    "packed_seq_stats": q_packed_seq_stats,  # r5: per-sequence occupancy
    "asof_purchase": q_asof_purchase,  # r5: as-of join (union-tag sweep)
    "unigram_lm": q_unigram_lm,  # r5: CCNet-style corpus-LM quality score
    "topk_terms": q_topk_terms,  # r5: integer-exact TF-IDF skeleton
}

ORACLES: dict[str, str] = {
    "doc_exact_dedup": SQL_DOC_EXACT_DEDUP,
    "doc_dup_stats": SQL_DOC_DUP_STATS,
    "token_counts": SQL_TOKEN_COUNTS,
    "unit_dedup_counts": SQL_UNIT_DEDUP_COUNTS,
    "unit_first_wins": SQL_UNIT_FIRST_WINS,
    "bigram_counts": SQL_BIGRAM_COUNTS,
    "token_jaccard_pairs": SQL_TOKEN_JACCARD_PAIRS,
    "cc_bucket_clusters": SQL_CC_BUCKET_CLUSTERS,
    "substring_search": SQL_SUBSTRING_SEARCH,
    "quality_scores": SQL_QUALITY_SCORES,
    "token_count_bpe": SQL_TOKEN_COUNT_BPE,
    "event_hourly": SQL_EVENT_HOURLY,
    "embedding_top1": SQL_EMBEDDING_TOP1,
    "norm_doc_dedup": SQL_NORM_DOC_DEDUP,
    "event_sessions": SQL_EVENT_SESSIONS,
    "tpch_pricing": SQL_TPCH_PRICING,
    "mask_filter": SQL_MASK_FILTER,
    "except_op": SQL_EXCEPT_OP,
    "lsh_exact_floor": SQL_LSH_EXACT_FLOOR,
    "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
    "sentence_dedup_docs": SQL_SENTENCE_DEDUP_DOCS,
    "shared_blocks": SQL_SHARED_BLOCKS,
    "block_tree_access": SQL_BLOCK_TREE_ACCESS,
    "text_profile_ints": SQL_TEXT_PROFILE_INTS,
    "sentence_dedup_pages": SQL_SENTENCE_DEDUP_PAGES,
    "media_features": SQL_MEDIA_FEATURES,
    "embedding_ann_floor": SQL_EMBEDDING_ANN_FLOOR,
    "minhash_sig_floor": SQL_MINHASH_SIG_FLOOR,
    "simhash_floor": SQL_SIMHASH_FLOOR,
    "text_profile_ratios": SQL_TEXT_PROFILE_RATIOS,
    "block_tree_level1": SQL_BLOCK_TREE_LEVEL1,
    "lsh_candidates": SQL_LSH_EXACT_FLOOR,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "simhash": SQL_SIMHASH,
    "minhash_signatures": SQL_MINHASH_SIG,
    "text_profile": SQL_TEXT_PROFILE,
    "embedding_ann": SQL_EMBEDDING_ANN,
    "block_tree_stats": SQL_BLOCK_TREE_STATS,
    "url_canonical": SQL_URL_CANONICAL,
    "boilerplate_bigrams": SQL_BOILERPLATE_BIGRAMS,
    "repetition_bigrams": SQL_REPETITION_BIGRAMS,
    "decontamination": SQL_DECONTAMINATION,
    "pii_scrub": SQL_PII_SCRUB,
    "corpus_rollup": SQL_CORPUS_ROLLUP,
    "source_medians": SQL_SOURCE_MEDIANS,
    "exact_substr_spans": SQL_EXACT_SUBSTR_SPANS,
    "exact_substr_stats": SQL_EXACT_SUBSTR_STATS,
    "exact_substr_clean": SQL_EXACT_SUBSTR_CLEAN,
    "embedding_ivf": SQL_EMBEDDING_IVF,
    "c4_line_filter": SQL_C4_LINE_FILTER,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "hash_split": SQL_HASH_SPLIT,
    "domain_topk": SQL_DOMAIN_TOPK,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "bloom_incremental": SQL_BLOOM_INCREMENTAL,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "packed_seq_stats": SQL_PACKED_SEQ_STATS,
    "asof_purchase": SQL_ASOF_PURCHASE,
    "unigram_lm": SQL_UNIGRAM_LM,
    "topk_terms": SQL_TOPK_TERMS,
}
