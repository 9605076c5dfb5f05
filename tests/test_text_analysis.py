"""Text analysis: language-ID, quality, token counts, fingerprints."""

import pyspark.sql.functions as F
import pytest

from corpus_dedup_spark.functions.text import (lang_id_expr,
                                               quality_score_expr,
                                               rolling_fingerprint_udf,
                                               text_profile, token_count_bpe,
                                               token_count_ws)


@pytest.fixture(scope="module")
def samples(spark):
    return spark.createDataFrame(
        [("en", "The quick brown fox jumps over the lazy dog and the cat is here. " * 6),
         ("es", "El perro corre por la calle y los gatos que viven de la casa. " * 6),
         ("de", "Der Hund und die Katze sind das beste Team und das ist gut. " * 6),
         ("zh", "这是一个测试文档。它包含中文文本。我们用它来测试语言识别。" * 6),
         ("ja", "これはテスト文書です。日本語のテキストが含まれています。" * 6),
         ("ko", "이것은 테스트 문서입니다. 한국어 텍스트가 포함되어 있습니다. " * 6),
         ("ar", "هذا نص تجريبي باللغة العربية للاختبار والتقييم " * 6),
         ("uk", "Це тестовий документ і він містить текст що написаний українською. " * 6),
         ("ru", "Это тестовый документ и он содержит текст что написан на русском языке. " * 6),
         ("fr", "Le chien est dans la rue et les chats vivent dans une des maisons. " * 6),
         ("junk", "@@@@ #### $$$$ %%%% ^^^^ &&&& 1234567890"),
         ("empty", "")],
        ["label", "text"])


def test_lang_id(spark, samples):
    got = {r["label"]: r["lang"] for r in
           samples.select("label", lang_id_expr(F.col("text")).alias("lang")).collect()}
    assert got["en"] == "en"
    assert got["es"] == "es"
    assert got["de"] == "de"
    assert got["zh"] == "zh"
    assert got["ja"] == "ja"
    assert got["ko"] == "ko"
    assert got["ar"] == "ar"
    assert got["uk"] == "uk"
    assert got["ru"] == "ru"
    assert got["fr"] == "fr"
    assert got["empty"] == "und"


def test_quality_score(spark, samples):
    got = {r["label"]: r["quality"] for r in
           samples.select("label", quality_score_expr(F.col("text"))).collect()}
    assert got["en"] > got["junk"]
    assert got["empty"] == 0.0
    assert 0.0 <= min(got.values()) and max(got.values()) <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([("a", "Hello world, it's 2024!")], ["id", "text"])
    row = df.select(token_count_ws(F.col("text")),
                    token_count_bpe(F.col("text"))).collect()[0]
    assert row["n_tokens_ws"] == 4
    # Hello | world | , | it | ' | s | 202 | 4 | !   (digit groups capped at 3,
    # mimicking BPE-style number chunking)
    assert row["n_tokens_bpe"] == 9


def test_fingerprints_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [("a", "hello   world\nfoo"), ("b", "hello world foo"), ("c", "different")],
        ["id", "text"])
    rows = df.select("id", rolling_fingerprint_udf(F.col("text")).alias("roll")
                     ).collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id["a"]["roll"] == by_id["b"]["roll"]
    assert by_id["a"]["roll"] != by_id["c"]["roll"]


def test_text_profile_runs(spark, samples):
    out = text_profile(samples)
    assert {"lang_pred", "quality", "n_tokens_ws", "n_tokens_bpe", "fingerprint",
            "alpha_ratio", "stopword_ratio"} <= set(out.columns)
    assert out.count() == samples.count()


def test_pii_scrub_cases(spark):
    import pyspark.sql.functions as F

    from corpus_dedup_spark.functions.text import pii_counts, scrub_pii_expr

    rows = [
        ("a", "mail me at jo.doe+x@sub.example.org today"),
        ("b", "call 555-123-4567 or 011-9999-333 now"),
        ("c", "server at 192.168.0.1 and 10.0.0.255"),
        ("d", "no pii here, just 1234 and a.b"),
        ("e", "x@y.io 1.2.3.4 555-000-0000"),
    ]
    df = spark.createDataFrame(rows, ["k", "t"])
    c = pii_counts(F.col("t"))
    got = {r["k"]: (r["e"], r["p"], r["i"], r["s"]) for r in df.select(
        "k", c["n_emails"].alias("e"), c["n_phones"].alias("p"),
        c["n_ips"].alias("i"), scrub_pii_expr(F.col("t")).alias("s")).collect()}
    assert got["a"] == (1, 0, 0, "mail me at <EMAIL> today")
    assert got["b"] == (0, 2, 0, "call <PHONE> or <PHONE> now")
    assert got["c"] == (0, 0, 2, "server at <IP> and <IP>")
    assert got["d"] == (0, 0, 0, "no pii here, just 1234 and a.b")
    assert got["e"] == (1, 1, 1, "<EMAIL> <IP> <PHONE>")
