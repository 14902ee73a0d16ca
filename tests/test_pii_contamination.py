"""PII detect/scrub operators and the benchmark-contamination check."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import pii
from datacontract_cli_spark.operators.contamination import (
    contaminated_docs,
    contamination_stats,
    word_ngrams,
)


def _texts(spark):
    return spark.createDataFrame([
        (1, "mail me at bob.smith+x@corp.example.org today"),
        (2, "call 25-989-741-2988 or 123-456-7890"),
        (3, "server at 10.0.255.1 and card 1234-5678-9012-3456"),
        (4, "ssn 123-45-6789 hidden here"),
        (5, "nothing sensitive at all"),
        (6, None),
    ], "id long, text string")


def test_match_counts_per_category(spark):
    df = _texts(spark)
    rows = {r["id"]: r for r in df.select(
        "id",
        pii.match_count(F.col("text"), "email").alias("email"),
        pii.match_count(F.col("text"), "phone").alias("phone"),
        pii.match_count(F.col("text"), "ipv4").alias("ipv4"),
        pii.match_count(F.col("text"), "ssn").alias("ssn"),
        pii.match_count(F.col("text"), "credit_card").alias("cc"),
    ).collect()}
    assert rows[1]["email"] == 1 and rows[1]["phone"] == 0
    assert rows[2]["phone"] == 2
    assert rows[3]["ipv4"] == 1 and rows[3]["cc"] == 1
    assert rows[4]["ssn"] == 1
    assert rows[5]["email"] + rows[5]["phone"] + rows[5]["ipv4"] == 0
    assert rows[6]["email"] == 0  # null-safe


def _has_pii(col):
    return sum((pii.match_count(col, c) for c in pii.PATTERNS), F.lit(0)) > 0


def test_contains_and_scrub(spark):
    df = _texts(spark).filter(F.col("text").isNotNull())
    flagged = df.filter(_has_pii(F.col("text"))).count()
    assert flagged == 4  # all but "nothing sensitive"
    scrubbed = df.select(
        pii.scrub(F.col("text")).alias("s")).collect()
    for r in scrubbed:
        # residual scan over scrubbed text finds nothing
        assert "@" not in r["s"] or "[PII]" in r["s"]
    residual = df.select(pii.scrub(F.col("text")).alias("s")) \
        .filter(_has_pii(F.col("s"))).count()
    assert residual == 0


def test_scrub_order_credit_card_before_phone(spark):
    # a credit card must mask as ONE token, not leave phone-shaped halves
    df = spark.createDataFrame([("pay 1234-5678-9012-3456 now",)], "t string")
    out = df.select(pii.scrub(F.col("t")).alias("s")).collect()[0]["s"]
    assert out == "pay [PII] now"


def test_pii_summary_shape(spark):
    df = _texts(spark)
    rows = pii.pii_summary(df, ["text"], ["email", "phone"]).collect()
    by_cat = {r["category"]: r for r in rows}
    assert set(by_cat) == {"email", "phone"}
    assert by_cat["email"]["values_with_match"] == 1
    assert by_cat["phone"]["values_with_match"] == 1
    assert by_cat["phone"]["match_count"] == 2


# --- contamination -----------------------------------------------------------

def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "t string")
    rows = df.select(word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert rows[0]["g"] == ["a b c", "b c d"]
    assert rows[1]["g"] == []  # shorter than n: empty, NOT sequence(1,0)
    assert rows[2]["g"] == []


def test_contaminated_docs_exact(spark):
    corpus = spark.createDataFrame([
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "completely unrelated words in this one here"),
        (12, "ends with quick brown fox jumps over something"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(1, "QUICK Brown Fox Jumps Over everything")],
        "doc_id long, text string")
    flagged = {r["doc_id"] for r in
               contaminated_docs(corpus, bench, n=5).collect()}
    assert flagged == {10, 12}  # case-insensitive 5-gram overlap
    stats = contamination_stats(corpus, bench, n=5).collect()[0]
    assert stats["contaminated_docs"] == 2
    assert stats["total_docs"] == 3
    assert stats["contamination_rate"] == pytest.approx(2 / 3, abs=1e-6)


def test_contamination_hashed_kernel_matches_raw(spark):
    corpus = spark.createDataFrame(
        [(i, f"shared prefix tokens one two three plus {i}") for i in range(20)]
        + [(99, "totally different text with no overlap at all")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(0, "shared prefix tokens one two three")], "doc_id long, text string")
    raw = {r["doc_id"] for r in
           contaminated_docs(corpus, bench, n=6, hash_grams=False).collect()}
    hashed = {r["doc_id"] for r in
              contaminated_docs(corpus, bench, n=6, hash_grams=True).collect()}
    assert raw == hashed and 99 not in raw and len(raw) == 20


def test_contamination_plan_broadcasts_benchmark(spark):
    corpus = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c d e")], "doc_id long, text string")
    plan = contaminated_docs(corpus, bench, n=5, hash_grams=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# --- corpus-wide top n-grams (dedup-analysis lane) ---------------------------

def test_top_ngrams_hand_computed(spark):
    from datacontract_cli_spark.operators.contamination import top_ngrams
    docs = spark.createDataFrame([
        (1, "a b c a b c"),     # grams: "a b c","b c a","c a b","a b c"
        (2, "a b c x y"),       # grams: "a b c","b c x","c x y"
        (3, "zz"),              # too short: no grams
    ], "doc_id long, text string")
    rows = top_ngrams(docs, n=3, k=2).collect()
    assert [(r["gram"], r["n_occurrences"], r["n_docs"]) for r in rows] == [
        ("a b c", 3, 2),   # twice in doc 1, once in doc 2
        ("b c a", 1, 1),   # ties broken by gram ASC
    ]


def test_top_ngrams_plan_is_distributed_topk(spark):
    from datacontract_cli_spark.operators.contamination import top_ngrams
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    plan = top_ngrams(docs, n=2, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# --- gopher quality rules ----------------------------------------------------

def test_gopher_quality_hand_computed(spark):
    from datacontract_cli_spark.operators.textstats import gopher_quality
    docs = spark.createDataFrame([
        (1, "alpha beta gamma delta"),   # 4 words, mwl=(5+4+5+5)/4=4.75
        (2, "aa bb"),                    # 2 words: fails min_words
        (3, "lengthy vocabulary words here now"),  # mwl 6.0: fails max_mwl
        (4, "12 34 56 78"),              # alpha_frac 0: fails alpha rule
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_quality(
        docs, min_words=3, max_words=10,
        min_mean_word_len=2.0, max_mean_word_len=5.5,
        min_alpha_word_frac=0.5).collect()}
    assert rows[1]["n_words"] == 4
    assert rows[1]["mean_word_len"] == pytest.approx(4.75)
    assert rows[1]["alpha_word_frac"] == 1.0
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False and rows[2]["ok_word_count"] is False
    assert rows[3]["keep"] is False and rows[3]["ok_mean_word_len"] is False
    assert rows[4]["keep"] is False and rows[4]["ok_alpha_words"] is False
    # every rule evaluated independently: doc 4 still passes word count
    assert rows[4]["ok_word_count"] is True


def test_gopher_quality_empty_text_safe(spark):
    from datacontract_cli_spark.operators.textstats import gopher_quality
    docs = spark.createDataFrame([(1, ""), (2, "   ")],
                                 "doc_id long, text string")
    rows = gopher_quality(docs, min_words=1).collect()
    for r in rows:
        assert r["n_words"] == 0 and r["keep"] is False
        assert r["mean_word_len"] == 0.0 and r["alpha_word_frac"] == 0.0
