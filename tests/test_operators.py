"""Unit tests for the operator library: drift, dedup, textstats,
refintegrity."""

import math

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import dedup, drift, refintegrity, textstats


# --- drift -------------------------------------------------------------------

def test_psi_zero_on_identical(spark):
    df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "k string")
    assert drift.psi(df, "k", {"a": 0.5, "b": 0.5}) == pytest.approx(0.0, abs=1e-9)


def test_psi_positive_on_shift(spark):
    df = spark.createDataFrame([("a",)] * 90 + [("b",)] * 10, "k string")
    v = drift.psi(df, "k", {"a": 0.5, "b": 0.5})
    assert v > 0.2


def test_psi_handles_unseen_categories(spark):
    df = spark.createDataFrame([("a",)] * 100, "k string")
    v = drift.psi(df, "k", {"a": 0.5, "b": 0.5})
    assert math.isfinite(v) and v > 0


def test_psi_collect_is_capped_on_high_cardinality(spark):
    # a mis-pointed id column must not collect an unbounded frequency table:
    # at most max_categories rows survive, the tail folds into OTHER_BUCKET
    df = spark.range(0, 5000).select(F.col("id").cast("string").alias("k"))
    fr = drift.frequency_fractions(df, "k", max_categories=50)
    assert len(fr) == 51 and drift.OTHER_BUCKET in fr
    assert fr[drift.OTHER_BUCKET] == pytest.approx(4950 / 5000, abs=1e-9)
    assert sum(fr.values()) == pytest.approx(1.0, abs=1e-9)
    # under the cap: identical to the uncapped result, no OTHER bucket
    small = spark.createDataFrame([("a",)] * 75 + [("b",)] * 25, "k string")
    fr2 = drift.frequency_fractions(small, "k", max_categories=50)
    assert fr2 == {"a": 0.75, "b": 0.25}


def test_psi_df_matches_scalar_psi(spark):
    # declarative lane == scalar lane, including both eps floors:
    # "c" observed but not in baseline, "b" in baseline but unobserved
    df = spark.createDataFrame([("a",)] * 80 + [("c",)] * 20, "k string")
    base = {"a": 0.5, "b": 0.5}
    scalar = drift.psi(df, "k", base)
    row = drift.psi_df(df, "k", base, digits=9).collect()[0]
    assert row["psi"] == pytest.approx(scalar, abs=1e-6)
    # zero on identical distributions
    same = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "k string")
    assert drift.psi_df(same, "k", {"a": 0.5, "b": 0.5}, digits=9) \
        .collect()[0]["psi"] == pytest.approx(0.0, abs=1e-9)


def test_psi_df_none_and_mixed_key_baseline(spark):
    # a baseline produced by frequency_fractions on a nullable column has a
    # None key; the declarative lane must match the scalar dict lane
    # instead of crashing create_map on a null map key
    df = spark.createDataFrame([("a",)] * 60 + [(None,)] * 40, "k string")
    base = drift.frequency_fractions(df, "k")
    assert None in base
    scalar = drift.psi(df, "k", base)
    assert drift.psi_df(df, "k", base, digits=9).collect()[0]["psi"] == \
        pytest.approx(scalar, abs=1e-9)
    # mixed-type keys (int categories + the string OTHER_BUCKET cap)
    ints = spark.range(0, 100).select((F.col("id") % 4).alias("k"))
    mixed = {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.15, drift.OTHER_BUCKET: 0.1}
    scalar = drift.psi(ints, "k", mixed)
    assert drift.psi_df(ints, "k", mixed, digits=9).collect()[0]["psi"] == \
        pytest.approx(scalar, abs=1e-9)


def test_psi_df_boolean_baseline_keys_match_spark_rendering(spark):
    # ADVICE r4: Python str(True)="True" vs Spark's cast-to-string "true" —
    # boolean baseline keys must use Spark's rendering or every category
    # silently scores as novel. Declarative lane == scalar lane on bools.
    df = spark.createDataFrame([(True,)] * 70 + [(False,)] * 30, "k boolean")
    base = {True: 0.5, False: 0.5}
    scalar = drift.psi(df, "k", base)
    assert scalar < 0.5  # sanity: nowhere near the all-novel blowup
    assert drift.psi_df(df, "k", base, digits=9).collect()[0]["psi"] == \
        pytest.approx(scalar, abs=1e-9)
    # jsd on the MATCHING distribution must be ~0 — with mis-rendered keys
    # every category would be novel and jsd would blow up toward ln(2)
    same = spark.createDataFrame([(True,)] * 50 + [(False,)] * 50, "k boolean")
    assert drift.jsd_df(same, "k", base, digits=9).collect()[0]["jsd"] == \
        pytest.approx(0.0, abs=1e-9)


def test_jsd_df_bounds_and_identity(spark):
    same = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "k string")
    assert drift.jsd_df(same, "k", {"a": 0.5, "b": 0.5}, digits=9) \
        .collect()[0]["jsd"] == pytest.approx(0.0, abs=1e-9)
    # disjoint supports -> maximal divergence 1.0 (base-2), finite without
    # any epsilon floor
    disjoint = spark.createDataFrame([("a",)] * 100, "k string")
    assert drift.jsd_df(disjoint, "k", {"b": 1.0}, digits=9) \
        .collect()[0]["jsd"] == pytest.approx(1.0, abs=1e-9)
    # hand-computed shift: p=(0.9,0.1), q=(0.5,0.5)
    df = spark.createDataFrame([("a",)] * 90 + [("b",)] * 10, "k string")
    m_a, m_b = 0.7, 0.3
    expect = (0.9 * math.log2(0.9 / m_a) + 0.1 * math.log2(0.1 / m_b)
              + 0.5 * math.log2(0.5 / m_a) + 0.5 * math.log2(0.5 / m_b)) / 2
    assert drift.jsd_df(df, "k", {"a": 0.5, "b": 0.5}, digits=9) \
        .collect()[0]["jsd"] == pytest.approx(expect, abs=1e-9)


def test_chi2_df_statistic(spark):
    # 90/10 observed vs 50/50 expected over n=100:
    # (90-50)^2/50 + (10-50)^2/50 = 64
    df = spark.createDataFrame([("a",)] * 90 + [("b",)] * 10, "k string")
    row = drift.chi2_df(df, "k", {"a": 0.5, "b": 0.5}).collect()[0]
    assert row["chi2"] == pytest.approx(64.0, abs=1e-6)
    assert row["df_degrees"] == 1
    # unobserved baseline category contributes its full expected count
    row = drift.chi2_df(df, "k", {"a": 0.5, "b": 0.3, "c": 0.2}).collect()[0]
    assert row["df_degrees"] == 2 and row["chi2"] > 0


def test_ks_df_matches_scalar(spark):
    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("v"))
    pts = [[249.0, 0.1], [499.0, 0.8], [899.0, 0.95]]
    scalar = drift.ks_statistic(df, "v", {"cdf": pts})
    assert drift.ks_df(df, "v", pts, digits=9).collect()[0]["ks"] == \
        pytest.approx(scalar, abs=1e-6)
    # single point: no greatest() wrapper lane
    assert drift.ks_df(df, "v", [[499.0, 0.8]], digits=9).collect()[0]["ks"] \
        == pytest.approx(0.3, abs=0.01)


def test_ks_by_group(spark):
    df = spark.range(0, 1000).select(
        F.col("id").cast("double").alias("v"),
        F.when(F.col("id") < 500, "a").otherwise("b").alias("g"))
    pts = [[249.0, 0.5], [899.0, 0.95]]
    out = {r["g"]: r for r in drift.ks_by_group(df, "g", "v", pts,
                                                digits=9).collect()}
    # group a: v in [0,500) — CDF(249)=0.5 exact, CDF(899)=1.0 vs 0.95
    assert out["a"]["n"] == 500
    assert out["a"]["ks"] == pytest.approx(0.05, abs=1e-6)
    # group b: v in [500,1000) — CDF(249)=0 vs 0.5 → ks 0.5
    assert out["b"]["ks"] == pytest.approx(0.5, abs=1e-6)
    # per-group result matches the global lane run on that slice alone
    solo = drift.ks_df(df.filter("g = 'a'"), "v", pts, digits=9)
    assert out["a"]["ks"] == pytest.approx(solo.collect()[0]["ks"], abs=1e-9)
    # an all-null-value group reports n=0, ks NULL (not a spurious 0)
    withnull = df.union(spark.createDataFrame([(None, "c")], "v double, g string"))
    rc = {r["g"]: r for r in drift.ks_by_group(withnull, "g", "v",
                                               pts).collect()}
    assert rc["c"]["n"] == 0 and rc["c"]["ks"] is None


def test_ks_exact_points(spark):
    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("v"))
    # true CDF at 500 is 0.5 — baseline claims 0.8 → KS ≈ 0.3
    ks = drift.ks_statistic(df, "v", {"cdf": [[499.0, 0.8]]})
    assert ks == pytest.approx(0.3, abs=0.01)


def test_ks_tdigest_path(spark):
    """A quantiles baseline that still carries the retired ``use_tdigest``
    key runs on the exact path: the key is ignored."""
    df = spark.range(0, 10_000).select(F.col("id").cast("double").alias("v"))
    quantiles = {"0.25": 2499.0, "0.5": 4999.0, "0.75": 7499.0}
    ks = drift.ks_statistic(df, "v", {"quantiles": quantiles,
                                      "use_tdigest": True})
    assert ks == 0.0 == drift.ks_statistic(df, "v", {"quantiles": quantiles})
    # off-quantile points: |F(x) - p| exactly (F(999) = 0.1 vs 0.25)
    assert drift.ks_statistic(df, "v", {"quantiles": {"0.25": 999.0},
                                        "use_tdigest": True}) == \
        pytest.approx(0.15, abs=1e-12)


# --- dedup --------------------------------------------------------------------

def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog tomorrow"),  # near dup
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "another unrelated document mentioning catalyst optimizer rules"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup(spark):
    docs = _docs(spark)
    assert dedup.exact_duplicate_groups(docs).count() == 1
    kept = dedup.dedup_exact(docs, "doc_id")
    assert kept.count() == 4
    assert kept.filter("doc_id = 1").count() == 1  # keeps lowest id


def test_minhash_finds_near_dups(spark):
    pairs = dedup.minhash_near_duplicates(_docs(spark), "doc_id", threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found
    assert (1, 3) in found or (2, 3) in found
    assert not any(4 in p or 5 in p for p in found)


def test_ngram_jaccard_exact_values(spark):
    pairs = dedup.ngram_jaccard(_docs(spark), "doc_id", n=3, threshold=0.1)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals[(1, 2)] == pytest.approx(1.0)
    # 8 shingles each, 7 shared → 7/9
    assert vals[(1, 3)] == pytest.approx(7 / 9, abs=1e-6)


def test_simhash_identical_zero_distance(spark):
    pairs = dedup.simhash_near_duplicates(_docs(spark), "doc_id", max_hamming=0)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found


# --- similarity -----------------------------------------------------------------

# --- textstats --------------------------------------------------------------------

def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world",), ("  spaced   out  ",), ("",), ("one",)], "text string")
    rows = df.select(
        textstats.whitespace_token_count(F.col("text")).alias("ws"),
        textstats.regex_token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert [r["ws"] for r in rows] == [2, 2, 0, 1]
    assert rows[0]["bpe"] == 2


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [("good", "the quick brown fox is a fine animal and it jumps over the lazy dog in the morning sun today again",),
         ("bad", "!!! ??? ### $$$ %%%",)], "label string, text string")
    rows = {r["label"]: r["q"] for r in df.select(
        "label", textstats.quality_score(F.col("text")).alias("q")).collect()}
    assert rows["good"] > rows["bad"]


# --- refintegrity --------------------------------------------------------------------

def test_orphan_count(spark):
    child = spark.createDataFrame([(1,), (2,), (3,), (None,)], "k int")
    parent = spark.createDataFrame([(1,), (2,)], "k int")
    assert refintegrity.orphan_count(child, "k", parent, "k") == 1  # only 3; NULL skipped


@pytest.mark.parametrize("family", ["md5", "arrow"])
def test_winnow_guarantee(spark, family):
    """Winnowing guarantee: any shared substring of length >= k + window - 1
    yields at least one shared fingerprint; disjoint texts share none.
    Holds for both the reference (md5) and default (arrow) lanes."""
    from pyspark.sql import functions as F

    shared = "zqxjkwvyp bmfgthrdl cnslaoeiu"  # 29 chars >= 8 + 4 - 1
    df = spark.createDataFrame([
        (1, f"prefix one {shared} suffix alpha"),
        (2, f"other start {shared} different end"),
        (3, "totally 12345 unrelated !!! content graph"),
    ], "doc_id int, text string")
    if family == "md5":
        fps = df.select("doc_id", dedup.winnow_fingerprints(
            F.col("text"), 8, 4).alias("fp"))
    else:
        fps = dedup._winnow_fingerprints_arrow(df, "doc_id", "text", 8, 4) \
            .withColumnRenamed("id", "doc_id")
    fp = {r["doc_id"]: set(r["fp"]) for r in fps.collect()}
    assert fp[1] & fp[2], "shared substring must produce a shared fingerprint"
    assert not (fp[1] & fp[3])
    pairs = dedup.winnow_shared_pairs(df, "doc_id", min_shared=1,
                                      hash_family=family).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_winnow_max_doc_freq_filters_stop_grams(spark):
    from pyspark.sql import functions as F

    common = "the quick brown fox says hello there"
    rows = [(i, f"{common} variant {i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    all_pairs = dedup.winnow_shared_pairs(df, "doc_id", min_shared=1).count()
    filtered = dedup.winnow_shared_pairs(df, "doc_id", min_shared=1,
                                         max_doc_freq=3).count()
    assert all_pairs == 15  # every pair shares the common prefix
    assert filtered < all_pairs  # stop-gram fingerprints dropped


def test_repetition_ratio(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([
        (1, "a b c d e f"),                  # 4 distinct 3-grams, no repeats
        (2, "x y z x y z x y z"),            # heavy repetition
        (3, "one two"),                      # < n tokens -> 0
        (4, ""),                             # empty -> 0
    ], "id int, text string")
    got = {r["id"]: round(r["rep"], 4) for r in df.select(
        "id", textstats.repetition_ratio(F.col("text"), 3).alias("rep")).collect()}
    assert got[1] == 0.0
    # 9 tokens -> 7 grams; distinct: xyz,yzx,zxy -> 1 - 3/7
    assert got[2] == round(1 - 3 / 7, 4)
    assert got[3] == 0.0 and got[4] == 0.0


def test_predecessor_violations_and_chat_format(spark):
    from datacontract_cli_spark.operators.convchecks import (
        chat_format_violations,
        predecessor_violations,
    )
    rows = [
        # conv A: valid chat (system, user, assistant, tool, assistant)
        ("A", 0, "system"), ("A", 1, "user"), ("A", 2, "assistant"),
        ("A", 3, "tool"), ("A", 4, "assistant"),
        # conv B: starts with assistant (bad), tool after user (bad),
        # user after user (bad)
        ("B", 0, "assistant"), ("B", 1, "user"), ("B", 2, "tool"),
        ("B", 3, "user"), ("B", 4, "user"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    out = chat_format_violations(df).collect()[0].asDict()
    assert out["system_violations"] == 0
    assert out["assistant_violations"] == 1  # B turn 0 (first, not allowed)
    assert out["tool_violations"] == 1       # B turn 2 (after user)
    assert out["user_violations"] == 2       # B turns 3 (after tool), 4 (after user)

    # unconstrained states are ignored; allow_first honored
    out2 = predecessor_violations(
        df, "conv_id", ["turn_idx"], "role",
        {"tool": {"allowed": ["assistant"], "allow_first": True}}
    ).collect()[0].asDict()
    assert out2 == {"tool_violations": 1}


def test_fd_violations(spark):
    from datacontract_cli_spark.operators.refintegrity import fd_violations
    df = spark.createDataFrame([
        (1, "de"), (1, "de"),          # consistent
        (2, "fr"), (2, "it"),          # violation: 2 -> {fr, it}
        (3, "us"), (3, "us"), (3, "uk"),  # violation: 3 -> {us, uk}
        (4, None),                     # null rhs: count_distinct ignores
    ], "k int, v string")
    row = fd_violations(df, ["k"], "v").collect()[0]
    assert row["violating_groups"] == 2
    assert row["max_rhs_per_group"] == 2
    # clean dependency -> zeros (and an empty frame stays a one-row result)
    clean = fd_violations(df.filter("k = 1"), ["k"], "v").collect()[0]
    assert clean["violating_groups"] == 0
    empty = fd_violations(df.filter("k = 99"), ["k"], "v").collect()[0]
    assert empty["violating_groups"] == 0 and empty["max_rhs_per_group"] == 0


def test_chi2_pvalue_known_critical_values():
    # textbook critical values: P(chi2 > x | df) = alpha
    assert drift.chi2_pvalue(3.841, 1) == pytest.approx(0.05, abs=2e-4)
    assert drift.chi2_pvalue(6.635, 1) == pytest.approx(0.01, abs=2e-4)
    assert drift.chi2_pvalue(9.488, 4) == pytest.approx(0.05, abs=2e-4)
    assert drift.chi2_pvalue(15.086, 5) == pytest.approx(0.01, abs=2e-4)
    assert drift.chi2_pvalue(0.0, 3) == 1.0
    assert drift.chi2_pvalue(1000.0, 2) < 1e-100
    # monotone decreasing in the statistic
    ps = [drift.chi2_pvalue(x, 4) for x in (1.0, 5.0, 10.0, 20.0)]
    assert ps == sorted(ps, reverse=True)
