"""Unit tests for the round-5 diagnostics operators: key-skew report,
median/MAD outliers, JSON field stats, DSIR importance ranking."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datacontract_cli_spark.operators.anomaly import mad_outliers
from datacontract_cli_spark.operators.dsir import dsir_importance
from datacontract_cli_spark.operators.semistructured import json_field_stats
from datacontract_cli_spark.operators.skew import key_skew_report


def test_key_skew_report_values(spark):
    # key 'a' 6 rows, 'b' 3, 'c' 1 → total 10, 3 keys, mean size 10/3
    rows = [Row(k="a")] * 6 + [Row(k="b")] * 3 + [Row(k="c")]
    df = spark.createDataFrame(rows)
    out = key_skew_report(df, ["k"], top_k=2).collect()
    assert [r["k"] for r in out] == ["a", "b"]
    a = out[0]
    assert a["n_rows"] == 6
    assert a["share"] == 0.6
    assert a["skew_ratio"] == pytest.approx(6 * 3 / 10, abs=1e-4)


def test_key_skew_report_tie_break_deterministic(spark):
    df = spark.createDataFrame([Row(k="z"), Row(k="y"), Row(k="x")])
    out = key_skew_report(df, ["k"], top_k=2).collect()
    # equal counts → key-ascending order decides
    assert [r["k"] for r in out] == ["x", "y"]


def test_mad_outliers_flags_the_planted_spike(spark):
    vals = [float(v) for v in range(1, 101)] + [1e6]
    df = spark.createDataFrame([Row(value=v) for v in vals])
    row = mad_outliers(df, "value", z=3.5).collect()[0]
    assert row["median"] == 51.0  # median of 1..100 + spike
    assert row["n_outliers"] == 1
    assert row["outlier_fraction"] == pytest.approx(1 / 101, abs=1e-6)
    # MAD of 1..100,1e6 around 51: |x-51| medians to 25.0
    assert row["mad"] == 25.0


def test_mad_outliers_ignores_nulls(spark):
    df = spark.createDataFrame(
        [Row(value=1.0), Row(value=None), Row(value=3.0)])
    row = mad_outliers(df, "value").collect()[0]
    assert row["median"] == 2.0
    assert row["n_outliers"] == 0


def test_json_field_stats_counts_unparsed(spark):
    df = spark.createDataFrame([
        Row(g="a", props='{"k": 10}'),
        Row(g="a", props='{"k": 30}'),
        Row(g="a", props="not json"),
        Row(g="b", props='{"other": 1}'),
    ])
    out = {r["g"]: r for r in
           json_field_stats(df, "props", "k", group_by=["g"]).collect()}
    assert out["a"]["n_rows"] == 3
    assert out["a"]["n_unparsed"] == 1
    assert out["a"]["min_value"] == 10
    assert out["a"]["avg_value"] == 20.0
    assert out["a"]["max_value"] == 30
    assert out["b"]["n_unparsed"] == 1 and out["b"]["min_value"] is None


def test_dsir_ranks_target_like_docs_first(spark):
    # target docs speak 'alpha beta'; raw background speaks 'gamma delta'.
    # The unlabeled doc written in target language must outrank the one
    # written in background language.
    rows = (
        [Row(doc_id=i, lang="en", text="alpha beta alpha beta") for i in range(5)]
        + [Row(doc_id=10 + i, lang="de", text="gamma delta gamma delta") for i in range(5)]
        + [Row(doc_id=100, lang="zz", text="alpha beta alpha"),
           Row(doc_id=101, lang="zz", text="gamma delta gamma")]
    )
    df = spark.createDataFrame(rows)
    out = dsir_importance(df, F.col("lang") == "en", n_buckets=64,
                          top_k=12)
    scores = {r["doc_id"]: r["log_weight"] for r in out.collect()}
    assert scores[100] > scores[101]
    # every target-language doc outranks every background doc
    assert min(scores[i] for i in range(5)) > max(scores[10 + i] for i in range(5))


def test_dsir_arrow_kernel_bit_identical(spark):
    """The narrow arrow feature kernel must reproduce the explode+groupBy
    md5 lane BIT-exactly — same tokenization (lower → ASCII whitespace
    collapse → trim → split), same md5 buckets, same integer counts —
    including null text, empty text, repeated words, and multi-whitespace
    edge rows."""
    rows = [Row(doc_id=1, lang="en", text="alpha beta  alpha\tbeta gamma"),
            Row(doc_id=2, lang="de", text=None),
            Row(doc_id=3, lang="en", text="   "),
            Row(doc_id=4, lang="zz", text=""),
            Row(doc_id=5, lang="en", text="a\x0bb\fc\r\nd  UPPER upper")]
    df = spark.createDataFrame(rows)
    a = [tuple(r) for r in dsir_importance(
        df, F.col("lang") == "en", n_buckets=64, top_k=10,
        kernel="expr").collect()]
    b = [tuple(r) for r in dsir_importance(
        df, F.col("lang") == "en", n_buckets=64, top_k=10,
        kernel="arrow").collect()]
    assert a == b and len(a) > 0


def test_conversation_stats_without_timestamps(spark):
    from datacontract_cli_spark.operators.convchecks import (
        conversation_stats, turn_density_violations)

    df = spark.createDataFrame(
        [Row(conv_id="a", turn_idx=i) for i in range(4)]
        + [Row(conv_id="b", turn_idx=i) for i in (0, 1, 3)]   # gap at 2
        + [Row(conv_id="c", turn_idx=i) for i in (1, 2)])      # offset
    stats = conversation_stats(df, ts_col=None)
    assert sorted(stats.columns) == ["conv_id", "max_turn", "min_turn",
                                     "n_turns"]
    v = {r["conv_id"]: r for r in turn_density_violations(df).collect()}
    assert set(v) == {"b", "c"}
    assert v["b"]["n_turns"] == 3 and v["b"]["max_turn"] == 3
    assert v["c"]["min_turn"] == 1


def test_centroid_drift_detects_the_shifted_group(spark):
    from datacontract_cli_spark.operators.similarity import centroid_drift

    # two large aligned groups + a SMALL group pointing the other way (a
    # small slice can't drag the global centroid toward itself)
    rows = ([Row(label=0, embedding=[1.0, 0.0, 0.0]) for _ in range(20)]
            + [Row(label=1, embedding=[0.9, 0.1, 0.0]) for _ in range(20)]
            + [Row(label=2, embedding=[-1.0, 2.0, 0.0]) for _ in range(2)])
    out = {r["label"]: r for r in
           centroid_drift(spark.createDataFrame(rows), "embedding",
                          "label").collect()}
    assert out[0]["n_vectors"] == 20 and out[2]["n_vectors"] == 2
    assert out[0]["centroid_cosine"] > 0.9
    assert out[1]["centroid_cosine"] > 0.9
    assert out[2]["centroid_cosine"] < 0.0  # drifted slice points away


def test_table_diff_classifies_all_four_kinds(spark):
    from datacontract_cli_spark.operators.tablediff import (
        table_diff, table_diff_rows)

    a = spark.createDataFrame(
        [Row(k=1, v="a", w=1.0), Row(k=2, v="b", w=2.0),
         Row(k=3, v="c", w=3.0), Row(k=4, v="d", w=4.0)])
    b = spark.createDataFrame(
        [Row(k=1, v="a", w=1.0),          # unchanged
         Row(k=2, v="B", w=2.0),          # changed
         Row(k=4, v="d", w=4.0),          # unchanged (k=3 removed)
         Row(k=5, v="e", w=5.0)])         # added
    for exact in (False, True):
        row = table_diff(a, b, ["k"], exact=exact).collect()[0]
        assert (row["n_added"], row["n_removed"], row["n_changed"],
                row["n_unchanged"]) == (1, 1, 1, 2), exact
    rows = table_diff_rows(a, b, ["k"]).collect()
    assert [(r["kind"], r["k"]) for r in rows] == [
        ("added", 5), ("changed", 2), ("removed", 3)]


def test_table_diff_null_values_and_keys(spark):
    from datacontract_cli_spark.operators.tablediff import table_diff

    a = spark.createDataFrame([Row(k=1, v=None), Row(k=None, v="x")])
    b = spark.createDataFrame([Row(k=1, v="now-set"), Row(k=None, v="x")])
    row = table_diff(a, b, ["k"]).collect()[0]
    # null→value is a CHANGE (null-safe rendering), null keys join to
    # each other (eqNullSafe), so nothing is added/removed
    assert (row["n_added"], row["n_removed"], row["n_changed"],
            row["n_unchanged"]) == (0, 0, 1, 1)


def test_table_diff_key_only_membership(spark):
    # tables whose only column is the key: a pure membership diff — the
    # hash path must not call zero-arg xxhash64
    from datacontract_cli_spark.operators.tablediff import table_diff
    a = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    for exact in (False, True):
        row = table_diff(a, b, ["k"], exact=exact).collect()[0]
        assert (row["n_added"], row["n_removed"], row["n_changed"],
                row["n_unchanged"]) == (1, 1, 0, 2)


def test_table_diff_exact_separator_injection(spark):
    # ('a\x01b','c') vs ('a','b\x01c') concatenate identically under a
    # bare separator; the length prefix must keep them distinct
    from datacontract_cli_spark.operators.tablediff import table_diff
    a = spark.createDataFrame([(1, "a\x01b", "c")], "k long, v string, w string")
    b = spark.createDataFrame([(1, "a", "b\x01c")], "k long, v string, w string")
    row = table_diff(a, b, ["k"], exact=True).collect()[0]
    assert row["n_changed"] == 1 and row["n_unchanged"] == 0
