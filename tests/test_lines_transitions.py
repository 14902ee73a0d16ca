"""line_dedup / contamination_fraction / transition_drift unit tests."""

import pytest

from datacontract_cli_spark.operators.contamination import contamination_fraction
from datacontract_cli_spark.operators.convchecks import transition_drift, transitions
from datacontract_cli_spark.operators.lines import line_dedup


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma\nshared boilerplate line\nunique one"),
            (2, "shared boilerplate line\nunique two\n--"),
            (3, "unique three\nshared boilerplate line\nalpha beta gamma"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )


def test_line_dedup_keeps_first_occurrence_only(spark):
    out = {r["doc_id"]: r for r in line_dedup(_docs(spark), min_len=3).collect()}
    # doc 1 owns the first occurrence of both duplicated lines
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0
    assert out[1]["text_clean"] == (
        "alpha beta gamma\nshared boilerplate line\nunique one")
    # doc 2 loses the boilerplate, keeps its unique line and the short "--"
    assert out[2]["n_kept"] == 2 and out[2]["n_dropped"] == 1
    assert out[2]["text_clean"] == "unique two\n--"
    # doc 3 loses both duplicated lines
    assert out[3]["text_clean"] == "unique three"
    assert out[3]["n_lines"] == 3 and out[3]["n_dropped"] == 2
    # empty doc: one empty line, below min_len, passes through
    assert out[4]["n_lines"] == 1 and out[4]["n_kept"] == 1
    assert out[4]["text_clean"] == ""


def test_line_dedup_same_doc_repeats_dropped(spark):
    df = spark.createDataFrame(
        [(7, "again and again\nmiddle\nagain and again")], ["doc_id", "text"])
    row = line_dedup(df, min_len=3).collect()[0]
    assert row["n_kept"] == 2 and row["n_dropped"] == 1
    assert row["text_clean"] == "again and again\nmiddle"


def test_line_dedup_hash_lines_matches_raw(spark):
    docs = _docs(spark)
    raw = line_dedup(docs, min_len=3, rebuild=False)
    hashed = line_dedup(docs, min_len=3, hash_lines=True, rebuild=False)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, hashed.collect()))


def test_line_dedup_plan_reuses_exchange_no_window(spark):
    plan = line_dedup(_docs(spark), min_len=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan  # first-occurrence via groupBy+join, not row_number


def test_contamination_fraction(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g"),     # grams: abcde bcdef cdefg -> 1 hit
         (2, "a b c d e"),          # gram: abcde -> 1/1
         (3, "x y z w v u")],       # 0 hits
        ["doc_id", "text"])
    bench = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           contamination_fraction(corpus, bench, n=5).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["n_contaminated"] == 1
    assert out[1]["overlap_fraction"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["overlap_fraction"] == 1.0
    assert out[3]["n_contaminated"] == 0 and out[3]["overlap_fraction"] == 0.0


def test_transitions_and_drift(spark):
    df = spark.createDataFrame(
        [("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "user"),
         ("c2", 0, "user"), ("c2", 1, "assistant")],
        ["conv_id", "turn_idx", "role"])
    t = sorted(r["transition"] for r in transitions(df).collect())
    assert t == ["assistant->user", "user->assistant", "user->assistant"]
    # observed matches baseline exactly -> psi ~ 0
    base = {"user->assistant": 2 / 3, "assistant->user": 1 / 3}
    psi = transition_drift(df, base).collect()[0]["psi"]
    assert abs(psi) < 1e-9
    # flow reversal with same unigram mix IS caught
    rev = spark.createDataFrame(
        [("c1", 0, "assistant"), ("c1", 1, "user"), ("c1", 2, "assistant"),
         ("c2", 0, "assistant"), ("c2", 1, "user")],
        ["conv_id", "turn_idx", "role"])
    # exact PSI: (2/3-1/3)ln2 + (1/3-2/3)ln(1/2) = (2/3)ln2 ~ 0.462
    psi_rev = transition_drift(rev, base).collect()[0]["psi"]
    assert psi_rev == pytest.approx((2 / 3) * 0.6931472, abs=1e-6)
    jsd = transition_drift(rev, base, metric="jsd").collect()[0]["jsd"]
    assert 0 < jsd <= 1


def test_run_lengths_and_loop_report(spark):
    from datacontract_cli_spark.operators.convchecks import (
        loop_report, run_lengths)

    # c1: tool runs a,a,a then b; c2: a,b,a (no runs); c3: null,null (a
    # NULL run of 2 — null-safe equality continues it)
    df = spark.createDataFrame(
        [("c1", 0, "assistant", "a"), ("c1", 1, "assistant", "a"),
         ("c1", 2, "assistant", "a"), ("c1", 3, "assistant", "b"),
         ("c2", 0, "assistant", "a"), ("c2", 1, "assistant", "b"),
         ("c2", 2, "assistant", "a"),
         ("c3", 0, "user", None), ("c3", 1, "user", None)],
        ["conv_id", "turn_idx", "role", "tool"])
    runs = {(r["conv_id"], r["tool"], r["run_len"])
            for r in run_lengths(df).collect()}
    assert ("c1", "a", 3) in runs and ("c1", "b", 1) in runs
    assert ("c3", None, 2) in runs
    assert all(r[2] == 1 for r in runs if r[0] == "c2")

    rep = loop_report(df, min_run=3).collect()[0]
    assert (rep["loop_runs"], rep["loop_convs"], rep["max_run_len"]) == (1, 1, 3)
    # empty-loop edge: min_run high -> zero counts, max coalesces to 0
    rep0 = loop_report(df, min_run=10).collect()[0]
    assert (rep0["loop_runs"], rep0["loop_convs"], rep0["max_run_len"]) == (0, 0, 0)


def test_followup_rates(spark):
    from datacontract_cli_spark.operators.convchecks import followup_rates

    # c1: search -> error -> search -> done; c2: search -> done
    df = spark.createDataFrame(
        [("c1", 0, "search"), ("c1", 1, "error"), ("c1", 2, "search"),
         ("c1", 3, "done"), ("c2", 0, "search"), ("c2", 1, "done"),
         ("c2", 2, None)],
        ["conv_id", "turn_idx", "tool"])
    out = {r["tool"]: r for r in
           followup_rates(df, target="error").collect()}
    assert None not in out                      # null actions excluded
    assert out["search"]["n"] == 3 and out["search"]["n_followed"] == 1
    assert out["search"]["followup_rate"] == pytest.approx(1 / 3, abs=1e-6)
    assert out["error"]["n_followed"] == 0
    # last turn of a conv never counts as followed (lead is NULL)
    assert out["done"]["n_followed"] == 0
