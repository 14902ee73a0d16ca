"""Unit tests for the round-5 training-pipeline operators: hashed linear
classifier scoring, sequence packing, corpus mixing."""

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datacontract_cli_spark.operators.classifier import (
    classifier_score, quality_gate, quality_scores)
from datacontract_cli_spark.operators.packing import (
    mixture_sample, pack_sequences, packing_stats)


def _docs(spark):
    return spark.createDataFrame([
        Row(doc_id=1, text="spark query engine fast query"),
        Row(doc_id=2, text="slow table scan"),
        Row(doc_id=3, text="query planner for the query engine query"),
        Row(doc_id=4, text="unrelated words entirely"),
    ])


def _py_score(text, n_buckets=4096, seed=0, bias=0.0):
    ws = [w for w in text.lower().split() if w]
    if not ws:
        return 1.0 / (1.0 + math.exp(-bias))
    tot = 0.0
    for w in ws:
        b = int(hashlib.md5(w.encode()).hexdigest()[:6], 16) % n_buckets
        tot += ((b * 2654435761 + 12345 + seed) % (1 << 20)) / float(1 << 20) - 0.5
    return 1.0 / (1.0 + math.exp(-(tot / len(ws) + bias)))


def test_classifier_score_matches_python_reference(spark):
    rows = _docs(spark).collect()
    out = {r["doc_id"]: r["quality_score"]
           for r in quality_scores(_docs(spark)).collect()}
    for r in rows:
        assert out[r["doc_id"]] == pytest.approx(_py_score(r["text"]), abs=1e-6)


def test_classifier_arrow_kernel_bit_identical(spark):
    """The memoized arrow kernel must reproduce the expr lane BIT-exactly
    (same md5 buckets, same sequential fold order, same HALF_UP rounding)
    — including null text, empty text, and whitespace-only edge rows.
    seed=-20000 makes the weight dividend negative for bucket 0 ("w7925"
    hashes there), where Spark's truncated % and Python's floored %
    differ."""
    rows = [Row(doc_id=1, text="alpha beta gamma alpha"),
            Row(doc_id=2, text=None),
            Row(doc_id=3, text="   "),
            Row(doc_id=4, text=""),
            Row(doc_id=5, text="a\tb\nc\x0bd\fe\rf  g"),
            Row(doc_id=6, text="Sloane's UPPER lower 42 42 42"),
            Row(doc_id=7, text="w7925 beta")]
    df = spark.createDataFrame(rows)
    for seed in (0, -20000):
        a = {r["doc_id"]: (r["n_tokens"], r["quality_score"]) for r in
             quality_scores(df, seed=seed, kernel="expr").collect()}
        b = {r["doc_id"]: (r["n_tokens"], r["quality_score"]) for r in
             quality_scores(df, seed=seed, kernel="arrow").collect()}
        assert a == b, seed
    # trained-weights path too
    w = [0.25 * ((i % 7) - 3) for i in range(4096)]
    aw = {r["doc_id"]: r["quality_score"]
          for r in quality_scores(df, weights=w, kernel="expr").collect()}
    bw = {r["doc_id"]: r["quality_score"]
          for r in quality_scores(df, weights=w, kernel="arrow").collect()}
    assert aw == bw


def test_classifier_empty_text_scores_sigmoid_bias(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="   ")])
    row = quality_scores(df, bias=1.0).collect()[0]
    assert row["n_tokens"] == 0
    assert row["quality_score"] == pytest.approx(1 / (1 + math.exp(-1.0)), abs=1e-6)


def test_classifier_trained_weights_path(spark):
    # all-positive weights → every non-empty doc scores > 0.5
    df = spark.createDataFrame([Row(doc_id=1, text="alpha beta")])
    w = [0.7] * 64
    score = df.select(
        classifier_score(F.col("text"), n_buckets=64, weights=w).alias("s")
    ).collect()[0]["s"]
    assert score == pytest.approx(1 / (1 + math.exp(-0.7)), abs=1e-6)
    with pytest.raises(ValueError):
        classifier_score(F.col("text"), n_buckets=64, weights=[0.1])


def test_quality_gate_is_a_filter(spark):
    df = _docs(spark)
    scores = {r["doc_id"]: r["quality_score"]
              for r in quality_scores(df).collect()}
    # threshold at the midpoint of the 2nd/3rd scores: rounded-vs-raw
    # comparison can't flip a doc across a midpoint gap
    ordered = sorted(scores.values())
    thr = (ordered[1] + ordered[2]) / 2
    kept = {r["doc_id"] for r in quality_gate(df, thr).collect()}
    assert kept == {i for i, s in scores.items() if s > thr}


def test_classifier_plan_has_no_exchange(spark):
    plan = quality_scores(_docs(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_greedy_rule(spark):
    # one bucket → one FFD stream; budget 10; lengths 7,5,4,3,1
    df = spark.createDataFrame([
        Row(doc_id=i, text=" ".join(["w"] * n))
        for i, n in [(1, 7), (2, 5), (3, 4), (4, 3), (5, 1)]
    ])
    out = {r["doc_id"]: r for r in
           pack_sequences(df, budget=10, n_buckets=1).collect()}
    # FFD order 7,5,4,3,1 → cumsum 7,12,16,19,20 → bin floor((c-n)/10):
    # 0, 0, 1, 1, 1
    assert out[1]["bin_id"] == out[2]["bin_id"]
    assert out[3]["bin_id"] == out[4]["bin_id"] == out[5]["bin_id"]
    assert out[1]["bin_id"] != out[3]["bin_id"]
    assert all(r["n_tokens"] in (7, 5, 4, 3, 1) for r in out.values())


def test_packing_stats_accounting(spark):
    df = spark.createDataFrame([
        Row(doc_id=i, text=" ".join(["w"] * n))
        for i, n in [(1, 7), (2, 5), (3, 4), (4, 3), (5, 1)]
    ])
    row = packing_stats(df, budget=10, n_buckets=1).collect()[0]
    assert row["n_bins"] == 2
    assert row["total_tokens"] == 20
    assert row["avg_fill"] == pytest.approx(1.0, abs=1e-6)  # (12+8)/2 /10
    assert row["pad_waste"] == pytest.approx(0.0, abs=1e-6)


def test_pack_sequences_respects_length_col(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c", n_chars=42)])
    row = pack_sequences(df, budget=100, length_col="n_chars").collect()[0]
    assert row["n_tokens"] == 42


def test_pack_sequences_bins_are_bucket_local(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text="w w w") for i in range(40)])
    out = pack_sequences(df, budget=9, n_buckets=4).collect()
    buckets = {r["bucket"] for r in out}
    assert len(buckets) > 1
    # bin ids never collide across buckets
    per_bin = {}
    for r in out:
        per_bin.setdefault(r["bin_id"], set()).add(r["bucket"])
    assert all(len(b) == 1 for b in per_bin.values())


def test_mixture_sample_moves_shares_toward_target(spark):
    rows = ([Row(doc_id=i, source="web", n_chars=100) for i in range(900)]
            + [Row(doc_id=1000 + i, source="books", n_chars=100)
               for i in range(100)])
    df = spark.createDataFrame(rows)
    kept = mixture_sample(df, {"web": 0.5, "books": 0.5}, sample_frac=0.2)
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # each source targets 0.1 * 1000 rows = 100 tokens-worth; books (100
    # rows at p=1 cap... p_books = min(1, .2*.5/.1)=1) keeps all 100,
    # web keeps ~ .2*.5/.9 = 11% of 900 ≈ 100
    assert counts["books"] == 100
    assert 60 <= counts["web"] <= 140


def test_mixture_sample_drops_unlisted_sources_and_is_deterministic(spark):
    rows = ([Row(doc_id=i, source="web", n_chars=10) for i in range(50)]
            + [Row(doc_id=100 + i, source="junk", n_chars=10)
               for i in range(50)])
    df = spark.createDataFrame(rows)
    kept1 = {r["doc_id"] for r in
             mixture_sample(df, {"web": 1.0}, 0.5).collect()}
    kept2 = {r["doc_id"] for r in
             mixture_sample(df.repartition(7), {"web": 1.0}, 0.5).collect()}
    assert kept1 == kept2  # partitioning-invariant
    assert all(i < 100 for i in kept1)  # junk dropped


def test_mixture_sample_bad_targets_raise(spark):
    df = spark.createDataFrame([Row(doc_id=1, source="a", n_chars=1)])
    with pytest.raises(ValueError):
        mixture_sample(df, {"a": 0.0}, 0.5)


def test_chunk_documents_sliding_windows(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g"),   # 7 tokens
         Row(doc_id=2, text="x y"),             # 2 tokens -> one short chunk
         Row(doc_id=3, text="   ")])            # empty -> no chunks
    from datacontract_cli_spark.operators.packing import chunk_documents

    out = {(r["doc_id"], r["chunk_idx"]): r
           for r in chunk_documents(df, chunk_size=3).collect()}
    # non-overlapping: 7 tokens -> 3,3,1
    assert out[(1, 0)]["chunk_text"] == "a b c"
    assert out[(1, 1)]["chunk_text"] == "d e f"
    assert out[(1, 2)]["chunk_text"] == "g"
    assert out[(1, 2)]["n_tokens"] == 1
    assert out[(2, 0)]["chunk_text"] == "x y"
    assert not any(k[0] == 3 for k in out)

    # overlapping: chunk 3, stride 2 over 5 tokens -> starts 0,2,4
    df5 = spark.createDataFrame([Row(doc_id=1, text="a b c d e")])
    got = [r["chunk_text"] for r in
           chunk_documents(df5, chunk_size=3, stride=2)
           .orderBy("chunk_idx").collect()]
    assert got == ["a b c", "c d e", "e"]

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=3, stride=0)


def test_chunk_documents_every_token_covered(spark):
    df = spark.createDataFrame([Row(doc_id=i, text=" ".join(
        f"w{j}" for j in range(i))) for i in range(1, 30)])
    from datacontract_cli_spark.operators.packing import chunk_documents
    chunks = chunk_documents(df, chunk_size=8, stride=5)
    per_doc = {r["doc_id"]: r["n"] for r in
               chunks.groupBy("doc_id").agg(
                   F.countDistinct("chunk_idx").alias("n")).collect()}
    for i in range(1, 30):
        assert per_doc[i] == (i - 1) // 5 + 1  # starts while start < n


def test_quality_gate_composes_with_structured_streaming(spark, tmp_path):
    # the classifier is stateless per-row Column math, so it runs
    # unchanged on a stream (append mode, no state store)
    src = tmp_path / "docs"
    src.mkdir()
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"streaming document {i} about query engines")
         for i in range(20)])
    df.write.parquet(str(src / "p"))
    from datacontract_cli_spark.operators.classifier import (
        quality_gate, quality_scores)
    thr = sorted(r["quality_score"]
                 for r in quality_scores(df).collect())[10]
    stream = spark.readStream.schema(df.schema).parquet(str(src / "p"))
    gated = quality_gate(stream, thr - 1e-9)
    q = (gated.writeStream.outputMode("append").format("memory")
         .queryName("gated_docs").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM gated_docs").collect()}
    want = {r["doc_id"] for r in quality_gate(df, thr - 1e-9).collect()}
    assert got == want and len(got) == 10


def test_pack_sequences_group_cols_keep_bins_pure(spark):
    rows = [Row(doc_id=i, split="train" if i % 2 == 0 else "valid",
                text="w " * 5) for i in range(40)]
    df = spark.createDataFrame(rows)
    from datacontract_cli_spark.operators.packing import pack_sequences
    out = pack_sequences(df, budget=12, group_cols=("split",)).collect()
    per_bin = {}
    for r in out:
        per_bin.setdefault(r["bin_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_bin.values())
    # string bin ids carry the group so they can't collide across groups
    assert all(r["bin_id"].startswith(r["split"] + "/") for r in out)


def test_pack_sequences_keep_cols_returns_full_frame(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, other="x", text="a b c")])
    from datacontract_cli_spark.operators.packing import pack_sequences
    row = pack_sequences(df, budget=10, keep_cols=True).collect()[0]
    assert row["other"] == "x" and row["text"] == "a b c"
    assert row["n_tokens"] == 3 and row["bin_id"] is not None
