"""End-to-end curation pipeline: every training-data operator composed in
the canonical C4/CCNet order, on a corpus engineered to exercise each
stage exactly once."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.pipeline import CurationReport, curate_corpus


def _corpus(spark):
    base = ("large language models learn from carefully curated text "
            "corpora with diverse high quality content across many domains")
    near = base.replace("many domains", "several domains")
    rows = [
        (1, base),                        # keeps (cluster representative)
        (2, base),                        # exact dup of 1 -> dropped
        (3, near),                        # near dup of 1 -> dropped
        (4, "the secret eval answer is forty two exactly as printed here"),
        #    ^ contaminated vs the benchmark below -> dropped
        (5, "spam spam spam spam spam spam spam spam spam spam"),
        #    ^ repetition ratio ~1 -> dropped
        (6, "too short"),                 # token floor -> dropped
        (7, "contact me at alice@example.com for the full curated dataset "
            "of high quality diverse text content"),   # keeps, PII scrubbed
        (8, "completely unrelated technical document about distributed "
            "query engines and shuffle optimization strategies"),  # keeps
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_end_to_end(spark):
    docs = _corpus(spark)
    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")],
        "doc_id long, text string")
    report = CurationReport()
    out = curate_corpus(
        docs,
        benchmark=bench,
        min_tokens=5,
        max_repetition=0.5,
        near_dup_threshold=0.7,
        split_weights={"train": 0.8, "valid": 0.2},
        report=report,
    ).collect()

    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 7, 8]
    by_id = {r["doc_id"]: r for r in out}
    # PII scrubbed in place
    assert "alice@example.com" not in by_id[7]["text"]
    assert "[PII]" in by_id[7]["text"]
    # deterministic split column present
    assert all(r["split"] in ("train", "valid") for r in out)

    stages = {s["stage"]: s["rows"] for s in report.to_rows()}
    assert stages["input"] == 8
    assert stages["exact_dedup"] == 7          # doc 2 out
    assert stages["near_dedup"] == 6           # doc 3 out
    assert stages["decontaminated"] == 5       # doc 4 out
    assert stages["heuristic_quality"] == 3    # docs 5, 6 out


def test_curate_corpus_lm_stage(spark):
    docs = spark.createDataFrame([
        (1, "distributed query engines optimize shuffle heavy workloads"),
        (2, "zzz qqq vvv kkk www yyy xxx jjj uuu ooo"),
    ], "doc_id long, text string")
    ref = spark.createDataFrame(
        [(0, "distributed query engines optimize shuffle workloads " * 3)],
        "doc_id long, text string")
    from datacontract_cli_spark.operators import lm_score
    lm = lm_score.fit_unigram_lm(ref)
    scores = {r["doc_id"]: r["perplexity"]
              for r in lm_score.score_documents(docs, lm).collect()}
    cut = (scores[1] + scores[2]) / 2
    out = curate_corpus(docs, lm_corpus=ref, max_perplexity=cut,
                        min_tokens=2, scrub_pii=False)
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_curate_corpus_leaves_no_cache(spark, tmp_path):
    # every stage that caches (LSH signatures and pairs, connected
    # components, the LM vocabulary) releases it before the call returns;
    # what the returned plan still needs is a local checkpoint
    from datacontract_cli_spark.model.contract import load_contract_str
    contract = load_contract_str("""
id: docs
version: 1.0.0
schema:
  - name: documents
    properties:
      - name: doc_id
        logicalType: integer
        required: true
      - name: text
        logicalType: string
        required: true
""")
    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")],
        "doc_id long, text string")
    ref = spark.createDataFrame(
        [(0, "large language models learn from curated text corpora")],
        "doc_id long, text string")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = curate_corpus(_corpus(spark), contract=contract, benchmark=bench,
                        lm_corpus=ref, max_perplexity=1e9,
                        classifier_threshold=0.0, min_tokens=5,
                        near_dup_threshold=0.7)
    out.write.parquet(str(tmp_path / "curated"))
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(str(tmp_path / "curated")).collect()) \
        == [1, 7, 8]
    assert cache.isEmpty()


def test_curate_corpus_report_optional_and_deterministic(spark):
    # without a report the same frame comes back (no per-stage counts),
    # and re-running on any input partitioning yields the identical
    # curated rows, split included
    docs = _corpus(spark)
    kw = dict(min_tokens=5, near_dup_threshold=0.7,
              split_weights={"train": 0.8, "valid": 0.2})
    a, b, c = (sorted(map(tuple, curate_corpus(d, **kw).collect()))
               for d in (docs, docs.repartition(5), docs.coalesce(1)))
    assert a == b == c
    assert [r[0] for r in a] == [1, 4, 7, 8]  # no benchmark -> doc 4 stays


@pytest.mark.parametrize("stages", [{}, {"line_dedup_min_len": 10}])
def test_minhash_kernel_input_is_core_count_wide(spark, monkeypatch, stages):
    # exact dedup shuffles to defaultParallelism partitions and the minhash
    # kernel takes the partitioning it is given, so a one-partition input
    # still hashes on every core, on the line-dedup join path too
    from datacontract_cli_spark.operators import dedup
    widths = []
    kernel = dedup.minhash_signatures_arrow

    def spy(df, *args, **kwargs):
        widths.append(df.rdd.getNumPartitions())
        return kernel(df, *args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_signatures_arrow", spy)
    curate_corpus(_corpus(spark).coalesce(1), min_tokens=5,
                  near_dup_threshold=0.7, **stages)
    assert widths == [spark.sparkContext.defaultParallelism]


def test_curate_corpus_new_stages(spark):
    # classifier gate + mixture resampling + packing compose after the
    # content filters; sources drive the mixture, bin_id lands last
    rows = [(i, "web",
             f"document number {i} about distributed query engines and "
             "shuffle optimization across many diverse domains")
            for i in range(40)]
    rows += [(100 + i, "books",
              f"chapter {i} of a long book about carefully curated text "
              "corpora with diverse high quality content")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    report = CurationReport()
    out = curate_corpus(
        docs,
        min_tokens=3,
        # all-positive trained weights -> every doc scores sigmoid(0.7):
        # the gate keeps everything at 0.6 and drops everything at 0.7
        classifier_threshold=0.6,
        classifier_weights=[0.7] * 64,
        scrub_pii=False,
        mixture_targets={"web": 0.5, "books": 0.5},
        mixture_frac=0.4,
        pack_budget=64,
        report=report,
    )
    got = out.collect()
    stages = {s["stage"]: s["rows"] for s in report.to_rows()}
    assert stages["classifier_quality"] == stages["heuristic_quality"]
    assert stages["mixture"] < stages["classifier_quality"]  # subsampled
    # books (minority source, upweighted to 0.5 target) keeps all 10
    kept_sources = {r["source"] for r in got}
    assert "books" in kept_sources
    # every surviving row got a bin id, and bins respect the budget + one
    # boundary doc guarantee
    assert all(r["bin_id"] is not None for r in got)

    all_dropped = curate_corpus(
        docs, min_tokens=3, classifier_threshold=0.75,
        classifier_weights=[0.7] * 64, scrub_pii=False)
    assert all_dropped.count() == 0


def test_curate_corpus_checkpoint_resume(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    docs = _corpus(spark)
    first = sorted(r["doc_id"] for r in curate_corpus(
        docs, min_tokens=5, near_dup_threshold=0.7,
        checkpoint_dir=ckpt).collect())

    # resume: feed POISONED input — if the near_dedup checkpoint is
    # really used, the poisoned rows never appear (upstream is skipped)
    poisoned = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit(" poison poison")))
    resumed = sorted(r["doc_id"] for r in curate_corpus(
        poisoned, min_tokens=5, near_dup_threshold=0.7,
        checkpoint_dir=ckpt).collect())
    assert resumed == first

    # a changed parameter hashes to a different checkpoint namespace, so
    # the poisoned input IS recomputed (doc 5's repetition now passes 0.96)
    recomputed = sorted(r["doc_id"] for r in curate_corpus(
        poisoned, min_tokens=5, near_dup_threshold=0.7,
        max_repetition=0.96, checkpoint_dir=ckpt).collect())
    assert recomputed != first


def test_curate_corpus_checkpoint_partial_stage_set(spark, tmp_path):
    import os
    import shutil
    ckpt = str(tmp_path / "ckpt2")
    docs = _corpus(spark)
    kw = dict(min_tokens=5, near_dup_threshold=0.7, checkpoint_dir=ckpt,
              checkpoint_stages=("near_dedup", "heuristic_quality"))
    first = sorted(r["doc_id"] for r in
                   curate_corpus(docs, **kw).collect())
    run_dir = os.path.join(ckpt, os.listdir(ckpt)[0])
    assert sorted(os.listdir(run_dir)) == ["heuristic_quality", "near_dedup"]
    # drop the later checkpoint: the run resumes from near_dedup and
    # rebuilds only the downstream stage
    shutil.rmtree(os.path.join(run_dir, "heuristic_quality"))
    again = sorted(r["doc_id"] for r in curate_corpus(docs, **kw).collect())
    assert again == first
    assert "heuristic_quality" in os.listdir(run_dir)


def test_curate_corpus_contract_conformance_stage(spark):
    from datacontract_cli_spark.model.contract import load_contract_str
    contract = load_contract_str("""
id: docs
version: 1.0.0
schema:
  - name: documents
    properties:
      - name: doc_id
        logicalType: integer
        required: true
      - name: lang
        logicalType: string
        logicalTypeOptions:
          enum: [en, de]
      - name: text
        logicalType: string
        required: true
""")
    docs = spark.createDataFrame([
        (1, "en", "high quality curated text content with many tokens"),
        (2, "xx", "wrong language code so the enum check drops this row"),
        (None, "en", "missing id so the required check drops this row"),
        (4, "de", "noch ein gutes dokument mit ausreichend vielen tokens"),
    ], "doc_id long, lang string, text string")
    report = CurationReport()
    out = curate_corpus(docs, contract=contract, min_tokens=3,
                        scrub_pii=False, report=report)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 4]
    stages = {s["stage"]: s["rows"] for s in report.to_rows()}
    assert stages["contract_conformance"] == 2


def test_conforming_is_the_complement_of_violations(spark):
    from datacontract_cli_spark.engine.violations import conforming, violations
    from datacontract_cli_spark.model.contract import load_contract_str
    contract = load_contract_str("""
id: docs
version: 1.0.0
schema:
  - name: documents
    properties:
      - name: doc_id
        logicalType: integer
        required: true
      - name: n_chars
        logicalType: integer
        logicalTypeOptions:
          minimum: 0
""")
    docs = spark.createDataFrame(
        [(1, 10), (2, -5), (None, 3)], "doc_id long, n_chars long")
    good = {tuple(r) for r in conforming(docs, contract, "documents")
            .collect()}
    bad = {tuple(r)[:2] for r in violations(docs, contract, "documents")
           .collect()}
    assert good == {(1, 10)}
    assert bad == {(2, -5), (None, 3)}
    assert len(good) + len(bad) == 3


def test_curate_corpus_line_dedup_stage(spark):
    boiler = "subscribe to our newsletter for updates and offers today"
    rows = [
        (1, f"{boiler}\nunique technical content about query planning "
            f"and shuffle optimization strategies"),
        (2, f"{boiler}\ncompletely different article on distributed "
            f"storage systems and replication protocols"),
        (3, boiler),  # nothing but boilerplate -> stripped empty -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    report = CurationReport()
    out = curate_corpus(docs, line_dedup_min_len=10, min_tokens=3,
                        scrub_pii=False, report=report).collect()
    by_id = {r["doc_id"]: r["text"] for r in out}
    assert sorted(by_id) == [1, 2]
    # doc 1 owns the boilerplate's first occurrence and keeps it
    assert by_id[1].startswith(boiler)
    # doc 2 loses the boilerplate line, keeps its own content
    assert boiler not in by_id[2]
    assert by_id[2].startswith("completely different")
    stages = {s["stage"]: s["rows"] for s in report.to_rows()}
    assert stages["line_dedup"] == 2


def test_curate_corpus_line_dedup_checkpoint_resume(spark, tmp_path):
    boiler = "copyright two thousand twenty six all rights reserved inc"
    docs = spark.createDataFrame(
        [(i, f"{boiler}\ndocument number {i} body content with enough "
             f"tokens to pass the floor") for i in range(6)],
        "doc_id long, text string")
    ck = str(tmp_path / "ck")
    a = curate_corpus(docs, line_dedup_min_len=10, scrub_pii=False,
                      checkpoint_dir=ck).collect()
    b = curate_corpus(docs, line_dedup_min_len=10, scrub_pii=False,
                      checkpoint_dir=ck).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # only doc 0 keeps the boilerplate line
    texts = {r["doc_id"]: r["text"] for r in a}
    assert texts[0].startswith(boiler)
    assert all(boiler not in texts[i] for i in range(1, 6))


def test_curate_corpus_collapse_and_span_stages(spark):
    """collapse_lines squashes within-doc repeated lines; dedup_spans
    cuts a shared verbatim passage from all but the first doc — both
    ride the chain and record their report rows."""
    passage = ("a long shared verbatim passage repeated across docs "
               "that the span stage must cut exactly once per survivor")
    rows = [
        (1, "nav nav bar\nnav nav bar\n" + passage
            + "\nunique technical body about join strategies and "
              "partition pruning in distributed engines"),
        (2, passage + "\ncompletely different content on replication "
                      "protocols and consensus with plenty of words"),
        (3, "standalone article with sufficient tokens to clear the "
            "quality gates and no duplication anywhere at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    report = CurationReport()
    out = curate_corpus(docs, min_tokens=3, scrub_pii=False,
                        collapse_lines=True,
                        dedup_spans_min_len=len(passage) - 10,
                        near_dup_threshold=0.95,
                        report=report).collect()
    by_id = {r["doc_id"]: r["text"] for r in out}
    assert sorted(by_id) == [1, 2, 3]
    # within-doc repeated nav line collapsed to one
    assert by_id[1].count("nav nav bar") == 1
    # doc 1 (lowest id) keeps the passage; doc 2 loses it
    assert passage in by_id[1]
    assert passage not in by_id[2]
    assert "completely different content" in by_id[2]
    assert by_id[3] == rows[2][1]
    stages = {s["stage"]: s["rows"] for s in report.to_rows()}
    assert stages["collapse_lines"] == 3
    assert stages["dedup_spans"] == 3
