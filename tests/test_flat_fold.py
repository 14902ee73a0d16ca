"""The flat metric fold: every scalar metric of a model (counts, quantiles,
KS drift of both baseline kinds) runs in one aggregation query, and a
failing check inside that query errors alone."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark import SparkContractEngine, load_contract_str
from datacontract_cli_spark.operators import drift

_QUANTILES = {"0.25": 249.0, "0.5": 499.0, "0.9": 899.0}
_CDF = [[249.0, 0.25], [499.0, 0.5]]

_FOLD_CONTRACT = """
id: fold
version: 1.0.0
schema:
  - name: m
    properties:
      - name: v
        logicalType: number
        required: true
        quality:
          - type: library
            metric: quantile
            mustBeLessThan: 1000
            arguments: {quantile: 0.5}
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline:
                quantiles: {"0.25": 249.0, "0.5": 499.0, "0.9": 899.0}
                use_tdigest: true
      - name: w
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline:
                cdf: [[249.0, 0.25], [499.0, 0.5]]
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
"""


def _frame(spark):
    return spark.range(0, 1000).select(
        F.col("id").cast("double").alias("v"),
        (F.col("id") % 500).cast("double").alias("w"),
        F.when(F.col("id") % 3 == 0, "x").otherwise("yy").alias("s"))


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_model_scalar_metrics_run_as_one_aggregation(spark):
    df = _frame(spark)
    engine = SparkContractEngine(spark)
    contract = load_contract_str(_FOLD_CONTRACT)
    runs = []
    jobs = _jobs(spark, "flat-fold-engine",
                 lambda: runs.append(engine.test(contract, tables={"m": df})))
    # one aggregation query: a global agg runs as a map-stage job plus a
    # result job under AQE, so compare against a bare one-column agg
    one_agg = _jobs(spark, "flat-fold-bare",
                    lambda: df.agg(F.count(F.lit(1))).collect())
    assert len(jobs) == len(one_agg)

    by_key = {c.key: c for c in runs[0].checks}
    assert by_key["m__row_count"].diagnostics["value"] == 1000
    assert by_key["m__v__quantile_0_5"].diagnostics["value"] == 499.0
    # every baseline point is a quantile of v: exactly zero drift
    ks_v = by_key["m__v__quantile_drift_ks"]
    assert ks_v.result.value == "passed"
    assert ks_v.diagnostics["value"] == 0.0
    ks_w = by_key["m__w__quantile_drift_ks"]
    assert ks_w.result.value == "failed"
    assert ks_w.diagnostics["value"] == pytest.approx(
        drift.ks_statistic(df, "w", {"cdf": _CDF}), abs=1e-9)
    assert ks_w.diagnostics["value"] == pytest.approx(0.5)


def test_folded_check_failures_stay_isolated(spark):
    """A KS on a non-numeric column and a quantile on a missing column each
    get a result with a reason; an invalid regex fails the batch, and the
    per-check retry still evaluates every healthy check — the KS check with
    all of its count-ifs at once."""
    df = _frame(spark)
    contract = load_contract_str("""
id: iso
version: 1.0.0
schema:
  - name: m
    properties:
      - name: v
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline:
                quantiles: {"0.25": 249.0, "0.5": 499.0, "0.9": 899.0}
          - type: library
            metric: quantile
            mustBeLessThan: 1000
            arguments: {quantile: 0.9}
      - name: s
        logicalType: string
        logicalTypeOptions:
          pattern: "(unclosed"
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline:
                quantiles: {"0.5": 1.0}
      - name: gone
        logicalType: number
        quality:
          - type: library
            metric: quantile
            mustBeLessThan: 10
            arguments: {quantile: 0.5}
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
""")
    run = SparkContractEngine(spark).test(contract, tables={"m": df})
    by_key = {c.key: c for c in run.checks}

    bad_ks = by_key["m__s__quantile_drift_ks"]
    assert bad_ks.result.value in ("error", "failed") and bad_ks.reason
    missing = by_key["m__gone__quantile_0_5"]
    assert missing.result.value in ("error", "failed")
    assert "gone" in missing.reason
    bad_regex = by_key["m__s__field_regex"]
    assert bad_regex.result.value in ("error", "failed") and bad_regex.reason

    assert by_key["m__row_count"].result.value == "passed"
    assert by_key["m__row_count"].diagnostics["value"] == 1000
    ks = by_key["m__v__quantile_drift_ks"]
    assert ks.result.value == "passed"
    assert ks.diagnostics["value"] == pytest.approx(drift.ks_statistic(
        df, "v", {"quantiles": _QUANTILES}), abs=1e-6)
    q = by_key["m__v__quantile_0_9"]
    assert q.result.value == "passed" and q.diagnostics["value"] == 899.0


def test_malformed_ks_baseline_is_an_error(spark):
    contract = load_contract_str("""
id: bad
version: 1.0.0
schema:
  - name: m
    properties:
      - name: v
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline: {points: [1, 2]}
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
""")
    run = SparkContractEngine(spark).test(contract, tables={"m": _frame(spark)})
    by_key = {c.key: c for c in run.checks}
    assert by_key["m__v__quantile_drift_ks"].result.value == "error"
    assert "baseline" in by_key["m__v__quantile_drift_ks"].reason
    assert by_key["m__row_count"].result.value == "passed"


def test_every_job_of_a_call_carries_the_callers_job_group(spark):
    """The aggregate, uniqueness, referential-integrity and PSI actions run
    on pool threads; each of their jobs still belongs to the job group the
    caller set, so no job started during the call is untagged."""
    import os

    import yaml

    from datacontract_cli_spark.model.contract import load_contract_str as load
    from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

    path = os.path.join(os.path.dirname(__file__), "fixtures",
                        "transcripts_contract.yaml")
    with open(path) as f:
        doc = yaml.safe_load(f)
    by_name = {p["name"]: p for p in doc["schema"][0]["properties"]}
    by_name["role"]["quality"] = [{
        "type": "library", "metric": "freqDriftPsi", "mustBeLessThan": 0.25,
        "arguments": {"baseline": {"system": 0.25, "user": 0.25,
                                   "assistant": 0.25, "tool": 0.25}}}]
    by_name["conv_id"]["quality"] = [{
        "type": "library", "metric": "referentialIntegrity", "mustBe": 0,
        "arguments": {"ref": "conversations.conv_id"}}]
    doc["schema"].append({"name": "conversations", "properties": [
        {"name": "conv_id", "logicalType": "string"}]})
    contract = load(yaml.safe_dump(doc, sort_keys=False))
    df = synthesize_transcripts(spark, n_convs=300, turns_per_conv=4,
                                defect_rate=0.2)
    tables = {"transcripts": df,
              "conversations": df.select("conv_id").distinct().limit(250)}
    engine = SparkContractEngine(spark, include_failed_samples=True)

    before = _jobs(spark, "job-tags-before", lambda: spark.range(1).collect())
    runs = []
    tagged = _jobs(spark, "job-tags-call",
                   lambda: runs.append(engine.test(contract, tables=tables)))
    after = _jobs(spark, "job-tags-after", lambda: spark.range(1).collect())

    started = set(range(max(before) + 1, min(after)))
    assert started, "the call ran no Spark job"
    assert started == set(tagged), sorted(started - set(tagged))
    by_key = {c.key: c for c in runs[0].checks}
    for key in ("transcripts__row_count", "transcripts__primary_key_unique",
                "transcripts__conv_id__referential_integrity",
                "transcripts__role__freq_drift_psi"):
        assert by_key[key].result.value in ("passed", "failed"), by_key[key]
