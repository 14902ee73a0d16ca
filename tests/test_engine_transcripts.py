"""Layer-2 end-to-end: run the contract engine against synthetic transcripts."""

import os

import pytest

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

HERE = os.path.dirname(__file__)


@pytest.fixture(scope="module")
def contract():
    return load_contract(os.path.join(HERE, "fixtures", "transcripts_contract.yaml"))


def test_clean_transcripts_all_pass(spark, contract):
    df = synthesize_transcripts(spark, n_convs=200, turns_per_conv=8)
    run = SparkContractEngine(spark).test(contract, tables={"transcripts": df})
    assert len(run.checks) == 22
    failed = [c for c in run.checks if c.result not in (ResultEnum.passed,)]
    assert failed == [], [(c.key, c.result, c.reason) for c in failed]
    assert run.result is ResultEnum.passed


def test_defective_transcripts_fail_expected_checks(spark, contract):
    df = synthesize_transcripts(spark, n_convs=200, turns_per_conv=8, defect_rate=0.2)
    engine = SparkContractEngine(spark, include_failed_samples=True)
    run = engine.test(contract, tables={"transcripts": df})
    by_key = {c.key: c for c in run.checks}

    role_required = by_key["transcripts__role__field_required"]
    assert role_required.result is ResultEnum.failed
    assert role_required.diagnostics["value"] > 0
    assert role_required.diagnostics["row_count"] == 1600
    assert 0 < role_required.diagnostics["failed_fraction"] < 1

    role_enum = by_key["transcripts__role__field_enum"]
    assert role_enum.result is ResultEnum.failed
    # NULL roles are missing, not invalid: invalid_count counts only 'robot'
    assert role_enum.diagnostics["constraint"] == {
        "valid_values": ["system", "user", "assistant", "tool"]
    }

    pk = by_key["transcripts__primary_key_unique"]
    assert pk.result is ResultEnum.failed
    assert pk.diagnostics["value"] > 0
    assert pk.failedSamples is not None and len(pk.failedSamples) <= 5

    pattern = by_key["transcripts__conv_id__field_regex"]
    assert pattern.result is ResultEnum.failed  # orphan- prefix breaks the regex

    assert run.result is ResultEnum.failed


def test_failed_samples_are_stable_and_capped(spark, contract):
    df = synthesize_transcripts(spark, n_convs=100, turns_per_conv=8, defect_rate=0.3)
    engine = SparkContractEngine(spark, include_failed_samples=True)
    run1 = engine.test(contract, tables={"transcripts": df})
    run2 = engine.test(contract, tables={"transcripts": df})
    c1 = run1.check("transcripts__conv_id__field_regex")
    c2 = run2.check("transcripts__conv_id__field_regex")
    assert c1.failedSamples == c2.failedSamples  # deterministic ordering
    assert len(c1.failedSamples) <= 5


def test_row_filter_scopes_scan_checks(spark, contract):
    df = synthesize_transcripts(spark, n_convs=50, turns_per_conv=8, defect_rate=0.3)
    engine = SparkContractEngine(spark)
    # restrict to rows whose role is valid → enum check passes under filter
    run = engine.test(
        contract,
        tables={"transcripts": df},
        filters=["role IS NOT NULL AND role IN ('system','user','assistant','tool')"],
    )
    assert run.check("transcripts__role__field_enum").result is ResultEnum.passed
    assert run.check("transcripts__role__field_required").result is ResultEnum.passed


def test_bad_row_filter_errors_not_fails(spark, contract):
    df = synthesize_transcripts(spark, n_convs=10, turns_per_conv=4)
    run = SparkContractEngine(spark).test(
        contract, tables={"transcripts": df}, filters=["no_such_column > 1"]
    )
    rc = run.check("transcripts__row_count")
    assert rc.result is ResultEnum.error
    # schema checks are not subject to row filters
    assert run.check("transcripts__conv_id__field_is_present").result is ResultEnum.passed
    assert run.result is ResultEnum.error


def test_missing_model_errors(spark, contract):
    run = SparkContractEngine(spark).test(contract, tables={"other": synthesize_transcripts(spark, 2, 2)})
    assert all(c.result is ResultEnum.error for c in run.checks if c.model == "transcripts")


def test_merged_dup_samples_match_direct_query(spark, contract):
    """The dup samples riding the uniqueness query (executor.py
    _uniqueness_query, the sample branch on duplicate_groups' grouping)
    must equal a direct groupBy/filter/orderBy/limit query."""
    from pyspark.sql import functions as F

    df = synthesize_transcripts(spark, n_convs=150, turns_per_conv=6,
                                defect_rate=0.25)
    engine = SparkContractEngine(spark, include_failed_samples=True)
    run = engine.test(contract, tables={"transcripts": df})
    pk = run.check("transcripts__primary_key_unique")
    assert pk.result is ResultEnum.failed

    expected = [
        {**r.asDict()}
        for r in (df.groupBy("conv_id", "turn_idx")
                  .agg(F.count(F.lit(1)).alias("duplicate_count"))
                  .filter(F.col("duplicate_count") > 1)
                  .orderBy("conv_id", "turn_idx")
                  .limit(5)
                  .collect())
    ]
    assert pk.failedSamples == expected


def test_batched_violation_samples_match_per_check_query(spark, contract):
    """Several failed checks' samples collected in ONE union job must equal
    each check's dedicated filter/orderBy/limit result, including NULL
    violating columns (to_json drops null fields; the engine restores
    them)."""
    from pyspark.sql import functions as F

    df = synthesize_transcripts(spark, n_convs=150, turns_per_conv=6,
                                defect_rate=0.25)
    engine = SparkContractEngine(spark, include_failed_samples=True)
    run = engine.test(contract, tables={"transcripts": df})

    required = run.check("transcripts__role__field_required")
    assert required.result is ResultEnum.failed
    expected_required = [
        r.asDict()
        for r in (df.filter(F.col("role").isNull())
                  .select("conv_id", "turn_idx", "role")
                  .orderBy("conv_id", "turn_idx")
                  .limit(5).collect())
    ]
    assert required.failedSamples == expected_required
    assert all("role" in s and s["role"] is None
               for s in required.failedSamples)

    regex = run.check("transcripts__conv_id__field_regex")
    assert regex.result is ResultEnum.failed
    expected_regex = [
        r.asDict()
        for r in (df.filter(F.col("conv_id").isNotNull()
                            & ~F.col("conv_id").rlike("^conv-[0-9]{10}$"))
                  .select("conv_id", "turn_idx")
                  .orderBy("conv_id", "turn_idx")
                  .limit(5).collect())
    ]
    assert regex.failedSamples == expected_regex


def test_sample_rendering_is_path_independent_for_timestamps(spark):
    """Timestamp values in failedSamples must render identically whether
    two checks fail or one, and as Python str() renders them."""
    import datetime as dt

    from pyspark.sql import Row

    from datacontract_cli_spark.model.contract import load_contract_str

    c_yaml = """
id: t
version: 0.1.0
schema:
  - name: ev
    properties:
      - name: ts
        logicalType: timestamp
        primaryKey: true
        primaryKeyPosition: 1
      - name: a
        logicalType: string
        required: true
      - name: b
        logicalType: integer
        logicalTypeOptions:
          minimum: 0
"""
    rows = [Row(ts=dt.datetime(2026, 1, 1, 12, 0, i), a=None if i < 3 else "x",
                b=-1 if i < 3 else 1) for i in range(10)]
    df = spark.createDataFrame(rows)
    contract = load_contract_str(c_yaml)
    engine = SparkContractEngine(spark, include_failed_samples=True)
    # batched path: two failed checks
    run2 = engine.test(contract, tables={"ev": df})
    a2 = run2.check("ev__a__field_required").failedSamples
    # per-check path: drop the 'b' constraint rows so only 'a' fails
    contract_one = load_contract_str(c_yaml.replace(
        "        logicalTypeOptions:\n          minimum: 0\n", ""))
    run1 = SparkContractEngine(spark, include_failed_samples=True).test(
        contract_one, tables={"ev": df})
    a1 = run1.check("ev__a__field_required").failedSamples
    assert a1 == a2
    # the legacy str(datetime) rendering, not ISO-T
    assert a1[0]["ts"] == "2026-01-01 12:00:00"


def test_sample_rendering_is_independent_of_failure_count_for_structs(spark):
    """A struct identifier column renders the same in a failing check's
    samples whether one check fails or two: every failing check's samples
    come from the one batched sample query."""
    from datacontract_cli_spark.model.contract import load_contract_str

    c_yaml = """
id: t
version: 0.1.0
schema:
  - name: ev
    properties:
      - name: meta
        unique: true
      - name: x
        logicalType: integer
        logicalTypeOptions:
          minimum: 0
      - name: y
        logicalType: string
        required: true
"""
    df = spark.createDataFrame(
        [((1, "a"), -1, None), ((2, "b"), 3, "ok"), ((3, "c"), -2, "ok")],
        "meta struct<k:int,v:string>, x int, y string")
    engine = SparkContractEngine(spark, include_failed_samples=True)
    two = engine.test(load_contract_str(c_yaml), tables={"ev": df})
    assert two.check("ev__y__field_required").result is ResultEnum.failed
    one = engine.test(load_contract_str(c_yaml.replace(
        "        required: true\n", "")), tables={"ev": df})
    assert one.check("ev__y__field_required") is None
    samples = one.check("ev__x__field_minimum").failedSamples
    assert samples == two.check("ev__x__field_minimum").failedSamples
    assert samples == [{"meta": "{'k': 1, 'v': 'a'}", "x": -1},
                       {"meta": "{'k': 3, 'v': 'c'}", "x": -2}]
