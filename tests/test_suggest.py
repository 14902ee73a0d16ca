"""Contract suggestion: profile-driven constraint drafting."""

import os
import subprocess
import sys

import pytest

from pyspark.sql import Row

from datacontract_cli_spark.suggest import suggest_contract


def _props(contract):
    return {p.column: p for p in contract.schema_objects[0].properties}


def test_suggest_on_orders(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    contract, rationale = suggest_contract(spark, df, "orders",
                                           fmt="parquet")
    p = _props(contract)
    # integer key preferred over the (also unique) float totalprice
    assert p["o_orderkey"].primary_key
    assert not p["o_totalprice"].primary_key
    assert p["o_orderstatus"].options["enum"] == ["F", "O", "P"]
    assert p["o_orderkey"].required
    assert p["o_orderkey"].options["minimum"] == 0
    assert "primaryKey" in rationale["o_orderkey"]
    # every suggestion carries evidence
    assert rationale["o_orderstatus"]["enum"].startswith("3 distinct")


def test_suggest_pattern_and_maxlength(spark):
    df = spark.createDataFrame(
        [Row(conv_id=f"conv-{i:010d}", note="x" * (i + 1), n=i)
         for i in range(30)])
    contract, rationale = suggest_contract(spark, df, "t")
    p = _props(contract)
    assert p["conv_id"].options["pattern"] == r"^[A-Za-z]+-[0-9]+$"
    # high-cardinality string, no pattern match → maxLength only
    assert p["note"].options["maxLength"] == 30
    assert "pattern" not in p["note"].options
    assert p["n"].primary_key or p["conv_id"].primary_key


def test_suggest_nullable_column_not_required(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b=None), Row(a=3, b="y")])
    contract, _ = suggest_contract(spark, df, "t")
    p = _props(contract)
    assert p["a"].required and not p["b"].required


def test_suggest_draft_is_testable_roundtrip(spark, tmp_path):
    """The drafted contract must pass `test` against the very data it was
    drafted from (conservative suggestions ⇒ zero violations)."""
    from datacontract_cli_spark import export as _export
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    contract, _ = suggest_contract(spark, df, "customer")
    text = _export.to_odcs_yaml(contract)
    reloaded = load_contract_str(text)
    run = SparkContractEngine(spark).test(reloaded, tables={"customer": df})
    bad = [(c.key, c.result.value, c.reason) for c in run.checks
           if c.result not in (ResultEnum.passed,)]
    assert run.result is ResultEnum.passed, bad


def test_suggest_cli(tmp_path):
    out = tmp_path / "c.yaml"
    r = subprocess.run(
        [sys.executable, "-m", "datacontract_cli_spark", "suggest",
         "--source", "/root/testdata/sf0.001/nation.parquet",
         "--name", "nation", "--output", str(out), "--rationale"],
        capture_output=True, text=True, cwd="/root/repo",
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"})
    assert r.returncode == 0, r.stderr[-2000:]
    text = out.read_text()
    assert "n_nationkey" in text and "required: true" in text
    assert '"required": "0 nulls observed"' in r.stderr


def test_suggest_decimal_column_survives_yaml(spark, tmp_path):
    """Decimal min/max must coerce to YAML-representable scalars
    (yaml.safe_dump cannot represent decimal.Decimal)."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, LongType, StructField, StructType

    from datacontract_cli_spark import export as _export

    schema = StructType([StructField("id", LongType()),
                         StructField("amount", DecimalType(12, 2))])
    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.50")) for i in range(10)], schema)
    contract, _ = suggest_contract(spark, df, "t")
    p = _props(contract)
    assert p["amount"].options["minimum"] == 0.5
    assert p["amount"].options["maximum"] == 9.5
    text = _export.to_odcs_yaml(contract)  # must not raise RepresenterError
    assert "amount" in text


def test_suggest_baselines_roundtrip_green(spark):
    """--baselines drift rules drafted FROM the data must pass against the
    same data (PSI ~ 0, KS ~ 0), surviving the YAML round-trip."""
    from datacontract_cli_spark import export as _export
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    contract, rationale = suggest_contract(spark, df, "events",
                                           drift_baselines=True)
    p = _props(contract)
    psi_rules = [q for q in p["event_type"].quality
                 if q.metric == "freqDriftPsi"]
    assert psi_rules and psi_rules[0].arguments["baseline"]
    ks_rules = [q for q in p["value"].quality if q.metric == "quantileDriftKs"]
    assert ks_rules and ks_rules[0].arguments["baseline"]["cdf"]
    assert "freqDriftPsi" in rationale["event_type"]

    reloaded = load_contract_str(_export.to_odcs_yaml(contract))
    run = SparkContractEngine(spark).test(reloaded, tables={"events": df})
    drift_checks = [c for c in run.checks
                    if c.type in ("freq_drift_psi", "quantile_drift_ks")]
    assert drift_checks, [c.key for c in run.checks]
    bad = [(c.key, c.result.value, c.reason) for c in drift_checks
           if c.result is not ResultEnum.passed]
    assert not bad, bad


def test_cdf_baseline_records_empirical_cdf_on_point_masses(spark):
    # zero-inflated column: q(0.05) = 0.0 but F(0.0) = 0.4 — the recorded
    # probability must be the empirical CDF so self-KS is exactly 0
    from pyspark.sql import functions as F
    from datacontract_cli_spark.operators.baselines import cdf_baseline
    from datacontract_cli_spark.operators.drift import ks_statistic
    df = spark.createDataFrame(
        [(0.0,)] * 40 + [(float(i),) for i in range(1, 61)], "value double")
    base = cdf_baseline(df, "value", round_to=6)
    by_x = dict((x, p) for x, p in base["cdf"])
    assert by_x[0.0] == pytest.approx(0.4, abs=1e-9)
    assert ks_statistic(df, "value", base) == pytest.approx(
        0.0, abs=1e-9)


def test_cdf_baseline_rounding_cannot_shift_below_point_mass(spark):
    # a repeated fine-precision value: rounding the probe must happen
    # BEFORE the empirical pass, so the stored p matches the stored probe
    from datacontract_cli_spark.operators.baselines import cdf_baseline
    from datacontract_cli_spark.operators.drift import ks_statistic
    v = 0.3333333333
    df = spark.createDataFrame(
        [(v,)] * 30 + [(1.0 + i / 100.0,) for i in range(70)], "value double")
    base = cdf_baseline(df, "value", round_to=6)
    assert ks_statistic(df, "value", base) == pytest.approx(
        0.0, abs=1e-9)
