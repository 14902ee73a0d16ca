"""Violation-row sink."""

from pyspark.sql import functions as F

from datacontract_cli_spark.engine.violations import quarantine, violations
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

CONTRACT = """
id: v
version: 0.1.0
schema:
  - name: transcripts
    properties:
      - name: conv_id
        logicalType: string
        required: true
        logicalTypeOptions:
          pattern: "^conv-[0-9]{10}$"
      - name: turn_idx
        logicalType: integer
      - name: role
        logicalType: string
        required: true
        logicalTypeOptions:
          enum: [system, user, assistant, tool]
"""


def test_violations_dataframe(spark):
    contract = load_contract_str(CONTRACT)
    df = synthesize_transcripts(spark, n_convs=200, turns_per_conv=5, defect_rate=0.2)
    bad = violations(df, contract, "transcripts")
    n_bad = bad.count()
    # ground truth: any row with NULL/out-of-enum role or bad conv_id
    expected = df.filter(
        F.col("role").isNull()
        | ~F.col("role").isin("system", "user", "assistant", "tool")
        | ~F.col("conv_id").rlike("^conv-[0-9]{10}$")
    ).count()
    assert n_bad == expected > 0
    # every violating row names at least one check key
    row = bad.first()
    assert len(row["__violations__"]) >= 1
    assert all(k.startswith("transcripts__") for k in row["__violations__"])
    # clean data → empty
    clean = synthesize_transcripts(spark, n_convs=50, turns_per_conv=4)
    assert violations(clean, contract, "transcripts").count() == 0


def test_quarantine_roundtrip(spark, tmp_path):
    contract = load_contract_str(CONTRACT)
    df = synthesize_transcripts(spark, n_convs=100, turns_per_conv=4, defect_rate=0.3)
    out = str(tmp_path / "quarantine")
    n = quarantine(df, contract, "transcripts", out)
    assert n == violations(df, contract, "transcripts").count() > 0
    persisted = spark.read.parquet(out)
    assert "__violations__" in persisted.columns


def test_check_deprecated_snake_case_aliases():
    """Old snake_case names keep working with a DeprecationWarning
    (reference test_run_check_deprecated_fields.py; constructor stays
    camelCase-only in this dataclass model)."""
    import pytest as _pytest

    from datacontract_cli_spark.model.run import Check

    c = Check(key="k", category="quality", type="t", name="n",
              qualityId="orders_not_empty", failedSamples=[{"id": 1}])
    with _pytest.warns(DeprecationWarning, match="quality_id is deprecated"):
        assert c.quality_id == "orders_not_empty"
    with _pytest.warns(DeprecationWarning, match="failed_samples is deprecated"):
        assert c.failed_samples == [{"id": 1}]
    with _pytest.warns(DeprecationWarning):
        c.quality_id = "other"
    with _pytest.warns(DeprecationWarning):
        c.failed_samples = [{"id": 2}]
    assert c.qualityId == "other" and c.failedSamples == [{"id": 2}]
    # serialization uses the canonical camelCase names
    d = c.to_dict()
    assert d["qualityId"] == "other" and d["failedSamples"] == [{"id": 2}]
