"""Freshness/retention service levels end-to-end."""

import datetime as dt

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum


def _contract(freshness="365000 d", retention_value=1, retention_unit="d"):
    return load_contract_str(f"""
id: sla
version: 0.1.0
schema:
  - name: t
    properties:
      - name: ts
        logicalType: timestamp
slaProperties:
  - property: freshness
    value: {freshness.split()[0]}
    unit: {freshness.split()[1]}
    element: t.ts
  - property: retention
    value: {retention_value}
    unit: {retention_unit}
    element: t.ts
""")


def _df(spark, ages_days):
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = [(now - dt.timedelta(days=d),) for d in ages_days]
    return spark.createDataFrame(rows, "ts timestamp")


def test_freshness_passes_within_window(spark):
    run = SparkContractEngine(spark).test(
        _contract(freshness="3 d", retention_value=1, retention_unit="y"),
        tables={"t": _df(spark, [0.5, 1, 2])})
    assert run.check("servicelevel_freshness").result is ResultEnum.passed
    # oldest row is 2 days old < 1 year retention window
    assert run.check("servicelevel_retention").result is ResultEnum.passed


def test_freshness_fails_when_stale(spark):
    run = SparkContractEngine(spark).test(
        _contract(freshness="1 d", retention_value=10, retention_unit="y"),
        tables={"t": _df(spark, [5, 6])})
    c = run.check("servicelevel_freshness")
    assert c.result is ResultEnum.failed
    assert "expected < 86400s" in c.reason
    assert c.diagnostics["value"] > 86400


def test_retention_fails_when_history_too_old(spark):
    # oldest record is 30 days old but retention promises < 7 days of history
    run = SparkContractEngine(spark).test(
        _contract(freshness="365 d", retention_value=7, retention_unit="d"),
        tables={"t": _df(spark, [1, 30])})
    c = run.check("servicelevel_retention")
    assert c.result is ResultEnum.failed
    assert c.diagnostics["metric"] == "retention"


def test_sla_unit_parsing():
    from datacontract_cli_spark.checks.compile import compile_checks
    c = _contract(freshness="2 h", retention_value=1, retention_unit="w")
    checks = {s.key: s for s in compile_checks(c, None)}
    assert checks["servicelevel_freshness"].seconds == 7200
    assert checks["servicelevel_retention"].seconds == 604800


def test_derived_column_expression(spark):
    """Engine extension: Property.expression materializes a computed column
    so drift/range rules can target derived metrics."""
    from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

    contract = load_contract_str("""
id: derived
version: 0.1.0
schema:
  - name: transcripts
    properties:
      - name: text
        logicalType: string
      - name: text_len
        logicalType: number
        expression: length(text)
        logicalTypeOptions:
          minimum: 1
          maximum: 10000
        quality:
          - metric: quantileDriftKs
            mustBeLessThan: 0.5
            arguments:
              baseline:
                cdf: [[30, 0.1], [120, 0.5], [260, 0.95]]
""")
    df = synthesize_transcripts(spark, n_convs=100, turns_per_conv=4)
    run = SparkContractEngine(spark).test(contract, tables={"transcripts": df})
    assert run.check("transcripts__text_len__field_minimum").result is ResultEnum.passed
    ks = run.check("transcripts__text_len__quantile_drift_ks")
    assert ks.result in (ResultEnum.passed, ResultEnum.failed)
    assert ks.diagnostics["value"] is not None

    # the raw source has no text_len, but the contract declares how to
    # compute it and it materialized, so it is present
    pres = run.check("transcripts__text_len__field_is_present")
    assert pres.result is ResultEnum.passed


def test_derived_column_is_present(spark):
    # presence, type and range of a derived column all read the column the
    # contract's expression materialized
    contract = load_contract_str("""
id: derived
version: 0.1.0
schema:
  - name: t
    properties:
      - name: id
        logicalType: integer
      - name: n
        logicalType: integer
      - name: n2
        logicalType: integer
        expression: "n * 2"
        logicalTypeOptions:
          maximum: 3
""")
    df = spark.createDataFrame([(1, 1), (2, 2)], "id long, n long")
    run = SparkContractEngine(spark).test(contract, tables={"t": df})
    assert run.check("t__n2__field_is_present").result is ResultEnum.passed
    assert run.check("t__n2__field_type").result is ResultEnum.passed
    maximum = run.check("t__n2__field_maximum")
    assert maximum.result is ResultEnum.failed
    assert maximum.diagnostics["value"] == 1
