"""Regression tests for the round-1 ADVICE findings.

1. legacy DCS ``servicelevels`` mapping (reference dcs_importer._convert_servicelevels:669-775)
2. retention unit table distinct from freshness ('m' = months, ISO-8601 durations)
   (reference engines/checks/create_checks.py:857-898)
3. batched-aggregation error isolation (reference ibis_check_execute.py:294-318)
4. remote-URI model path resolution (no os.path.exists probe on s3://...)
5. JUnit attribute quoting for values containing double quotes
"""

import datetime as dt
import xml.etree.ElementTree as ET

from datacontract_cli_spark.checks.compile import (
    _parse_iso8601_to_seconds,
    _retention_seconds,
    compile_checks,
)
from datacontract_cli_spark.checks.spec import MetricType
from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import Server, load_contract_str
from datacontract_cli_spark.model.run import Check, ResultEnum, Run
from datacontract_cli_spark.output.writers import write_junit
from datacontract_cli_spark.sources.readers import _model_path


LEGACY = """
dataContractSpecification: 1.2.0
id: legacy-sla
info:
  title: Legacy
  version: 1.0.0
models:
  orders:
    type: table
    fields:
      ts:
        type: timestamp
servicelevels:
  availability:
    description: 99.9% uptime
  retention:
    period: P1Y
    timestampField: orders.ts
  freshness:
    threshold: 25h
    timestampField: orders.ts
  latency:
    threshold: P1D
    sourceTimestampField: orders.ts
  frequency:
    interval: daily
  support:
    time: 9am to 5pm
  backup:
    cron: 0 0 * * *
"""


def test_legacy_servicelevels_mapping_parses():
    c = load_contract_str(LEGACY)
    by_prop = {s.property: s for s in c.sla_properties}
    assert by_prop["generalAvailability"].value == "99.9% uptime"
    assert by_prop["retention"].value == "P1Y"
    assert by_prop["retention"].element == "orders.ts"
    assert by_prop["freshness"].value == 25
    assert by_prop["freshness"].unit == "h"
    assert by_prop["freshness"].element == "orders.ts"
    assert by_prop["latency"].value == 1 and by_prop["latency"].unit == "d"
    assert by_prop["frequency"].value == "daily"
    assert by_prop["support"].value == "9am to 5pm"
    assert by_prop["backup"].value == "0 0 * * *"


def test_legacy_servicelevels_compile_to_checks():
    c = load_contract_str(LEGACY)
    checks = compile_checks(c)
    ret = [s for s in checks if s.type == "servicelevel_retention"]
    fresh = [s for s in checks if s.type == "servicelevel_freshness"]
    assert len(ret) == 1 and ret[0].seconds == 365 * 86400  # P1Y
    assert len(fresh) == 1 and fresh[0].seconds == 25 * 3600


def test_retention_units_reference_semantics():
    # 'm' means MONTHS for retention (reference), not minutes
    assert _retention_seconds(2, "m") == 2 * 30 * 86400
    assert _retention_seconds(2, "mo") == 2 * 30 * 86400
    assert _retention_seconds(3, "min") == 180
    assert _retention_seconds(1, "y") == 365 * 86400
    assert _retention_seconds(5, "d") == 5 * 86400
    assert _retention_seconds(1, "nonsense") is None
    # ISO-8601 duration strings
    assert _retention_seconds("P1Y", None) == 365 * 86400
    assert _retention_seconds("P2M", None) == 60 * 86400
    assert _retention_seconds("PT6H", None) == 6 * 3600
    assert _parse_iso8601_to_seconds("PT15M") == 900
    assert _parse_iso8601_to_seconds("bogus") is None


def test_bad_regex_fails_only_affected_check(spark):
    # an invalid regex pattern raises inside rlike at EXECUTION time; the other
    # checks in the same batched aggregation must still evaluate
    contract = load_contract_str("""
id: errisolation
version: 0.1.0
schema:
  - name: t
    properties:
      - name: a
        logicalType: string
        logicalTypeOptions:
          pattern: '([unclosed'
      - name: b
        logicalType: integer
        required: true
""")
    df = spark.createDataFrame([("x", 1), ("y", None)], "a string, b int")
    run = SparkContractEngine(spark).test(contract, tables={"t": df})
    bad = [c for c in run.checks if "a" == (c.field or "") and "pattern" in (c.reason or "").lower()
           or (c.field == "a" and c.result is ResultEnum.error)]
    # the regex check errored...
    assert any(c.result is ResultEnum.error for c in run.checks), \
        [(c.key, c.result, c.reason) for c in run.checks]
    # ...but the required check on b still evaluated (1 missing of 2 rows)
    required_b = [c for c in run.checks if c.field == "b" and "required" in c.key or
                  (c.field == "b" and c.result in (ResultEnum.failed, ResultEnum.passed))]
    assert any(c.result is ResultEnum.failed for c in run.checks if c.field == "b"), \
        [(c.key, c.result, c.reason) for c in run.checks]
    # run did not abort: every compiled check has a result (no None)
    assert all(c.result is not None for c in run.checks)


def test_remote_model_path_no_probe():
    s = Server(server="prod", type="s3", format="parquet", path="s3://bucket/data")
    assert _model_path(s, "orders", "parquet") == "s3://bucket/data/orders.parquet"
    s2 = Server(server="prod", type="s3", format="parquet", path="s3://bucket/data/orders.parquet")
    assert _model_path(s2, "orders", "parquet") == "s3://bucket/data/orders.parquet"
    s3 = Server(server="prod", type="s3", format="parquet", path="s3://bucket/data/*.parquet")
    assert _model_path(s3, "orders", "parquet") == "s3://bucket/data/*.parquet"
    s4 = Server(server="prod", type="s3", format="parquet", path="s3://bucket/{model}/v1")
    assert _model_path(s4, "orders", "parquet") == "s3://bucket/orders/v1"


def test_junit_quotes_in_attributes():
    run = Run(dataContractId="junit", dataContractVersion="1")
    run.checks.append(Check(key="k1", category="schema", type="enum",
                            name='enum must be in ("a", "b")', model="m",
                            result=ResultEnum.failed, reason='value "c" not in set ("a", "b")'))
    run.finish()
    xml = write_junit(run)
    # must parse, and the quoted strings must round-trip
    root = ET.fromstring(xml)
    case = root.find(".//testcase")
    assert '("a", "b")' in case.get("name")
    failure = case.find("failure")
    assert 'value "c" not in set' in failure.get("message")


def test_merged_agg_dup_equivalent_to_separate(spark):
    """A model with both aggregate and uniqueness checks: the flat
    aggregate (with its freshness/retention folds) and the keys-only
    uniqueness job give the hand-computed values, diagnostics and
    samples."""
    import datetime as dt

    contract = load_contract_str("""
id: merged
version: 0.1.0
schema:
  - name: t
    properties:
      - name: k
        logicalType: string
        required: true
        primaryKey: true
      - name: i
        logicalType: integer
        primaryKey: true
        logicalTypeOptions:
          minimum: 0
      - name: ts
        logicalType: timestamp
slaProperties:
  - property: freshness
    value: 100000
    unit: d
    element: t.ts
  - property: retention
    value: 100000
    unit: d
    element: t.ts
""")
    now = dt.datetime(2026, 1, 1)
    rows = [("a", 1, now), ("a", 1, now), ("b", -2, now),
            ("b", 2, None), (None, 3, now), ("c", 1, now)]
    df = spark.createDataFrame(rows, "k string, i int, ts timestamp")

    eng = SparkContractEngine(spark, include_failed_samples=True)
    merged = eng.test(contract, tables={"t": df})

    # force the separate path by removing the PK (adding an impossible
    # column would change semantics); instead compare against hand truths
    by = {c.key: c for c in merged.checks}
    assert by["t__k__field_required"].diagnostics["value"] == 1      # one null k
    assert by["t__i__field_minimum"].diagnostics["value"] == 1       # -2
    assert by["t__primary_key_unique"].diagnostics["value"] == 1     # ('a',1) x2
    assert by["t__primary_key_unique"].result is ResultEnum.failed
    samples = by["t__primary_key_unique"].failedSamples
    assert samples == [{"k": "a", "i": 1, "duplicate_count": 2}]
    assert by["servicelevel_freshness"].result is ResultEnum.passed
    assert by["servicelevel_retention"].result is ResultEnum.passed


def test_merged_path_falls_back_on_bad_constraint(spark):
    """A bad regex fails the batched aggregate, whose per-check retry
    errors only the affected check; the uniqueness check, a job of its
    own, still evaluates."""
    contract = load_contract_str("""
id: mergederr
version: 0.1.0
schema:
  - name: t
    properties:
      - name: k
        logicalType: string
        primaryKey: true
        logicalTypeOptions:
          pattern: '([unclosed'
      - name: b
        logicalType: integer
        required: true
""")
    df = spark.createDataFrame([("x", 1), ("x", None)], "a string, b int")
    df = df.withColumnRenamed("a", "k")
    run = SparkContractEngine(spark).test(contract, tables={"t": df})
    by = {c.key: c for c in run.checks}
    assert by["t__k__field_regex"].result is ResultEnum.error
    assert by["t__b__field_required"].result is ResultEnum.failed
    assert by["t__k__field_primary_key_unique"].result is ResultEnum.failed  # 'x' twice
    assert by["t__k__field_primary_key_unique"].diagnostics["value"] == 1


def test_merged_path_empty_table(spark):
    """Empty input: counts are 0, SLAs report no timestamp — not a crash
    (the duplicate-group fold's sum is NULL over zero groups, unlike plain
    count)."""
    contract = load_contract_str("""
id: mergedempty
version: 0.1.0
schema:
  - name: t
    properties:
      - name: k
        logicalType: string
        required: true
        primaryKey: true
""")
    df = spark.createDataFrame([], "k string")
    run = SparkContractEngine(spark).test(contract, tables={"t": df})
    by = {c.key: c for c in run.checks}
    assert by["t__k__field_primary_key_unique"].result is ResultEnum.passed
    assert by["t__k__field_required"].result is ResultEnum.passed
    assert by["t__k__field_required"].diagnostics["row_count"] == 0
