"""Uniqueness checks in test(): the keys-only grouping of
``executor.duplicate_groups`` decides every one of them, whatever else the
model checks, and its key columns are referenced quoted."""

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum


def test_dotted_and_spaced_column_names_get_a_verdict(spark):
    contract = load_contract_str("""
id: dotted
version: 0.1.0
schema:
  - name: t
    properties:
      - name: a.b
        unique: true
      - name: c d
        unique: true
""")
    df = spark.createDataFrame([("x", "p"), ("x", "q"), ("y", "r")],
                               "`a.b` string, `c d` string")
    run = SparkContractEngine(spark, include_failed_samples=True).test(
        contract, tables={"t": df})
    dotted = run.check("t__a.b__field_unique")
    assert dotted.result is ResultEnum.failed, dotted.reason
    assert dotted.diagnostics["value"] == 1
    assert dotted.failedSamples == [{"a.b": "x", "duplicate_count": 2}]
    assert run.check("t__c d__field_unique").result is ResultEnum.passed


def test_all_sensitive_key_samples_carry_only_the_count(spark):
    contract = load_contract_str("""
id: sensitive-key
version: 0.1.0
schema:
  - name: users
    properties:
      - name: email
        logicalType: string
        classification: sensitive
        unique: true
      - name: phone
        logicalType: string
        classification: pii
      - name: age
        logicalType: integer
        required: true
    quality:
      - type: library
        metric: duplicateValues
        mustBe: 0
        arguments: {properties: [email, phone]}
""")
    df = spark.createDataFrame(
        [("a@x", "1", 30), ("a@x", "1", 31), ("a@x", "2", 32),
         ("b@x", "3", 33), ("b@x", "3", 34), ("c@x", "4", 35)],
        "email string, phone string, age int")
    run = SparkContractEngine(spark, include_failed_samples=True).test(
        contract, tables={"users": df})
    email = run.check("users__email__field_unique")
    assert email.result is ResultEnum.failed
    assert email.diagnostics["value"] == 2
    # ordered by the (hidden) key: a@x x3, b@x x2
    assert email.failedSamples == [{"duplicate_count": 3},
                                   {"duplicate_count": 2}]
    pair = run.check("users__model_duplicate_values")
    assert pair.result is ResultEnum.failed
    assert pair.diagnostics["value"] == 2
    assert pair.failedSamples == [{"duplicate_count": 2},
                                  {"duplicate_count": 2}]


def test_map_key_gets_a_verdict_with_samples_on(spark):
    """Spark cannot order a MAP: the sample branch sorts a MAP-typed key by
    its JSON text, so the check is decided with samples on as with them
    off."""
    contract = load_contract_str("""
id: map-key
version: 0.1.0
schema:
  - name: t
    properties:
      - name: m
        unique: true
      - name: r
        logicalType: string
        required: true
""")
    df = spark.createDataFrame([({"a": 1}, "x"), ({"a": 1}, "y"),
                                ({"b": 2}, "z")],
                               "m map<string,int>, r string")
    for samples in (False, True):
        run = SparkContractEngine(spark, include_failed_samples=samples).test(
            contract, tables={"t": df})
        check = run.check("t__m__field_unique")
        assert check.result is ResultEnum.failed, (samples, check.reason)
        assert check.diagnostics["value"] == 1
    assert check.failedSamples == [{"m": "{'a': 1}", "duplicate_count": 2}]
