"""Cross-lane parity: a slice of ``sliced_validation``, a bucket of
``PartitionedValidator`` and a file of ``IncrementalValidator`` each report
the metric value ``test()`` reports on that group's rows alone."""

from pyspark.sql import functions as F

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.checks.spec import MetricType
from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.engine.incremental import IncrementalValidator
from datacontract_cli_spark.engine.partitioned import PartitionedValidator
from datacontract_cli_spark.engine.sliced import sliced_validation
from datacontract_cli_spark.model.contract import load_contract_str

_CONTRACT = """
id: parity
version: 1.0.0
schema:
  - name: t
    properties:
      - name: k
        logicalType: string
        required: true
        logicalTypeOptions:
          pattern: "^k-[0-9]+$"
      - name: role
        logicalType: string
        logicalTypeOptions:
          enum: [user, assistant, tool]
        quality:
          - type: library
            metric: missingValues
            mustBeLessThan: 100
            arguments:
              missingValues: ["", "n/a"]
      - name: score
        logicalType: number
        logicalTypeOptions:
          minimum: 0
          maximum: 50
        quality:
          - type: library
            metric: quantile
            mustBeLessThan: 1000
            arguments: {quantile: 0.5}
          - type: library
            metric: quantile
            mustBeLessThan: 1000
            arguments: {quantile: 0.75, exact: true}
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 1
            arguments:
              baseline:
                cdf: [[10.0, 0.2], [30.0, 0.6]]
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 1
            arguments:
              baseline:
                quantiles: {"0.25": 8.0, "0.5": 20.0}
      - name: text
        logicalType: string
        logicalTypeOptions:
          minLength: 2
          maxLength: 6
      - name: ghost
        logicalType: string
        required: true
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
      - type: library
        metric: duplicateValues
        mustBe: 0
        arguments: {properties: [k, src]}
"""

_ROLES = ["user", "assistant", "tool", "bogus", None, "", "n/a"]
_TEXTS = ["a", "ok", "hello", "too long text", None]


def _frame(spark):
    rows = []
    for i in range(90):
        rows.append((
            None if i % 17 == 5 else f"k-{i % 45}" if i % 11 else f"bad{i}",
            _ROLES[i % len(_ROLES)],
            float((i * 7) % 60 - 5) if i % 13 else None,
            _TEXTS[i % len(_TEXTS)],
            "abc"[i % 3],
            i % 3,
        ))
    return spark.createDataFrame(
        rows, "k string, role string, score double, text string, "
              "src string, part int")


def _test_values(spark, contract, df):
    """check key -> diagnostics value of test() on ``df`` (None when the
    check has no diagnostics, as for an absent column)."""
    run = SparkContractEngine(spark).test(contract, tables={"t": df})
    return {c.key: (c.diagnostics or {}).get("value") for c in run.checks}


def _specs(contract, metrics):
    return [s for s in compile_checks(contract, None)
            if s.model == "t" and s.metric in metrics]


def test_slices_match_test_on_each_slice(spark):
    contract = load_contract_str(_CONTRACT)
    df = _frame(spark)
    got = {}
    for r in sliced_validation(df, contract, "t", ["src"]).collect():
        got.setdefault(r["src"], {})[r["check_key"]] = r["metric_value"]
    specs = _specs(contract, (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
                              MetricType.INVALID_COUNT, MetricType.QUANTILE,
                              MetricType.QUANTILE_DRIFT_KS))
    assert len(specs) >= 12
    assert sorted(got) == ["a", "b", "c"]
    for src, values in got.items():
        want = _test_values(spark, contract, df.filter(F.col("src") == src))
        assert sorted(values) == sorted(s.key for s in specs), src
        for spec in specs:
            w = want[spec.key]
            assert values[spec.key] == (None if w is None else float(w)), \
                (src, spec.key)
    assert got["a"]["t__ghost__field_required"] is None


def test_buckets_match_test_on_each_bucket(spark, tmp_path):
    contract = load_contract_str(_CONTRACT)
    df = _frame(spark)
    specs = _specs(contract, (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
                              MetricType.INVALID_COUNT,
                              MetricType.DUPLICATE_COUNT))
    assert "t__model_duplicate_values" in [s.key for s in specs]
    pv = PartitionedValidator(spark, checkpoint_dir=str(tmp_path),
                              partition_key="k", n_buckets=3)
    verdicts = pv.run(df, specs, "t")
    assert sorted(verdicts) == [0, 1, 2]
    bucket = F.pmod(F.xxhash64(F.col("k")), F.lit(3))
    for b, verdict in verdicts.items():
        want = _test_values(spark, contract, df.filter(bucket == b))
        for spec in specs:
            if want[spec.key] is None:  # absent column: never evaluated
                assert spec.key not in verdict.metrics, (b, spec.key)
            else:
                assert verdict.metrics[spec.key] == want[spec.key], \
                    (b, spec.key)
        assert verdict.row_count == want["t__row_count"]


def test_files_match_test_on_each_file(spark, tmp_path):
    contract = load_contract_str(_CONTRACT)
    df = _frame(spark)
    root = str(tmp_path / "data")
    for p in range(3):
        (df.filter(F.col("part") == p).drop("part").coalesce(1)
         .write.mode("append").parquet(root))
    specs = _specs(contract, (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
                              MetricType.INVALID_COUNT))
    result = IncrementalValidator(spark, str(tmp_path / "ckpt")).run(
        root, specs, "t")
    assert len(result["files"]) == 3
    assert result["unevaluated"] == ["t__ghost__field_required"]
    for uri, verdict in result["files"].items():
        want = _test_values(spark, contract, spark.read.parquet(uri))
        assert verdict.row_count == want["t__row_count"] == 30
        for spec in specs:
            if want[spec.key] is None:
                assert spec.key in verdict.unevaluated, (uri, spec.key)
            else:
                assert verdict.metrics[spec.key] == want[spec.key], \
                    (uri, spec.key)


def test_inputs_violate_every_rule(spark):
    """Every missing, invalid or uniqueness check finds a violating row in
    the frame above, so the parity tests compare non-trivial counts."""
    contract = load_contract_str(_CONTRACT)
    want = _test_values(spark, contract, _frame(spark))
    for spec in _specs(contract, (MetricType.MISSING_COUNT,
                                  MetricType.INVALID_COUNT,
                                  MetricType.DUPLICATE_COUNT)):
        if spec.field != "ghost":
            assert want[spec.key] > 0, spec.key
