"""Regression tests for the core-compile review findings: duplicate
check keys masking failures, scalar-string column args, physical-name
model filtering, and toolArgsValid boolean-schema handling."""

import pytest

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum


EXCL_CONTRACT = """
id: t
version: 1.0.0
schema:
  - name: m
    properties:
      - name: v
        logicalType: number
        logicalTypeOptions:
          exclusiveMinimum: 0
          exclusiveMaximum: 100
"""


def test_exclusive_bounds_get_distinct_keys_and_both_evaluate(spark):
    """exclusiveMinimum and exclusiveMaximum both compiled to ONE key
    (field_not_equal): the later PASS overwrote the earlier FAIL on the
    shared stub. Distinct keys make both verdicts visible."""
    contract = load_contract_str(EXCL_CONTRACT)
    specs = [s for s in compile_checks(contract, None)
             if "not_equal" in s.key]
    assert len({s.key for s in specs}) == len(specs) == 2

    df = spark.createDataFrame([(0.0,), (50.0,)], "v double")
    run = SparkContractEngine(spark).test(contract, tables={"m": df})
    ne = [c for c in run.checks if "not_equal" in c.key]
    assert len(ne) == 2
    results = sorted(c.result.value for c in ne)
    # the 0.0 row violates exclusiveMinimum; exclusiveMaximum passes
    assert results == ["failed", "passed"]
    assert run.result is ResultEnum.failed


TWO_RULES_CONTRACT = """
id: t
version: 1.0.0
schema:
  - name: m
    properties:
      - name: v
        logicalType: string
        quality:
          - metric: nullValues
            mustBeLessThan: 100
          - metric: nullValues
            mustBe: 0
"""


def test_same_metric_twice_on_one_field_both_evaluate(spark):
    contract = load_contract_str(TWO_RULES_CONTRACT)
    df = spark.createDataFrame([("a",), (None,)], "v string")
    run = SparkContractEngine(spark).test(contract, tables={"m": df})
    nv = [c for c in run.checks if "null_values" in c.key]
    assert len(nv) == 2
    assert len({c.key for c in nv}) == 2
    results = sorted(c.result.value for c in nv)
    # lenient rule passes, strict mustBe 0 fails — previously the pass
    # masked the fail on the shared key
    assert results == ["failed", "passed"]
    assert run.result is ResultEnum.failed


SCALAR_ARGS_CONTRACT = """
id: t
version: 1.0.0
schema:
  - name: m
    physicalName: m_v2
    properties:
      - name: conv_id
        logicalType: string
      - name: turn_idx
        logicalType: integer
      - name: tool
        logicalType: string
    quality:
      - metric: duplicateValues
        arguments:
          properties: conv_id
        mustBe: 0
"""


def test_scalar_string_column_args_and_physical_name_filter(spark):
    contract = load_contract_str(SCALAR_ARGS_CONTRACT)
    # scalar YAML string wraps to a one-column list, not characters
    spec = next(s for s in compile_checks(contract, None)
                if s.type == "model_duplicate_values")
    assert spec.columns == ["conv_id"]
    # filtering by the PHYSICAL name compiles the same checks as by name
    assert {s.key for s in compile_checks(contract, None, "m_v2")} \
        == {s.key for s in compile_checks(contract, None, "m")} != set()


BOOL_SCHEMA_CONTRACT = """
id: t
version: 1.0.0
schema:
  - name: m
    properties:
      - name: args
        logicalType: string
        quality:
          - metric: toolArgsValid
            arguments:
              toolColumn: tool
              schemas:
                get_weather: true
            mustBe: 0
"""


def test_tool_args_boolean_schema_skips_instead_of_crashing(spark):
    """A boolean JSON Schema is legal JSON Schema but not compilable
    here — it must warn-and-skip at compile, never AttributeError the
    whole run at predicate-construction time."""
    contract = load_contract_str(BOOL_SCHEMA_CONTRACT)
    specs = [s for s in compile_checks(contract, None)
             if s.type == "tool_args_valid"]
    assert specs == []
    df = spark.createDataFrame([("{}", "get_weather")],
                               "args string, tool string")
    run = SparkContractEngine(spark).test(contract, tables={"m": df})
    assert run.result is not None  # the run completes


PERCENT_CONTRACT = """
id: t
version: 1.0.0
schema:
  - name: transcripts
    properties:
      - name: conv_id
        logicalType: string
      - name: tool
        logicalType: string
        quality:
          - metric: nullValues
            mustBeLessThan: 60
            unit: percent
"""


def test_incremental_lane_honors_percent_thresholds(spark, tmp_path):
    """The incremental/tail lanes folded raw counts and compared them
    against percent bounds directly: 300 missing of 1000 rows (30%)
    failed a '< 60%' threshold because 300 > 60."""
    from datacontract_cli_spark.checks.compile import compile_checks as cc
    from datacontract_cli_spark.model.contract import load_contract_str as lc

    contract = lc(PERCENT_CONTRACT)
    spec = next(s for s in cc(contract, None) if "null_values" in s.key)
    assert spec.threshold_is_percent

    import pyspark.sql.functions as F
    df = spark.range(1000).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.when(F.col("id") % 10 < 3, None)
         .otherwise(F.lit("search")).alias("tool"))
    root = str(tmp_path / "zone")
    df.write.parquet(root)
    engine = SparkContractEngine(spark)
    run, result = engine.test_incremental(
        contract, root, "transcripts", str(tmp_path / "ckpt"))
    chk = next(c for c in run.checks if "null_values" in c.key)
    assert chk.diagnostics["value"] == 300
    assert chk.result is ResultEnum.passed  # 30% < 60%

    # and the batch lane agrees (it always did)
    run2 = SparkContractEngine(spark).test(contract,
                                           tables={"transcripts": df})
    chk2 = next(c for c in run2.checks if "null_values" in c.key)
    assert chk2.result is ResultEnum.passed


def test_sliced_and_partitioned_honor_percent_thresholds(spark, tmp_path):
    """Percent thresholds gate RATES in the sliced and partitioned lanes
    too (raw-count comparison failed healthy slices/buckets)."""
    from datacontract_cli_spark.engine.partitioned import (
        PartitionedValidator,
    )
    from datacontract_cli_spark.engine.sliced import sliced_validation

    import pyspark.sql.functions as F
    contract = load_contract_str(PERCENT_CONTRACT)
    df = spark.range(1000).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        F.when(F.col("id") % 10 < 3, None)
         .otherwise(F.lit("search")).alias("tool"))

    out = sliced_validation(df, contract, "transcripts",
                            ["grp"]).collect()
    nv = [r for r in out if r["check_key"] and "null_values" in r["check_key"]]
    assert len(nv) == 4
    assert all(r["passed"] for r in nv)       # every slice is ~30% < 60%
    assert sum(r["metric_value"] for r in nv) == 300.0  # raw counts stay

    from datacontract_cli_spark.checks.compile import compile_checks as cc
    specs = [s for s in cc(contract, None) if s.model == "transcripts"
             and s.metric.value in ("missing_count", "row_count")]
    pv = PartitionedValidator(spark, checkpoint_dir=str(tmp_path / "ck"),
                              partition_key="conv_id", n_buckets=8)
    verdicts = pv.run(df, specs, "transcripts")
    key = next(s.key for s in specs if "null_values" in s.key)
    assert all(v.results[key] == "passed" for v in verdicts.values())
    assert PartitionedValidator.fold(verdicts)["metrics"][key] == 300
    # the global verdict re-evaluates the percent threshold on the fold
    run, _ = SparkContractEngine(spark).test_partitioned(
        contract, df, "transcripts", checkpoint_dir=str(tmp_path / "ck2"),
        n_buckets=8)
    chk = run.check(key)
    assert chk.result is ResultEnum.passed
    assert chk.diagnostics["value"] == 300


def test_partitioned_fold_reevaluates_absolute_budgets(spark, tmp_path):
    """An absolute 'missing_count <= 10' budget split across buckets must
    FAIL globally even though every bucket is under 10 locally."""
    import pyspark.sql.functions as F
    contract = load_contract_str("""
id: budget
version: 1.0.0
schema:
  - name: m
    properties:
      - name: conv_id
        logicalType: string
      - name: tool
        logicalType: string
        quality:
          - metric: nullValues
            mustBeLessOrEqualTo: 10
""")
    df = spark.range(640).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.when(F.col("id") % 10 == 0, None)
         .otherwise(F.lit("x")).alias("tool"))  # 64 missing total
    run, verdicts = SparkContractEngine(spark).test_partitioned(
        contract, df, "m", checkpoint_dir=str(tmp_path / "ck"),
        partition_key="conv_id", n_buckets=16)
    key = next(c.key for c in run.checks if "null_values" in c.key)
    # bucket-local counts are all <= 10 -> every bucket passes locally
    assert all(v.results[key] == "passed" for v in verdicts.values())
    # the Run evaluates the TOTAL: 64 > 10 -> failed
    assert run.check(key).diagnostics["value"] == 64
    assert run.check(key).result is ResultEnum.failed


def test_partitioned_dup_without_partition_key_errors(spark, tmp_path):
    from datacontract_cli_spark.checks.spec import (
        CheckSpec,
        MetricType,
        Op,
        Threshold,
    )
    from datacontract_cli_spark.engine.partitioned import (
        PartitionedValidator,
    )

    import pyspark.sql.functions as F
    df = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit("same@example.com").alias("email"))  # all duplicates!
    spec = CheckSpec(key="u", category="quality", type="t", name="u",
                     model="m", field="email",
                     metric=MetricType.DUPLICATE_COUNT,
                     threshold=Threshold(Op.EQ, 0))
    pv = PartitionedValidator(spark, checkpoint_dir=str(tmp_path / "ck"),
                              partition_key="conv_id", n_buckets=8)
    verdicts = pv.run(df, [spec], "m")
    # previously: every bucket counted ~0 local dup groups -> silent PASS
    assert all(v.results["u"] == "error" for v in verdicts.values())
    assert PartitionedValidator.fold(verdicts)["errors"] == ["u"]


def test_partitioned_resume_rejects_changed_bucketing(spark, tmp_path):
    from datacontract_cli_spark.checks.spec import (
        CheckSpec,
        MetricType,
        Op,
        Threshold,
    )
    from datacontract_cli_spark.engine.partitioned import (
        PartitionedValidator,
    )

    import pyspark.sql.functions as F
    df = spark.range(50).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"))
    spec = CheckSpec(key="rows", category="schema", type="t", name="r",
                     model="m", field=None, metric=MetricType.ROW_COUNT,
                     threshold=Threshold(Op.GE, 0))
    ck = str(tmp_path / "ck")
    PartitionedValidator(spark, checkpoint_dir=ck, n_buckets=4).run(
        df, [spec], "m")
    with pytest.raises(ValueError, match="n_buckets"):
        PartitionedValidator(spark, checkpoint_dir=ck, n_buckets=8).run(
            df, [spec], "m")


def test_drift_empty_and_degenerate_inputs(spark):
    """Empty/all-null columns must read as UNKNOWN drift (NaN fails the
    gate), never as 'zero drift'; constant columns against an identical
    quantile baseline must read as zero drift, not full drift."""
    import math

    from datacontract_cli_spark.operators import drift

    empty = spark.createDataFrame([], "v double")
    # quantiles lane: nan, not max(0.0, nan) == 0.0
    ks = drift.ks_statistic(empty, "v", {"quantiles": {"0.5": 10.0}})
    assert math.isnan(ks)
    # declarative ks_df: NULL, not ANSI divide-by-zero
    row = drift.ks_df(empty, "v", [[10.0, 0.5]]).first()
    assert row["ks"] is None

    # constant column against its own quantiles: zero drift at every p
    const = spark.createDataFrame([(5.0,)] * 10, "v double")
    assert drift.ks_statistic(const, "v",
                              {"quantiles": {"1.0": 5.0}}) == 0.0
    assert drift.ks_statistic(
        const, "v", {"quantiles": {"0.1": 5.0, "0.5": 5.0}}) == 0.0

    # chi2 with a forbidden category (q=0): observed occurrences produce
    # a HUGE statistic instead of a dropped term / ANSI crash
    obs = spark.createDataFrame([("a",)] * 9 + [("forbidden",)],
                                "v string")
    row = drift.chi2_df(obs, "v", {"a": 1.0, "forbidden": 0.0}).first()
    assert row["chi2"] > 1e6

    # empty declarative baseline: clear ValueError
    import pytest as _pytest
    full = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    with _pytest.raises(ValueError, match="at least one category"):
        drift.psi_df(full, "v", {})
