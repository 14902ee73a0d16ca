"""Every folding lane gives one Check per compiled rule: the bucket lane
(``test_partitioned``), the file lane (``test_incremental`` over a
parquet directory and an Iceberg table) and the tail lane (``tail`` over
Iceberg and Delta). Presence and type checks read the lane's schema, so
a type mismatch fails in every lane as it fails in test(); a rule that
does not fold over the lane's units is an error naming the lane."""

import os

import pytest
import yaml

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.engine.executor import _LANES, SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources.delta_table import write_delta_table
from datacontract_cli_spark.sources.iceberg_write import write_iceberg_table
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

HERE = os.path.dirname(__file__)

# one rule of every kind that does not fold over buckets or files
_RULES = """
id: lane-rules
version: 1.0.0
schema:
  - name: transcripts
    properties:
      - name: conv_id
        logicalType: string
        quality:
          - type: library
            metric: referentialIntegrity
            mustBe: 0
            arguments: {ref: convs.conv_id}
          - type: library
            metric: maxRunLength
            mustBeLessThan: 3
            arguments:
              orderBy: [turn_idx]
              actionColumns: [role]
      - name: turn_idx
        logicalType: integer
        quality:
          - type: library
            metric: quantile
            mustBeLessThan: 1000
            arguments: {quantile: 0.5}
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 1
            arguments:
              baseline:
                quantiles: {"0.5": 2.0}
      - name: role
        logicalType: string
        quality:
          - type: library
            metric: freqDriftPsi
            mustBeLessThan: 0.5
            arguments:
              baseline: {user: 0.5, assistant: 0.5}
      - name: ts
        logicalType: timestamp
    quality:
      - type: sql
        query: SELECT COUNT(*) FROM transcripts
        mustBeGreaterThan: 0
  - name: convs
    properties:
      - name: conv_id
        logicalType: string
slaProperties:
  - property: freshness
    value: 100000
    unit: d
    element: transcripts.ts
  - property: retention
    value: 100000
    unit: d
    element: transcripts.ts
"""


def _fixture(ts_type="timestamp"):
    """The transcripts fixture contract's YAML with ``ts`` declared
    ``ts_type``."""
    with open(os.path.join(HERE, "fixtures", "transcripts_contract.yaml")) as f:
        doc = yaml.safe_load(f)
    ts = next(p for p in doc["schema"][0]["properties"] if p["name"] == "ts")
    ts["logicalType"] = ts_type
    return yaml.safe_dump(doc, sort_keys=False)


_CONTRACTS = {"transcripts": load_contract_str(_fixture()),
              "ts_integer": load_contract_str(_fixture("integer")),
              "rules": load_contract_str(_RULES)}


def _runs(spark, lane, df, root, ckpt):
    """One Run per contract from ``lane`` over ``df``, written as the lane
    reads it."""
    engine = SparkContractEngine(spark)
    if lane == "partitioned":
        return {name: engine.test_partitioned(
                    c, df, "transcripts", checkpoint_dir=f"{ckpt}/{name}",
                    n_buckets=4)[0]
                for name, c in _CONTRACTS.items()}
    if lane.endswith("parquet"):
        df.write.parquet(root)
    elif lane.endswith("iceberg"):
        write_iceberg_table(df, root)
    else:
        write_delta_table(df, root)
    fmt = lane.split("-")[1]
    if lane.startswith("incremental"):
        return {name: engine.test_incremental(
                    c, root, "transcripts", f"{ckpt}/{name}",
                    table_format=fmt)[0]
                for name, c in _CONTRACTS.items()}
    runs = {}
    for name, c in _CONTRACTS.items():
        (_, run, _), = engine.tail(c, root, "transcripts", f"{ckpt}/{name}",
                                   table_format=fmt)
        runs[name] = run
    return runs


@pytest.mark.parametrize("lane", ["partitioned", "incremental-parquet",
                                  "incremental-iceberg", "tail-iceberg",
                                  "tail-delta"])
def test_every_lane_reports_every_rule(spark, tmp_path, lane):
    df = synthesize_transcripts(spark, n_convs=12, turns_per_conv=4,
                                defect_rate=0.2)
    runs = _runs(spark, lane, df, str(tmp_path / "tbl"),
                 str(tmp_path / "ckpt"))
    name = lane.split("-")[0]
    unit, folds = _LANES[name]
    for contract_name, run in runs.items():
        specs = [s for s in compile_checks(_CONTRACTS[contract_name], None)
                 if s.model == "transcripts"]
        assert [c.key for c in run.checks] == [s.key for s in specs], \
            contract_name
        by_key = {c.key: c for c in run.checks}
        want_ts = (ResultEnum.failed if contract_name == "ts_integer"
                   else ResultEnum.passed)
        assert by_key["transcripts__ts__field_type"].result is want_ts
        assert by_key["transcripts__ts__field_is_present"].result \
            is ResultEnum.passed
        for spec in specs:
            check = by_key[spec.key]
            if spec.metric.value.startswith("field_"):
                assert check.result is not ResultEnum.error, spec.key
            elif spec.metric not in folds:
                assert check.result is ResultEnum.error, spec.key
                assert f"over {unit} in the {name} lane" in check.reason, \
                    spec.key
            else:
                assert check.diagnostics["value"] is not None, spec.key
    rules = {c.key: c for c in runs["rules"].checks}
    # every kind of rule that does not fold appears, as an error
    for key in ("servicelevel_freshness", "servicelevel_retention",
                "transcripts__quality_sql_0",
                "transcripts__conv_id__referential_integrity",
                "transcripts__conv_id__max_run_length",
                "transcripts__turn_idx__quantile_0_5",
                "transcripts__turn_idx__quantile_drift_ks",
                "transcripts__role__freq_drift_psi"):
        assert rules[key].result is ResultEnum.error, key


def test_cli_tail_fails_closed_on_lane_errors(spark, tmp_path, capsys):
    """A tail Run that fails a type rule next to a rule the lane cannot
    evaluate (the fixture's primary key) is ``error`` overall; the CLI
    still exits 1, as ``test`` does for an error Run."""
    import json

    from datacontract_cli_spark.cli import main

    root = str(tmp_path / "tbl")
    write_iceberg_table(synthesize_transcripts(spark, n_convs=6,
                                               turns_per_conv=4,
                                               defect_rate=0.0), root)
    cpath = tmp_path / "contract.yaml"
    cpath.write_text(_fixture("integer"))

    assert main(["tail", str(cpath), "--table", root,
                 "--checkpoint-dir", str(tmp_path / "ckpt")]) == 1
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["result"] == "error"
    by_key = {c["key"]: c["result"] for c in line["checks"]}
    assert by_key["transcripts__ts__field_type"] == "failed"


def test_bucket_lane_materializes_derived_columns(spark, tmp_path):
    """A ``Property.expression`` column exists in the bucket lane as it
    does in test(): presence and type pass, and its range rule reads the
    derived values."""
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
    run, _ = SparkContractEngine(spark).test_partitioned(
        contract, df, "t", checkpoint_dir=str(tmp_path / "ckpt"),
        partition_key="id", n_buckets=4)
    assert run.check("t__n2__field_is_present").result is ResultEnum.passed
    assert run.check("t__n2__field_type").result is ResultEnum.passed
    maximum = run.check("t__n2__field_maximum")
    assert maximum.result is ResultEnum.failed
    assert maximum.diagnostics["value"] == 1
