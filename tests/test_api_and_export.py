"""DataContractRunner facade + contract/schema round-trips."""

from pyspark.sql import types as T

from datacontract_cli_spark.api import DataContractRunner
from datacontract_cli_spark.export import to_odcs_yaml, to_spark_schema
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources.importers import import_spark
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

CONTRACT = """
id: facade
version: 0.1.0
schema:
  - name: transcripts
    properties:
      - name: conv_id
        logicalType: string
        required: true
      - name: turn_idx
        logicalType: integer
        required: true
      - name: role
        logicalType: string
        logicalTypeOptions:
          enum: [system, user, assistant, tool]
"""


def test_facade_dataframe_style(spark):
    df = synthesize_transcripts(spark, n_convs=30, turns_per_conv=4)
    df.createOrReplaceTempView("transcripts")
    run = DataContractRunner(data_contract_str=CONTRACT, spark=spark).test()
    assert run.result is ResultEnum.passed
    assert "Run result: passed" in DataContractRunner.pretty(run)


def test_facade_filter_and_samples(spark):
    df = synthesize_transcripts(spark, n_convs=30, turns_per_conv=4, defect_rate=0.3)
    run = DataContractRunner(
        data_contract_str=CONTRACT, spark=spark,
        include_failed_samples=True, tables={"transcripts": df},
    ).test()
    assert run.result is ResultEnum.failed
    enum_check = next(c for c in run.checks if c.type == "field_enum")
    assert enum_check.failedSamples


def test_facade_lint():
    # bypass __init__ so lint needs no SparkSession
    r = DataContractRunner.__new__(DataContractRunner)
    r.contract = load_contract_str("id: x\nversion: '1'\nschema: []\n")
    assert DataContractRunner.lint(r) == ["contract has no schema objects"]


def test_to_spark_schema_nullability():
    c = load_contract_str(CONTRACT)
    schema = to_spark_schema(c.schema_objects[0])
    by_name = {f.name: f for f in schema.fields}
    assert by_name["conv_id"].dataType == T.StringType()
    assert by_name["conv_id"].nullable is False
    assert by_name["turn_idx"].dataType == T.LongType()
    assert by_name["role"].nullable is True


def test_import_dataframe_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "x", [1.0, 2.0], {"a": 1}, (True,))],
        "id bigint, name string, vec array<double>, m map<string,bigint>, "
        "s struct<flag:boolean>",
    )
    contract = import_spark(spark, source="t", dataframe=df)
    obj = contract.schema_objects[0]
    by = {p.name: p for p in obj.properties}
    assert by["id"].logical_type == "integer"
    assert by["name"].logical_type == "string"
    assert by["vec"].logical_type == "array"
    assert by["vec"].items.logical_type == "number"
    assert by["s"].logical_type == "object"
    assert by["s"].properties[0].name == "flag"

    # exported YAML parses back into an equivalent contract
    text = to_odcs_yaml(contract)
    back = load_contract_str(text)
    assert [p.name for p in back.schema_objects[0].properties] == \
           [p.name for p in obj.properties]
    assert back.schema_objects[0].properties[2].items.logical_type == "number"


def test_export_sql_ddl():
    from datacontract_cli_spark import export
    c = load_contract_str(CONTRACT)
    ddl = export.to_sql_ddl(c)
    assert ddl.startswith("CREATE TABLE")
    assert "NOT NULL" in ddl and "USING parquet;" in ddl


def test_export_avro_unions_for_optional():
    from datacontract_cli_spark import export
    c = load_contract_str(CONTRACT)
    avro = export.to_avro_schema(c)
    rec = avro if isinstance(avro, dict) else avro[0]
    assert rec["type"] == "record"
    by = {f["name"]: f["type"] for f in rec["fields"]}
    # required fields are bare types, optional become ["null", type]
    assert any(isinstance(t, list) and t[0] == "null" for t in by.values())


def test_export_jsonschema_roundtrip_keywords():
    from datacontract_cli_spark import export
    c = load_contract_str(CONTRACT)
    js = export.to_jsonschema_dict(c)
    schema = js if "$schema" in js else list(js.values())[0]
    assert schema["type"] == "object"
    assert isinstance(schema["required"], list)


def test_cli_export_formats(tmp_path):
    import subprocess, sys, os
    path = tmp_path / "c.yaml"
    path.write_text(CONTRACT)
    for fmt, probe in (("sql", "CREATE TABLE"), ("jsonschema", "$schema"),
                       ("avro", '"record"'), ("odcs", "schema"), ("spark", "struct<")):
        r = subprocess.run(
            [sys.executable, "-m", "datacontract_cli_spark", "export", str(path),
             "--format", fmt],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), timeout=120)
        assert r.returncode == 0, (fmt, r.stderr)
        assert probe in r.stdout, (fmt, r.stdout[:200])


def test_odcs_roundtrip_preserves_quality_blocks():
    """Property- and model-level quality rules must survive
    contract → to_odcs_yaml → load_contract_str → to_odcs_yaml."""
    from datacontract_cli_spark import export as _export
    from datacontract_cli_spark.model.contract import load_contract_str

    src = """
id: q-rt
version: 0.1.0
schema:
  - name: m
    properties:
      - name: v
        logicalType: number
        quality:
          - metric: quantile
            arguments: {quantile: 0.99, exact: true}
            mustBeLessThan: 100
            id: p99
          - metric: nullValues
            mustBeLessOrEqualTo: 5
            unit: percent
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
"""
    c1 = load_contract_str(src)
    y1 = _export.to_odcs_yaml(c1)
    c2 = load_contract_str(y1)
    y2 = _export.to_odcs_yaml(c2)
    assert y1 == y2  # stable fixed point
    p = c2.schema_objects[0].properties[0]
    assert [q.metric for q in p.quality] == ["quantile", "nullValues"]
    assert p.quality[0].arguments == {"quantile": 0.99, "exact": True}
    assert p.quality[0].must_be_lt == 100 and p.quality[0].id == "p99"
    assert p.quality[1].unit == "percent"
    assert c2.schema_objects[0].quality[0].metric == "rowCount"
