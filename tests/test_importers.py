"""Contract importers — the Spark-relevant subset of the reference's
imports/ surface (parquet/csv/json reflection; avro + jsonschema structural
conversion as exact inverses of our exporters)."""

import json
import os

import pytest

from datacontract_cli_spark import export
from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources import importers


CONTRACT = """
id: imp
version: 1.0.0
schema:
  - name: events
    properties:
      - name: event_id
        logicalType: integer
        required: true
      - name: kind
        logicalType: string
        logicalTypeOptions:
          enum: [a, b]
          pattern: "^[ab]$"
      - name: ts
        logicalType: timestamp
      - name: payload
        logicalType: object
        properties:
          - name: score
            logicalType: number
            required: true
      - name: tags
        logicalType: array
        items:
          name: items
          logicalType: string
"""


def test_parquet_import_roundtrips_through_engine(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 2.5), (2, "y", 3.5)], "id bigint, s string, v double")
    out = str(tmp_path / "t.parquet")
    df.write.parquet(out)
    contract = importers.import_file(spark, out, "parquet", "t")
    names = {p.name: p.logical_type for p in contract.schema_objects[0].properties}
    assert names == {"id": "integer", "s": "string", "v": "number"}
    # a reflected contract must validate its own data cleanly
    run = SparkContractEngine(spark).test(contract, tables={"t": df})
    assert run.result is ResultEnum.passed


def test_csv_and_json_import_infer(spark, tmp_path):
    (tmp_path / "m.csv").write_text("a,b\n1,x\n2,y\n")
    c = importers.import_file(spark, str(tmp_path / "m.csv"), "csv", "m")
    got = {p.name: p.logical_type for p in c.schema_objects[0].properties}
    assert got == {"a": "integer", "b": "string"}

    (tmp_path / "m.jsonl").write_text('{"n": 1, "o": {"k": "v"}}\n')
    c2 = importers.import_file(spark, str(tmp_path / "m.jsonl"), "json", "m")
    by = {p.name: p for p in c2.schema_objects[0].properties}
    assert by["n"].logical_type == "integer"
    assert by["o"].logical_type == "object"
    assert by["o"].properties[0].name == "k"


def test_avro_roundtrip():
    c = load_contract_str(CONTRACT)
    avro = export.to_avro_schema(c)
    back = importers.import_avro_schema(avro)
    obj = back.schema_objects[0]
    by = {p.name: p for p in obj.properties}
    assert by["event_id"].logical_type == "integer" and by["event_id"].required
    assert by["kind"].logical_type == "string" and not by["kind"].required
    assert by["ts"].logical_type == "timestamp"
    assert by["payload"].logical_type == "object"
    assert by["payload"].properties[0].name == "score"
    assert by["tags"].logical_type == "array"
    assert by["tags"].items.logical_type == "string"


def test_jsonschema_roundtrip_keeps_constraints():
    c = load_contract_str(CONTRACT)
    js = export.to_jsonschema_dict(c)
    back = importers.import_jsonschema(js, name="events")
    by = {p.name: p for p in back.schema_objects[0].properties}
    assert by["event_id"].required
    assert by["kind"].options["enum"] == ["a", "b"]
    assert by["kind"].options["pattern"] == "^[ab]$"
    assert by["payload"].properties[0].required  # nested required survives
    assert by["ts"].logical_type == "timestamp"  # via format date-time


def test_avro_import_from_file(tmp_path):
    avsc = {
        "type": "record", "name": "orders",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "status", "type": ["null", {"type": "enum", "name": "st",
                                                 "symbols": ["A", "B"]}]},
            {"name": "placed", "type": {"type": "long",
                                        "logicalType": "timestamp-millis"}},
        ],
    }
    p = tmp_path / "orders.avsc"
    p.write_text(json.dumps(avsc))
    c = importers.import_avro_schema(str(p))
    by = {p2.name: p2 for p2 in c.schema_objects[0].properties}
    assert by["id"].required and by["id"].logical_type == "integer"
    assert not by["status"].required
    assert by["status"].options["enum"] == ["A", "B"]
    assert by["placed"].logical_type == "timestamp"


def test_jsonschema_roundtrip_reference_orders_fixture():
    """import jsonschema -> export jsonschema reproduces the reference's
    orders.json byte-for-byte semantically (reference
    test_roundtrip_jsonschema.py): titles via businessName, descriptions,
    unmapped formats (email), nullable array items."""
    import json as _json

    from datacontract_cli_spark.export import to_jsonschema_dict
    from datacontract_cli_spark.sources.importers import import_jsonschema

    src = "/root/reference/tests/fixtures/import/orders.json"
    if not os.path.exists(src):
        pytest.skip("reference fixtures not available")
    contract = import_jsonschema(src)
    with open(src, "r", encoding="utf-8") as f:
        expected = _json.load(f)
    assert to_jsonschema_dict(contract) == expected
    # the title lands in ODCS businessName, like the reference exporter
    obj = contract.schema_objects[0]
    assert obj.business_name == "OrderSchema"
    by_name = {p.name: p for p in obj.properties}
    assert by_name["order_id"].business_name == "Order ID"
    assert by_name["customer_email_address"].options.get("format") == "email"
    assert by_name["line_items"].items.required is False


def test_great_expectations_import_and_roundtrip(tmp_path):
    """GX suite -> contract (structural expectations map to fields; the
    unmapped tail is preserved as GX-engine quality rules that the GX
    EXPORTER re-emits — lossless round-trip for the unknown part)."""
    import json as _json

    from datacontract_cli_spark.export_code import to_great_expectations
    from datacontract_cli_spark.sources.importers import import_great_expectations

    suite = {
        "name": "orders.1.0.0",
        "expectations": [
            {"type": "expect_table_columns_to_match_ordered_list",
             "kwargs": {"column_list": ["order_id", "amount", "status"]}},
            {"type": "expect_column_values_to_be_of_type",
             "kwargs": {"column": "order_id", "type_": "StringType"}},
            {"type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "order_id"}},
            {"type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "order_id"}},
            {"type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "order_id", "min_value": 8, "max_value": 10}},
            {"type": "expect_column_values_to_be_of_type",
             "kwargs": {"column": "amount", "type_": "DoubleType"}},
            {"type": "expect_column_values_to_be_between",
             "kwargs": {"column": "amount", "min_value": 0, "max_value": 10000}},
            {"type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "status", "value_set": ["open", "closed"]}},
            {"type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 1000000}},
            # legacy key spelling + an unmapped expectation
            {"expectation_type": "expect_column_kl_divergence_to_be_less_than",
             "kwargs": {"column": "amount", "threshold": 0.1}},
        ],
    }
    contract = import_great_expectations(suite)
    [obj] = contract.schema_objects
    assert obj.name == "orders"
    by = {p.name: p for p in obj.properties}
    assert [p.name for p in obj.properties] == ["order_id", "amount", "status"]
    assert by["order_id"].logical_type == "string"
    assert by["order_id"].required and by["order_id"].unique
    assert by["order_id"].options["minLength"] == 8
    assert by["amount"].logical_type == "number"
    assert by["amount"].options["maximum"] == 10000
    assert by["status"].options["enum"] == ["open", "closed"]
    [rc] = [q for q in obj.quality if q.metric == "rowCount"]
    assert (rc.must_be_ge, rc.must_be_le) == (1, 1000000)
    # unmapped expectation preserved and re-exported verbatim
    [kl] = by["amount"].quality
    assert kl.engine == "great-expectations"
    exported = _json.loads(to_great_expectations(contract, "orders"))
    types = [e["type"] for e in exported["expectations"]]
    assert "expect_column_kl_divergence_to_be_less_than" in types
    kl_out = next(e for e in exported["expectations"]
                  if e["type"] == "expect_column_kl_divergence_to_be_less_than")
    assert kl_out["kwargs"]["threshold"] == 0.1


def test_cli_import_great_expectations(tmp_path, capsys):
    import json as _json

    from datacontract_cli_spark.cli import main
    path = tmp_path / "suite.json"
    path.write_text(_json.dumps({
        "name": "t", "expectations": [
            {"type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "id"}}]}))
    rc = main(["import", "--format", "great-expectations",
               "--source", str(path)])
    assert rc == 0
    out = capsys.readouterr().out
    assert "name: id" in out and "required: true" in out


def test_great_expectations_unknown_type_preserved():
    import json as _json

    from datacontract_cli_spark.export_code import to_great_expectations
    from datacontract_cli_spark.sources.importers import import_great_expectations

    suite = {"name": "t", "expectations": [
        {"type": "expect_column_values_to_be_of_type",
         "kwargs": {"column": "m", "type_": "MapType"}}]}
    contract = import_great_expectations(suite)
    [obj] = contract.schema_objects
    [m] = obj.properties
    assert m.logical_type is None          # no guess
    [rule] = m.quality                     # preserved, not dropped
    assert rule.engine == "great-expectations"
    exported = _json.loads(to_great_expectations(contract, "t"))
    assert any(e["type"] == "expect_column_values_to_be_of_type"
               and e["kwargs"].get("type_") == "MapType"
               for e in exported["expectations"])


# --- object-storage importer (reference imports/object_storage_importer.py) --

def _write_obj_fixture(spark, base):
    df = spark.createDataFrame(
        [(1, "open", 10.5), (2, "closed", None)],
        "id long, status string, amount double")
    df.coalesce(1).write.mode("overwrite").parquet(f"{base}/orders_parquet")
    df.coalesce(1).write.mode("overwrite").option("header", "true") \
        .csv(f"{base}/orders_csv")
    return df


def test_import_object_storage_local_parquet_glob(spark, tmp_path):
    from datacontract_cli_spark.sources.importers import import_object_storage
    _write_obj_fixture(spark, str(tmp_path))
    c = import_object_storage(
        spark, f"{tmp_path}/orders_parquet/*.parquet", import_format="s3")
    assert c.servers[0].type == "s3"
    assert c.servers[0].format == "parquet"
    # glob segment -> schema named after the prefix directory
    assert c.schema_objects[0].name == "orders_parquet"
    props = {p.name: p for p in c.schema_objects[0].properties}
    assert set(props) == {"id", "status", "amount"}
    assert props["id"].logical_type == "integer"
    assert props["amount"].logical_type == "number"


def test_import_object_storage_gcs_normalizes_to_s3_endpoint(spark, tmp_path):
    # GCS speaks the S3 protocol through its interoperability endpoint: the
    # contract gets an s3 server pinned to storage.googleapis.com, and the
    # gs:// scheme is rewritten to s3:// (reference SERVER_TYPES /
    # DEFAULT_ENDPOINT_URLS). Location normalization is pure — test it
    # without touching the network.
    from datacontract_cli_spark.sources.importers import (
        GCS_ENDPOINT_URL,
        detect_object_format,
        normalize_object_location,
        object_schema_name,
    )
    assert normalize_object_location("gs://b/orders/*.json", "gcs") == \
        "s3://b/orders/*.json"
    assert normalize_object_location("gcs://b/x.csv", "gcs") == "s3://b/x.csv"
    assert normalize_object_location("s3://b/x.csv", "s3") == "s3://b/x.csv"
    assert detect_object_format("s3://b/part-0.ndjson?sig=x") == "json"
    assert detect_object_format("s3://b/table") is None
    assert object_schema_name("s3://b/orders/*.parquet") == "orders"
    assert object_schema_name("abfss://c/dir/events.v2.csv") == "events_v2"
    # endpoint default lands in the server options for gcs imports
    from datacontract_cli_spark.sources.importers import import_object_storage
    _write_obj_fixture(spark, str(tmp_path))
    # local-path variant of a gcs import keeps the endpoint semantics
    c = import_object_storage(spark, f"{tmp_path}/orders_csv/*.csv",
                              import_format="gcs", delimiter=",")
    assert c.servers[0].type == "s3"
    assert c.servers[0].options["endpointUrl"] == GCS_ENDPOINT_URL
    assert c.servers[0].options["delimiter"] == ","
    assert c.servers[0].format == "csv"


def test_import_object_storage_errors(spark, tmp_path):
    import pytest as _pytest
    from datacontract_cli_spark.sources.importers import import_object_storage
    with _pytest.raises(ValueError, match="location is required"):
        import_object_storage(spark, None, import_format="s3")
    with _pytest.raises(ValueError, match="file-format"):
        import_object_storage(spark, f"{tmp_path}/x.unknown", import_format="s3")


def test_cli_import_s3_local_path(spark, tmp_path, capsys):
    # the CLI lane end-to-end over a local directory: reference-shaped
    # ODCS YAML with the server block on stdout
    import yaml

    from datacontract_cli_spark.cli import main
    _write_obj_fixture(spark, str(tmp_path))
    rc = main(["import", "--format", "s3",
               "--source", f"{tmp_path}/orders_parquet/*.parquet"])
    assert rc == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert doc["servers"][0]["type"] == "s3"
    assert doc["servers"][0]["format"] == "parquet"
    names = [p["name"] for p in doc["schema"][0]["properties"]]
    assert names == ["id", "status", "amount"]
