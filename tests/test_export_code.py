"""Code-generator exporters: great-expectations, pydantic, sqlalchemy,
dbml, protobuf, go — behavior-matched against the reference's exporter
modules, exercised on the reference's own export fixture. The pydantic,
sqlalchemy and go outputs are additionally checked to be syntactically
valid (compile/ast.parse)."""

import ast
import json
import os

import pytest

from datacontract_cli_spark.cli import main
from datacontract_cli_spark.export_code import (
    to_dbml,
    to_go,
    to_great_expectations,
    to_protobuf,
    to_pydantic,
    to_sqlalchemy,
)
from datacontract_cli_spark.model.contract import load_contract, load_contract_str

EXPORT_FIXTURE = "/root/reference/tests/fixtures/export/datacontract.odcs.yaml"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(os.path.dirname(EXPORT_FIXTURE))),
    reason="reference fixtures not available")


@needs_reference
def test_great_expectations_suite():
    contract = load_contract(EXPORT_FIXTURE)
    suite = json.loads(to_great_expectations(contract, "orders"))
    assert suite["name"] == "orders.1.0.0"
    by_type = {}
    for e in suite["expectations"]:
        by_type.setdefault(e["type"], []).append(e["kwargs"])
    assert by_type["expect_table_columns_to_match_ordered_list"][0]["column_list"] == \
        ["order_id", "order_total", "order_status"]
    assert {"column": "order_id", "type_": "varchar"} in \
        by_type["expect_column_values_to_be_of_type"]
    assert {"column": "order_id"} in by_type["expect_column_values_to_be_unique"]
    assert {"column": "order_id", "min_value": 8, "max_value": 10} in \
        by_type["expect_column_value_lengths_to_be_between"]
    assert {"column": "order_total", "min_value": 0, "max_value": 1000000} in \
        by_type["expect_column_values_to_be_between"]
    assert by_type["expect_column_values_to_be_in_set"][0]["value_set"] == \
        ["pending", "shipped", "delivered"]


def test_great_expectations_quality_rules_merge():
    contract = load_contract_str("""
apiVersion: v3.1.0
kind: DataContract
id: gx
version: 1.0.0
schema:
  - name: t
    properties:
      - name: x
        logicalType: integer
        quality:
          - type: custom
            engine: great-expectations
            implementation: |
              type: expect_column_max_to_be_between
              kwargs:
                max_value: 5
""")
    suite = json.loads(to_great_expectations(contract, "t"))
    merged = [e for e in suite["expectations"]
              if e.get("type") == "expect_column_max_to_be_between"]
    assert merged and merged[0]["column"] == "x"


def test_great_expectations_spark_engine_types():
    contract = load_contract_str("""
apiVersion: v3.1.0
kind: DataContract
id: gx2
version: 1.0.0
schema:
  - name: t
    properties:
      - name: s
        logicalType: string
      - name: n
        logicalType: integer
""")
    suite = json.loads(to_great_expectations(contract, "t", engine="spark"))
    types = {e["kwargs"]["column"]: e["kwargs"]["type_"]
             for e in suite["expectations"]
             if e["type"] == "expect_column_values_to_be_of_type"}
    assert types == {"s": "StringType", "n": "LongType"}


NESTED_CONTRACT = """
apiVersion: v3.1.0
kind: DataContract
id: code-gen
version: 1.0.0
schema:
  - name: orders
    properties:
      - name: order_id
        logicalType: string
        required: true
        primaryKey: true
      - name: amount
        logicalType: number
      - name: created_at
        logicalType: timestamp
        required: true
      - name: tags
        logicalType: array
        items:
          name: item
          logicalType: string
          required: true
      - name: customer
        logicalType: object
        properties:
          - name: email
            logicalType: string
            required: true
"""


def test_pydantic_export_is_valid_python():
    contract = load_contract_str(NESTED_CONTRACT)
    src = to_pydantic(contract)
    ast.parse(src)  # must be syntactically valid
    assert "class Orders(pydantic.BaseModel):" in src
    assert "order_id: str" in src
    assert "amount: typing.Optional[float]" in src
    assert "created_at: datetime.datetime" in src
    assert "tags: typing.Optional[list[str]]" in src
    assert "class OrdersCustomer(pydantic.BaseModel):" in src
    assert "customer: typing.Optional[OrdersCustomer]" in src


def test_sqlalchemy_export_is_valid_python():
    contract = load_contract_str(NESTED_CONTRACT)
    src = to_sqlalchemy(contract)
    ast.parse(src)
    assert "class Orders(Base):" in src
    assert "__tablename__ = 'orders'" in src
    assert "order_id = Column(String(None), nullable=False" in src
    assert "primary_key=True" in src
    assert "amount = Column(Numeric, nullable=True" in src


def test_dbml_export():
    contract = load_contract_str(NESTED_CONTRACT)
    out = to_dbml(contract)
    assert 'Project "code-gen"' in out
    assert "Table orders {" in out
    assert "order_id string [pk, not null]" in out
    assert "amount number [null]" in out


def test_dbml_references():
    contract = load_contract_str("""
apiVersion: v3.1.0
kind: DataContract
id: ref
version: 1.0.0
schema:
  - name: line_items
    properties:
      - name: order_id
        logicalType: string
        customProperties:
          - property: references
            value: orders.order_id
  - name: orders
    properties:
      - name: order_id
        logicalType: string
        primaryKey: true
""")
    out = to_dbml(contract)
    assert "Ref: line_items.order_id > orders.order_id" in out


@needs_reference
def test_protobuf_export():
    contract = load_contract(EXPORT_FIXTURE)
    out = to_protobuf(contract)
    assert 'syntax = "proto3";' in out
    assert "package example;" in out
    assert "message Orders {" in out
    assert "string order_id = 1;" in out
    # enum from customProperties on order_status — defined once AND used as
    # the field's type (a dangling string field would contradict the enum)
    assert "enum OrderStatus {" in out
    assert "ORDERSTATUS_UNKNOWN = 0;" in out
    assert "ORDERSTATUS_PENDING = 1;" in out
    assert "OrderStatus order_status = 3;" in out
    assert out.count("enum OrderStatus {") == 1
    nested = load_contract_str(NESTED_CONTRACT)
    out2 = to_protobuf(nested)
    assert "repeated string tags" in out2
    assert "message Customer {" in out2
    assert "optional double amount" in out2


def test_go_export():
    contract = load_contract_str(NESTED_CONTRACT)
    out = to_go(contract)
    assert "type Orders struct {" in out
    assert 'OrderId string `json:"order_id"`' in out
    assert 'Amount *float64 `json:"amount"`' in out
    assert 'Tags []string `json:"tags"`' in out
    assert "type Customer struct {" in out
    assert 'import "time"' in out


@needs_reference
def test_cli_export_code_formats(capsys):
    for fmt, probe in [("great-expectations", "expect_table_columns"),
                       ("pydantic", "pydantic.BaseModel"),
                       ("sqlalchemy", "declarative_base"),
                       ("dbml", "Project"),
                       ("protobuf", "proto3"),
                       ("go", "struct")]:
        rc = main(["export", EXPORT_FIXTURE, "--format", fmt])
        assert rc == 0, fmt
        assert probe in capsys.readouterr().out, fmt


def test_bigquery_export_roundtrips_with_importer(tmp_path):
    """export bigquery -> import bigquery must reproduce the schema."""
    import json as _json

    from datacontract_cli_spark.export_code import to_bigquery_json
    from datacontract_cli_spark.model.contract import Server
    from datacontract_cli_spark.sources.importers import import_bigquery_json

    contract = load_contract_str(NESTED_CONTRACT)
    contract.servers = [Server(server="bq", type="bigquery",
                               options={"project": "p1", "dataset": "d1"})]
    doc = _json.loads(to_bigquery_json(contract, "orders"))
    assert doc["tableReference"] == {"datasetId": "d1", "projectId": "p1",
                                     "tableId": "orders"}
    fields = {f["name"]: f for f in doc["schema"]["fields"]}
    assert fields["order_id"]["mode"] == "REQUIRED"
    assert fields["amount"]["type"] == "NUMERIC"
    assert fields["tags"]["mode"] == "REPEATED"
    assert fields["customer"]["type"] == "RECORD"
    assert [f["name"] for f in fields["customer"]["fields"]] == ["email"]
    back = import_bigquery_json(doc)
    by = {p.name: p for p in back.schema_objects[0].properties}
    assert by["order_id"].required
    assert by["customer"].logical_type == "object"
    assert by["tags"].logical_type == "array"


def test_dcs_export_roundtrips_through_loader():
    from datacontract_cli_spark.export_code import to_dcs_yaml

    contract = load_contract_str(NESTED_CONTRACT)
    text = to_dcs_yaml(contract)
    assert "dataContractSpecification: 1.2.0" in text
    back = load_contract_str(text)  # the loader's legacy DCS lane
    obj = back.schema_objects[0]
    assert obj.name == "orders"
    by = {p.name: p for p in obj.properties}
    assert by["order_id"].required and by["order_id"].primary_key
    assert by["amount"].logical_type == "number"
    assert by["customer"].logical_type == "object"
    assert by["customer"].properties[0].name == "email"
    assert by["tags"].items.logical_type == "string"


def test_custom_jinja_export(tmp_path):
    from datacontract_cli_spark.export_code import to_custom_jinja

    tpl = tmp_path / "report.j2"
    tpl.write_text(
        "contract: {{ data_contract.id }} v{{ data_contract.version }}\n"
        "{% for obj in data_contract.schema_objects %}"
        "model {{ obj.name }}: {{ obj.properties | length }} columns\n"
        "{% endfor %}")
    contract = load_contract_str(NESTED_CONTRACT)
    out = to_custom_jinja(contract, str(tpl))
    assert "contract: code-gen v1.0.0" in out
    assert "model orders: 5 columns" in out
    # schema-scoped context
    tpl2 = tmp_path / "one.j2"
    tpl2.write_text("{{ schema_name }}:{{ schema.properties[0].name }}")
    assert to_custom_jinja(contract, str(tpl2), "orders") == "orders:order_id"


@needs_reference
def test_cli_export_bigquery_dcs_custom(tmp_path, capsys):
    import yaml as _yaml

    src = tmp_path / "c.yaml"
    doc = _yaml.safe_load(open(EXPORT_FIXTURE))
    doc["servers"] = [{"server": "prod", "type": "bigquery",
                       "project": "p", "dataset": "d"}]
    src.write_text(_yaml.safe_dump(doc))
    assert main(["export", str(src), "--format", "bigquery"]) == 0
    assert "bigquery#table" in capsys.readouterr().out
    assert main(["export", str(src), "--format", "dcs"]) == 0
    assert "dataContractSpecification" in capsys.readouterr().out
    tpl = tmp_path / "t.j2"
    tpl.write_text("{{ data_contract.id }}")
    assert main(["export", str(src), "--format", "custom",
                 "--template", str(tpl)]) == 0
    assert "orders-unit-test" in capsys.readouterr().out
    assert main(["export", str(src), "--format", "custom"]) == 1


@needs_reference
def test_iceberg_export_roundtrips_with_importer():
    import json as _json

    from datacontract_cli_spark.export_code import to_iceberg_json
    from datacontract_cli_spark.sources.importers import (
        import_iceberg_json,
        import_iceberg_json_file,
    )

    src = import_iceberg_json_file(
        "/root/reference/tests/fixtures/iceberg/nested_schema.json", "t")
    doc = _json.loads(to_iceberg_json(src, "t"))
    assert doc["type"] == "struct" and doc["schema-id"] == 0
    # fresh ids: struct fields first, consecutive from 1
    assert [f["id"] for f in doc["fields"]] == list(range(1, 8))
    back = import_iceberg_json(doc, "t")
    a = {p.name: (p.logical_type, p.required)
         for p in src.schema_objects[0].properties}
    b = {p.name: (p.logical_type, p.required)
         for p in back.schema_objects[0].properties}
    assert a == b


def test_iceberg_export_identifier_fields():
    import json as _json

    from datacontract_cli_spark.export_code import to_iceberg_json

    contract = load_contract_str(NESTED_CONTRACT)
    doc = _json.loads(to_iceberg_json(contract, "orders"))
    pk_field = next(f for f in doc["fields"] if f["name"] == "order_id")
    assert doc["identifier-field-ids"] == [pk_field["id"]]
    assert pk_field["required"] is True


@needs_reference
def test_cli_export_iceberg(capsys):
    rc = main(["export", EXPORT_FIXTURE, "--format", "iceberg",
               "--schema", "orders"])
    assert rc == 0
    assert '"identifier-field-ids"' in capsys.readouterr().out


@needs_reference
def test_dqx_export_matches_reference_expected_rules():
    import yaml as _yaml

    from datacontract_cli_spark.export_code import to_dqx_yaml

    contract = load_contract(
        "/root/reference/tests/fixtures/dqx/datacontract.odcs.yaml")
    rules = _yaml.safe_load(to_dqx_yaml(contract))
    # the reference test's leading expectations (tests/test_export_dqx.py)
    assert rules[0] == {"criticality": "error",
                       "check": {"function": "is_not_null",
                                 "arguments": {"column": "interaction_id"}}}
    fk = next(r for r in rules if r["check"]["function"] == "foreign_key")
    assert fk["check"]["arguments"]["columns"] == ["user_id"]
    assert fk["check"]["arguments"]["ref_table"] == "catalog1.schema1.user"
    uniq = next(r for r in rules if r["check"]["function"] == "is_unique")
    assert uniq["check"]["arguments"]["columns"] == ["user_id"]
    in_list = next(r for r in rules if r["check"]["function"] == "is_in_list")
    assert in_list["check"]["arguments"]["column"] == "interaction_type"
    # nested struct columns carry dotted paths
    dotted = [r for r in rules
              if "." in str(r["check"].get("arguments", {}).get("column", ""))]
    assert dotted, "nested property rules must carry dotted column paths"


def test_dqx_export_empty_without_quality():
    from datacontract_cli_spark.export_code import to_dqx_yaml

    contract = load_contract_str(NESTED_CONTRACT)
    assert yaml_load_empty(to_dqx_yaml(contract))


def yaml_load_empty(text):
    import yaml as _yaml
    return _yaml.safe_load(text) in (None, [])


@needs_reference
def test_cli_export_dqx(capsys):
    rc = main(["export",
               "/root/reference/tests/fixtures/dqx/datacontract.odcs.yaml",
               "--format", "dqx"])
    assert rc == 0
    assert "is_not_null" in capsys.readouterr().out


DATA_CATERER_EXPECTED_HEAD = {
    "name": "Orders Unit Test",
}


@needs_reference
def test_data_caterer_matches_reference_expectation():
    import yaml as _yaml

    from datacontract_cli_spark.export_code import to_data_caterer_yaml

    contract = load_contract(
        "/root/reference/tests/fixtures/data-caterer/export/datacontract_nested.yaml")
    got = _yaml.safe_load(to_data_caterer_yaml(contract))
    assert got["name"] == "Orders Unit Test"
    [step] = got["steps"]
    assert step["type"] == "json"
    assert step["options"]["path"] == "s3://covid19-lake/enigma-jhu/json/*.json"
    fields = {f["name"]: f for f in step["fields"]}
    # the reference test's expected per-field types/options
    assert fields["order_id"]["options"] == {
        "isUnique": True, "isPrimaryKey": True, "minLen": 8, "maxLen": 10,
        "regex": "^B[0-9]+$"}
    assert fields["order_total"]["type"] == "decimal"     # bigint -> decimal
    assert fields["order_total"]["options"] == {"min": 0, "max": 1000000}
    assert fields["customer_id_long"]["type"] == "long"
    assert fields["customer_id_float"]["type"] == "float"
    assert fields["customer_id_number"]["type"] == "double"
    assert fields["order_status"]["options"]["oneOf"] == \
        ["pending", "shipped", "delivered"]
    assert [f["name"] for f in fields["address"]["fields"]] == ["street", "city"]
    assert fields["tags"]["options"] == {"arrayType": "string"}
    assert fields["tags_int"]["options"] == {"arrayType": "integer"}
    # server selection lane
    got2 = _yaml.safe_load(to_data_caterer_yaml(contract, "s3-json-prod"))
    assert got2["steps"][0]["options"]["path"] == \
        "s3://covid19-lake-prod/enigma-jhu/json/*.json"


@needs_reference
def test_cli_export_data_caterer(capsys):
    rc = main(["export",
               "/root/reference/tests/fixtures/data-caterer/export/datacontract_nested.yaml",
               "--format", "data-caterer"])
    assert rc == 0
    assert "steps:" in capsys.readouterr().out


def test_avro_idl_matches_reference_expected_shape():
    from textwrap import dedent

    from datacontract_cli_spark.export_code import to_avro_idl

    contract = load_contract_str("""
dataContractSpecification: 1.2.1
id: urn:orders
info:
  title: Orders Latest
  version: 1.0.0
  description: |
    Successful customer orders in the webshop.
    All orders since 2020-01-01.
    Orders with their line items are in their current state (no history included).
models:
  orders:
    description: One record per order. Includes cancelled and deleted orders.
    fields:
      order_id:
        type: text
        required: true
        description: An internal ID that identifies an order in the online shop.
""")
    expected = dedent("""
      /** Successful customer orders in the webshop.
      All orders since 2020-01-01.
      Orders with their line items are in their current state (no history included).
       */
      protocol OrdersLatest {
          /** One record per order. Includes cancelled and deleted orders. */
          record orders {
              /** An internal ID that identifies an order in the online shop. */
              string order_id;
          }
      }
    """).strip()
    assert to_avro_idl(contract).strip() == expected


def test_avro_idl_optionals_arrays_nested():
    from datacontract_cli_spark.export_code import to_avro_idl

    out = to_avro_idl(load_contract_str(NESTED_CONTRACT))
    assert "string order_id;" in out          # required -> bare type
    assert "double? amount;" in out           # optional -> '?'
    assert "array<string>? tags;" in out
    assert "record customer_type {" in out
    assert "customer_type? customer;" in out


@needs_reference
def test_cli_export_avro_idl(capsys):
    rc = main(["export", EXPORT_FIXTURE, "--format", "avro-idl"])
    assert rc == 0
    assert "protocol OrdersUnitTest {" in capsys.readouterr().out


@needs_reference
def test_rdf_turtle_export():
    from datacontract_cli_spark.export_code import to_rdf_turtle

    contract = load_contract(
        "/root/reference/tests/fixtures/export/rdf/datacontract.yaml")
    ttl = to_rdf_turtle(contract, "https://example.com/")
    assert ttl.startswith("@base <https://example.com/> .")
    assert "<orders-unit-test> a odcs:DataContract ;" in ttl
    assert 'odcs:team "checkout"' in ttl
    assert "odcs:schema_ <orders> ." in ttl
    assert "<orders> a odcs:Schema" in ttl
    assert 'odcsx:tags "order_id"' in ttl
    assert 'odcs:classification "sensitive"' in ttl
    assert "odcs:required true" in ttl and "odcs:unique true" in ttl
    # no base -> no @base line, still valid prefixes
    ttl2 = to_rdf_turtle(contract)
    assert not ttl2.startswith("@base") and "@prefix odcs:" in ttl2


@needs_reference
def test_cli_export_rdf(capsys):
    rc = main(["export",
               "/root/reference/tests/fixtures/export/rdf/datacontract.yaml",
               "--format", "rdf", "--base", "urn:acme:"])
    assert rc == 0
    assert "odcs:DataContract" in capsys.readouterr().out


def test_exporters_do_not_mutate_contract_rules():
    """Review finding: _gx_quality/_dqx_rule injected keys into the
    contract's own implementation dicts."""
    import copy

    from datacontract_cli_spark.export_code import to_dqx_yaml, to_great_expectations

    contract = load_contract_str("""
apiVersion: v3.1.0
kind: DataContract
id: mut
version: 1.0.0
schema:
  - name: t
    properties:
      - name: x
        logicalType: integer
        quality:
          - type: custom
            engine: great-expectations
            implementation:
              type: expect_column_max_to_be_between
              kwargs: {max_value: 5}
          - type: custom
            engine: dqx
            implementation:
              criticality: error
              check: {function: is_not_null}
""")
    rules = contract.schema_objects[0].properties[0].quality
    before = copy.deepcopy([r.implementation for r in rules])
    to_great_expectations(contract, "t")
    to_dqx_yaml(contract, "t")
    after = [r.implementation for r in rules]
    assert after == before, "exporters must not mutate the contract"


@needs_reference
def test_odcs_roundtrip_preserves_descriptions_tags_servers():
    """Review finding: import output was silently lossy — descriptions,
    tags, servers, and model physicalType were dropped on serialize."""
    import yaml as _yaml

    from datacontract_cli_spark.export import to_odcs_yaml
    from datacontract_cli_spark.sources import importers

    c = importers.import_dbt_manifest_file(
        "/root/reference/tests/fixtures/dbt/import/manifest_jaffle_duckdb.json")
    doc = _yaml.safe_load(to_odcs_yaml(c))
    orders = next(s for s in doc["schema"] if s["name"] == "orders")
    assert orders["description"].startswith("This table has basic information")
    assert orders["physicalType"] == "table"
    col = next(p for p in orders["properties"] if p["name"] == "order_id")
    assert col["description"] == "This is a unique identifier for an order"
    # reload round-trips the same fields
    back = load_contract_str(to_odcs_yaml(c))
    b_orders = back.schema_object("orders")
    assert b_orders.description == orders["description"]
    assert b_orders.properties[0].description is not None
    # servers serialize too
    from datacontract_cli_spark.model.contract import Server
    c.servers = [Server(server="s1", type="local", format="parquet",
                        path="/tmp/x", options={"extra": 1})]
    doc2 = _yaml.safe_load(to_odcs_yaml(c))
    assert doc2["servers"] == [{"server": "s1", "type": "local",
                                "format": "parquet", "path": "/tmp/x",
                                "extra": 1}]


def test_rdf_empty_model_and_iri_escaping():
    from datacontract_cli_spark.export_code import to_rdf_turtle
    from datacontract_cli_spark.model.contract import DataContract, SchemaObject

    c = DataContract(id="my contract", version="1.0.0",
                     schema_objects=[SchemaObject(name="empty model")])
    ttl = to_rdf_turtle(c)
    assert "<my%20contract>" in ttl and "<empty%20model>" in ttl
    assert "odcs:property\n ." not in ttl       # no dangling predicate
    assert "<empty%20model> a odcs:Schema ." in ttl


def test_sql_importer_int_with_params_and_quoted_dotted_names():
    from datacontract_cli_spark.sources import sql_ddl

    c = sql_ddl.import_sql_ddl(
        'CREATE TABLE s."t.x" (a INT(11) NOT NULL, b BIGINT(20), "c--d" INT);')
    [obj] = c.schema_objects
    assert obj.name == "t.x"                    # quoted dot kept in the name
    by = {p.name: p for p in obj.properties}
    assert by["a"].logical_type == "integer"    # INT(11) maps via the head
    assert by["b"].logical_type == "integer"
    assert by["c--d"].logical_type == "integer"  # '--' inside quotes != comment


@needs_reference
def test_excel_export_roundtrips_through_importer(tmp_path):
    """to_excel writes a workbook the stdlib importer reads back losslessly
    for every covered field — verified on the reference's shipments
    contract."""
    from datacontract_cli_spark.export_excel import to_excel_bytes
    from datacontract_cli_spark.sources.excel_import import import_excel

    src = import_excel(
        "/root/reference/tests/fixtures/excel/shipments-odcs.xlsx")
    path = str(tmp_path / "roundtrip.xlsx")
    with open(path, "wb") as f:
        f.write(to_excel_bytes(src))
    back = import_excel(path)
    assert (back.id, back.name, back.version) == (src.id, src.name, src.version)
    assert back.description == src.description
    assert [(s.server, s.type, s.options) for s in back.servers] == \
        [(s.server, s.type, s.options) for s in src.servers]
    a = {p.name: p for p in src.schema_objects[0].properties}
    b = {p.name: p for p in back.schema_objects[0].properties}
    assert set(a) == set(b)
    for n in a:
        for attr in ("logical_type", "physical_type", "physical_name",
                     "description", "required", "unique", "primary_key",
                     "classification", "tags"):
            assert getattr(a[n], attr) == getattr(b[n], attr), (n, attr)
    assert {c.name for c in a["address"].properties} == \
        {c.name for c in b["address"].properties}
    assert [(s.property, s.value, s.unit) for s in back.sla_properties] == \
        [(s.property, s.value, s.unit) for s in src.sla_properties]


@needs_reference
def test_cli_export_excel(tmp_path, capsys):
    out = str(tmp_path / "c.xlsx")
    rc = main(["export", EXPORT_FIXTURE, "--format", "excel",
               "--output", out])
    assert rc == 0
    from datacontract_cli_spark.sources.excel_import import import_excel
    assert import_excel(out).id == "orders-unit-test"
    # binary format without --output is a clean error
    assert main(["export", EXPORT_FIXTURE, "--format", "excel"]) == 1
