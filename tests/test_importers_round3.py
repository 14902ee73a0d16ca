"""Round-3 importers: dbt manifest, BigQuery table JSON, Unity Catalog
table JSON — validated against the reference repo's own import fixtures
and (for dbt) its committed expected-output contract."""

import os

import pytest
import yaml

from datacontract_cli_spark.cli import main
from datacontract_cli_spark.sources import importers

DBT_MANIFEST = "/root/reference/tests/fixtures/dbt/import/manifest_jaffle_duckdb.json"
DBT_EXPECTED = "/root/reference/tests/fixtures/dbt/import/expected/manifest_jaffle_duckdb.odcs.yaml"
BQ_SCHEMA = "/root/reference/tests/fixtures/bigquery/import/complete_table_schema.json"
UNITY_SCHEMA = "/root/reference/tests/fixtures/databricks-unity/import/unity_table_schema.json"
UNITY_COMPLEX = "/root/reference/tests/fixtures/databricks-unity/import/unity_table_schema_complex_types.json"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(os.path.dirname(os.path.dirname(DBT_MANIFEST)))),
    reason="reference fixtures not available")


@needs_reference
def test_dbt_manifest_matches_reference_expected_contract():
    got = importers.import_dbt_manifest_file(DBT_MANIFEST)
    expected = yaml.safe_load(open(DBT_EXPECTED))
    assert got.id == expected["id"] == "jaffle_shop"
    got_models = {o.name: o for o in got.schema_objects}
    exp_models = {s["name"]: s for s in expected["schema"]}
    assert set(got_models) == set(exp_models)
    for name, es in exp_models.items():
        gp = {p.name: p for p in got_models[name].properties}
        for ep in es.get("properties") or []:
            g = gp[ep["name"]]
            assert g.logical_type == ep.get("logicalType"), (name, ep["name"])
            assert g.physical_type == ep.get("physicalType"), (name, ep["name"])
            assert g.required == bool(ep.get("required")), (name, ep["name"])
            assert g.unique == bool(ep.get("unique")), (name, ep["name"])
            assert g.primary_key == bool(ep.get("primaryKey")), (name, ep["name"])
            exp_refs = {c["property"]: c["value"]
                        for c in ep.get("customProperties") or []}.get("references")
            got_refs = ((g.options or {}).get("customProperties") or {}).get("references")
            assert got_refs == exp_refs, (name, ep["name"])


@needs_reference
def test_dbt_primary_key_inference_orders():
    got = importers.import_dbt_manifest_file(DBT_MANIFEST)
    orders = {o.name: o for o in got.schema_objects}["orders"]
    pk = [p for p in orders.properties if p.primary_key]
    assert [p.name for p in pk] == ["order_id"]
    assert pk[0].required and pk[0].unique


@needs_reference
def test_dbt_node_filter():
    got = importers.import_dbt_manifest_file(DBT_MANIFEST, dbt_nodes=["orders"])
    assert [o.name for o in got.schema_objects] == ["orders"]


@needs_reference
def test_bigquery_schema_import():
    got = importers.import_bigquery_json_file(BQ_SCHEMA)
    [obj] = got.schema_objects
    assert obj.name == "BQ_Example_Table"
    assert obj.physical_type == "table"
    by = {p.name: p for p in obj.properties}
    assert by["Nonnullable_String_field"].required
    assert by["Maxlength_string_field"].options["maxLength"] == 42
    assert by["Int_field"].logical_type == "integer"
    assert by["Numeric_Field"].logical_type == "number"
    # RECORD -> object with nested properties
    records = [p for p in obj.properties if p.physical_type == "RECORD"]
    assert records and all(p.properties for p in records)
    # REPEATED RECORD -> array of object
    rec_list = by["Record_List_Field"]
    assert rec_list.logical_type == "array"
    assert rec_list.items.logical_type == "object" and rec_list.items.properties
    # RANGE -> array of the range element type
    ranges = [p for p in obj.properties if p.physical_type == "RANGE"]
    assert ranges and ranges[0].logical_type == "array"
    [server] = got.servers
    assert server.type == "bigquery"
    assert server.options == {"project": "bigquery-test-423213",
                              "dataset": "test_dataset"}


@needs_reference
def test_unity_schema_import():
    got = importers.import_unity_json_file(UNITY_SCHEMA)
    [obj] = got.schema_objects
    by = {p.name: p for p in obj.properties}
    assert by["id"].required and by["id"].logical_type == "integer"
    assert by["name"].physical_type == "varchar(255)"
    assert by["salary"].logical_type == "number"
    assert by["join_date"].logical_type == "date"
    assert by["is_active"].logical_type == "boolean"


@needs_reference
def test_unity_complex_types_via_spark_type_json():
    got = importers.import_unity_json_file(UNITY_COMPLEX)
    by = {p.name: p for p in got.schema_objects[0].properties}
    assert by["id_list"].logical_type == "array"
    assert by["id_list"].items.logical_type == "integer"
    struct = by["id_struct"]
    assert struct.logical_type == "object"
    assert [c.name for c in struct.properties] == ["value"]
    sl = by["struct_list"]
    assert sl.logical_type == "array" and sl.items.logical_type == "object"
    assert [c.name for c in sl.items.properties] == ["key", "value"]
    # map has no ODCS v3.1 logical type (left unset, physicalType keeps it)
    assert by["attributes"].logical_type is None
    assert by["attributes"].physical_type.startswith("map<")


@needs_reference
def test_cli_import_round3_formats(capsys):
    for fmt, src, probe in [("dbt", DBT_MANIFEST, "jaffle"),
                            ("bigquery", BQ_SCHEMA, "BQ_Example_Table"),
                            ("unity", UNITY_SCHEMA, "test_table")]:
        rc = main(["import", "--format", fmt, "--source", src])
        assert rc == 0, fmt
        assert probe in capsys.readouterr().out, fmt
    assert main(["import", "--format", "dbt", "--source", "/nonexistent.json"]) == 1


ICEBERG_NESTED = "/root/reference/tests/fixtures/iceberg/nested_schema.json"
ICEBERG_SIMPLE = "/root/reference/tests/fixtures/iceberg/simple_schema.json"
ICEBERG_INVALID = "/root/reference/tests/fixtures/iceberg/invalid_schema.json"


@needs_reference
def test_iceberg_schema_import_nested():
    got = importers.import_iceberg_json_file(ICEBERG_NESTED, "t")
    by = {p.name: p for p in got.schema_objects[0].properties}
    assert by["foo"].logical_type == "string" and not by["foo"].required
    assert by["bar"].logical_type == "integer" and by["bar"].required
    assert by["qux"].logical_type == "array"
    assert by["qux"].items.logical_type == "string"
    # map -> object with key/value types in customProperties (reference shape)
    quux = by["quux"]
    assert quux.logical_type == "object" and quux.physical_type == "map"
    cp = quux.options["customProperties"]
    assert cp["mapKeyType"] == "string" and cp["mapValueType"] == "object"
    assert cp["mapNestedValueType"] == "integer"
    # list<struct> and struct recurse
    assert by["location"].items.logical_type == "object"
    assert {c.name for c in by["location"].items.properties} == \
        {"latitude", "longitude"}
    assert [c.name for c in by["person"].properties] == ["name", "age"]
    # field ids preserved
    assert by["foo"].options["customProperties"]["icebergFieldId"] == 1


@needs_reference
def test_iceberg_identifier_fields_become_primary_keys():
    got = importers.import_iceberg_json_file(ICEBERG_SIMPLE, "s")
    [prop] = [p for p in got.schema_objects[0].properties if p.primary_key]
    assert prop.primary_key_position == 1 and prop.required


@needs_reference
def test_iceberg_invalid_schema_raises():
    import pytest as _pytest
    with _pytest.raises(ValueError):
        importers.import_iceberg_json_file(ICEBERG_INVALID)


@needs_reference
def test_cli_import_iceberg(capsys):
    rc = main(["import", "--format", "iceberg", "--source", ICEBERG_NESTED])
    assert rc == 0
    assert "iceberg_table" in capsys.readouterr().out


DBML_FIXTURE = "/root/reference/tests/fixtures/dbml/import/dbml.txt"


@needs_reference
def test_dbml_import_reference_fixture():
    got = importers.import_dbml_file(DBML_FIXTURE)
    assert got.name == "Orders Latest"
    assert got.description.startswith("Successful customer orders")
    orders, line_items = got.schema_objects
    assert orders.name == "orders"
    assert orders.description == ("One record per order. Includes cancelled "
                                  "and deleted orders.")
    by = {p.name: p for p in orders.properties}
    oid = by["order_id"]
    assert oid.primary_key and oid.primary_key_position == 1
    assert oid.unique and oid.required
    assert oid.logical_type == "string" and oid.physical_type == "text"
    assert by["order_timestamp"].logical_type == "timestamp"
    # 'unique' inside a Note must NOT set the unique flag
    assert not by["customer_id"].unique and not by["customer_id"].required
    li = {p.name: p for p in line_items.properties}
    assert li["order_id"].options["customProperties"]["references"] == \
        "orders.order_id"


@needs_reference
def test_dbml_table_filter_and_errors():
    got = importers.import_dbml_file(DBML_FIXTURE, import_tables=["line_items"])
    assert [o.name for o in got.schema_objects] == ["line_items"]
    got = importers.import_dbml_file(DBML_FIXTURE, import_schemas=["test"])
    assert [o.name for o in got.schema_objects] == ["orders"]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        importers.import_dbml("no tables here at all")


@needs_reference
def test_cli_import_dbml(capsys):
    rc = main(["import", "--format", "dbml", "--source", DBML_FIXTURE])
    assert rc == 0
    assert "line_items" in capsys.readouterr().out


PROTO_SAMPLE = "/root/reference/tests/fixtures/protobuf/data/sample_data.proto3.data"
PROTO_NESTED = "/root/reference/tests/fixtures/protobuf/nested_imports/C.proto"


@needs_reference
def test_protobuf_import_matches_reference_expected():
    from datacontract_cli_spark.sources.proto_import import import_protobuf

    got = {o.name: o for o in import_protobuf([PROTO_SAMPLE]).schema_objects}
    expected = yaml.safe_load(open(
        "/root/reference/tests/fixtures/protobuf/expected/sample_data.odcs.yaml"))
    exp = {s["name"]: s for s in expected["schema"]}
    assert set(got) == set(exp) == {"Product", "Review"}

    def check(gprops, eprops):
        gb = {p.name: p for p in gprops}
        for ep in eprops:
            g = gb[ep["name"]]
            assert g.logical_type == ep.get("logicalType"), ep["name"]
            assert str(g.physical_type) == str(ep.get("physicalType")), ep["name"]
            assert g.description == ep.get("description"), ep["name"]
            assert g.required == bool(ep.get("required")), ep["name"]
            ecp = {c["property"]: c["value"]
                   for c in ep.get("customProperties") or []}
            gcp = (g.options or {}).get("customProperties") or {}
            assert gcp.get("enumValues") == ecp.get("enumValues"), ep["name"]
            if ep.get("items"):
                check(g.items.properties or [],
                      ep["items"].get("properties") or [])
            if ep.get("properties"):
                check(g.properties or [], ep["properties"])

    for name in exp:
        assert got[name].description == exp[name].get("description")
        check(got[name].properties, exp[name].get("properties") or [])


@needs_reference
def test_protobuf_transitive_imports():
    from datacontract_cli_spark.sources.proto_import import import_protobuf

    [company] = import_protobuf([PROTO_NESTED]).schema_objects
    assert company.name == "Company"   # imported Person/Address resolve but
    contact = {p.name: p for p in company.properties}["contact"]
    addr = {p.name: p for p in contact.properties}["address"]
    assert [p.name for p in addr.properties] == \
        ["street", "city", "country", "postal_code"]


@needs_reference
def test_cli_import_protobuf(capsys):
    rc = main(["import", "--format", "protobuf", "--source", PROTO_SAMPLE])
    assert rc == 0
    assert "Product" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# shape fuzzing for the new text parsers: garbage in -> ValueError or a
# contract, never an unexpected crash
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_DBML_TOKENS = st.sampled_from([
    "Table", "Project", "{", "}", "[", "]", "pk", "unique", "not null",
    "Note:", '"a b"', "'''x'''", "Ref:", ">", "<", "-", "t", "s.t", "int",
    "varchar(5)", ",", "\n", '"it''s"',
])


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_DBML_TOKENS, max_size=30))
def test_dbml_importer_never_crashes(tokens):
    try:
        c = importers.import_dbml(" ".join(tokens))
        assert c.schema_objects
    except ValueError:
        pass


_PROTO_TOKENS = st.sampled_from([
    "syntax", '= "proto3";', "message", "enum", "oneof", "{", "}", "repeated",
    "optional", "required", "string", "int32", "map<string, int32>", "Foo",
    "= 1;", "= 0;", "//x", "/*", "*/", "import", '"x.proto";', "reserved",
    "\n", "package a.b;",
])


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tokens=st.lists(_PROTO_TOKENS, max_size=30))
def test_proto_parser_never_crashes(tokens):
    import tempfile

    from datacontract_cli_spark.sources.proto_import import import_protobuf
    with tempfile.NamedTemporaryFile("w", suffix=".proto", delete=False) as f:
        f.write(" ".join(tokens))
        path = f.name
    try:
        c = import_protobuf([path])
        assert c.schema_objects
    except ValueError:
        pass


PBIT_FIXTURE = "/root/reference/tests/fixtures/powerbi/Artificial Intelligence Sample.pbit"
BIM_FIXTURE = "/root/reference/tests/fixtures/powerbi/model.bim"


@needs_reference
def test_powerbi_pbit_import():
    from datacontract_cli_spark.sources.powerbi_import import import_powerbi_file

    c = import_powerbi_file(PBIT_FIXTURE)
    assert c.id == "artificial-intelligence-sample"
    names = [o.name for o in c.schema_objects]
    assert "Cases" in names and "Accounts" in names
    assert not any(n.startswith("LocalDateTable_") for n in names)
    calendar = next(o for o in c.schema_objects if o.name == "Case_Calendar")
    assert calendar.physical_type == "calculated table"
    by = {p.name: p for p in calendar.properties}
    assert by["Date"].logical_type == "timestamp"   # dateTime (camelCase) maps
    cases = next(o for o in c.schema_objects if o.name == "Cases")
    created = {p.name: p for p in cases.properties}["Case_Created_On"]
    assert created.options["customProperties"]["references"] == "Case_Calendar.Date"


@needs_reference
def test_powerbi_bim_import_measures_and_relationships():
    from datacontract_cli_spark.sources.powerbi_import import import_powerbi_file

    c = import_powerbi_file(BIM_FIXTURE)
    names = [o.name for o in c.schema_objects]
    assert "Sales" in names
    sales = next(o for o in c.schema_objects if o.name == "Sales")
    by = {p.name: p for p in sales.properties}
    assert by["Total_Sales"].physical_type == "measure"
    assert by["Total_Sales"].options["customProperties"]["expression"]
    assert by["OrderDate"].options["customProperties"]["references"] == "Date.Date"


def test_powerbi_bad_files():
    import pytest as _pytest

    from datacontract_cli_spark.sources.powerbi_import import import_powerbi_file

    with _pytest.raises(ValueError):
        import_powerbi_file("/etc/hostname")  # unsupported extension
    with _pytest.raises((ValueError, OSError)):
        import_powerbi_file("/nonexistent.bim")


@needs_reference
def test_cli_import_powerbi(capsys):
    rc = main(["import", "--format", "powerbi", "--source", BIM_FIXTURE])
    assert rc == 0
    assert "Sales" in capsys.readouterr().out


XLSX_FIXTURE = "/root/reference/tests/fixtures/excel/shipments-odcs.xlsx"
XLSX_EXPECTED = "/root/reference/tests/fixtures/excel/shipments-odcs.yaml"


@needs_reference
def test_excel_import_matches_reference_expected():
    """The Excel template importer (stdlib SpreadsheetML reader — openpyxl
    absent) must reproduce the reference's expected contract for its own
    fixture, for every field our contract model carries."""
    from datacontract_cli_spark.sources.excel_import import import_excel

    got = import_excel(XLSX_FIXTURE)
    expected = yaml.safe_load(open(XLSX_EXPECTED))
    assert got.id == expected["id"]
    assert got.name == expected["name"]
    assert got.version == expected["version"]
    assert got.description == expected["description"]["purpose"]
    [srv] = got.servers
    esrv = expected["servers"][0]
    assert (srv.server, srv.type) == (esrv["server"], esrv["type"])
    assert srv.options["project"] == esrv["project"]
    assert srv.options["dataset"] == esrv["dataset"]
    [obj] = got.schema_objects
    eobj = expected["schema"][0]
    assert (obj.name, obj.physical_name, obj.physical_type) == \
        (eobj["name"], eobj["physicalName"], eobj["physicalType"])
    assert obj.description == eobj["description"]
    gb = {p.name: p for p in obj.properties}
    eb = {p["name"]: p for p in eobj["properties"]}
    assert set(gb) == set(eb)
    for n, ep in eb.items():
        g = gb[n]
        assert g.logical_type == ep.get("logicalType"), n
        assert g.physical_type == ep.get("physicalType"), n
        assert g.physical_name == ep.get("physicalName"), n
        assert g.description == ep.get("description"), n
        assert g.required == bool(ep.get("required")), n
        assert g.primary_key == bool(ep.get("primaryKey")), n
        assert g.classification == ep.get("classification"), n
        assert g.tags == (ep.get("tags") or None), n
    # SLA table
    [sla] = got.sla_properties
    assert (sla.property, sla.value, sla.unit) == ("availability", "95%", "%")


@needs_reference
def test_excel_import_nested_properties():
    from datacontract_cli_spark.sources.excel_import import import_excel

    got = import_excel(XLSX_FIXTURE)
    expected = yaml.safe_load(open(XLSX_EXPECTED))
    eb = {p["name"]: p for p in expected["schema"][0]["properties"]}
    gb = {p.name: p for p in got.schema_objects[0].properties}
    for name, ep in eb.items():
        if ep.get("properties"):
            g = gb[name]
            assert g.properties is not None, name
            assert {c.name for c in g.properties} == \
                {c["name"] for c in ep["properties"]}, name
        if ep.get("items"):
            g = gb[name]
            assert g.items is not None, name


@needs_reference
def test_cli_import_excel(capsys):
    rc = main(["import", "--format", "excel", "--source", XLSX_FIXTURE])
    assert rc == 0
    assert "fulfillment_shipments_v1" in capsys.readouterr().out
