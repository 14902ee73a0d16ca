"""Contract-document lint parity: the same invalid-document classes the
reference's lint rejects via spec JSON-Schema validation
(lint/resolve.py:441-466, fixtures tests/fixtures/lint/*)."""

import subprocess
import sys

from datacontract_cli_spark.model.lint import lint_str

VALID_ODCS = """
apiVersion: "v3.0.2"
kind: "DataContract"
id: "valid_odcs"
name: "Valid ODCS data contract"
version: "2.0.0"
status: "draft"
tags: ["datalocation:EU"]
customProperties:
  - property: "additionalField"
    value: "some value"
schema:
  - name: "shipments"
    physicalType: "table"
    properties:
      - name: "shipment_id"
        logicalType: "string"
        required: true
servers:
  - server: prod
    type: local
"""


def test_valid_odcs_passes():
    assert lint_str(VALID_ODCS) == []


def test_missing_status_rejected():
    # reference fixture invalid.odcs.yaml: status commented out
    doc = """
apiVersion: "v3.0.2"
kind: "DataContract"
id: "valid_odcs"
name: "invalid: the status is missing"
version: "1.0.0"
"""
    problems = lint_str(doc)
    assert len(problems) == 1
    assert "status" in problems[0]


def test_multiple_missing_fields_all_reported():
    # reference fixture invalid_multiple_errors.odcs.yaml: version AND status
    doc = """
apiVersion: "v3.0.2"
kind: "DataContract"
id: "invalid_odcs_multiple"
name: "version and status are missing"
"""
    problems = lint_str(doc)
    assert len(problems) == 2
    assert any("version" in p for p in problems)
    assert any("status" in p for p in problems)


def test_null_description_rejected():
    # reference fixture invalid_multiple_schema_errors.odcs.yaml:
    # an empty `description:` key parses as null, which is not a string
    doc = """
apiVersion: v3.1.0
kind: DataContract
id: "invalid_odcs_multiple"
version: "1.0.0"
status: "draft"
schema:
  - name: no_description_schema
    logicalType: object
    description:
    properties:
      - name: id
        logicalType: string
        description: The unique identifier.
"""
    problems = lint_str(doc)
    assert len(problems) == 1
    assert "description" in problems[0] and "string" in problems[0]


def test_wrong_kind_rejected():
    doc = VALID_ODCS.replace('kind: "DataContract"', 'kind: "Nonsense"')
    problems = lint_str(doc)
    assert any("kind" in p or "Nonsense" in p for p in problems)


def test_legacy_dcs_missing_id_rejected():
    # reference fixture invalid_datacontract.yaml: id commented out
    doc = """
dataContractSpecification: 1.2.1
info:
  title: My Data Contract
  version: 0.0.1
"""
    problems = lint_str(doc)
    assert len(problems) == 1 and "id" in problems[0]


def test_legacy_dcs_valid_passes():
    doc = """
dataContractSpecification: 1.2.0
id: my-contract
info:
  title: My Data Contract
  version: 0.0.1
models:
  orders:
    type: table
    fields:
      id:
        type: string
"""
    assert lint_str(doc) == []


def test_non_mapping_rejected():
    assert lint_str("- just\n- a\n- list\n") == ["contract YAML must be a mapping"]
    assert lint_str(":\n  bad: [yaml")[0].startswith("invalid YAML")


def test_errors_sorted_by_path():
    doc = """
apiVersion: "v3.0.2"
kind: "DataContract"
id: "x"
version: "1.0.0"
status: "draft"
schema:
  - name: ok
    description: 5
servers:
  - type: local
"""
    problems = lint_str(doc)
    # schema[0].description wrong type AND servers[0] missing 'server'
    assert len(problems) == 2
    assert problems[0].startswith("schema.0.description")
    assert problems[1].startswith("servers.0")


def test_cli_lint_rejects_invalid(tmp_path):
    bad = tmp_path / "bad.yaml"
    bad.write_text('apiVersion: "v3.0.2"\nkind: "DataContract"\nid: "x"\n')
    r = subprocess.run([sys.executable, "-m", "datacontract_cli_spark", "lint", str(bad)],
                       capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 1
    assert "invalid:" in r.stderr

    good = tmp_path / "good.yaml"
    good.write_text(VALID_ODCS)
    r = subprocess.run([sys.executable, "-m", "datacontract_cli_spark", "lint", str(good)],
                       capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0
    assert r.stdout.startswith("OK:")


def _malformed_declared(doc) -> int:
    """Elements that are not mappings in the top-level schema, servers and
    slaProperties lists and in the quality and properties lists of the
    (non-blob) schema objects and their properties, counted on the raw
    document the way the loader walks it."""
    from datacontract_cli_spark.model.contract import _is_legacy_dcs

    def bad(v):
        return sum(not isinstance(x, dict) for x in v) if isinstance(v, list) else 0

    def field(f, legacy):
        kids = f.get("fields" if legacy else "properties")
        if legacy:
            kids = list(kids.values()) if isinstance(kids, dict) else []
        n = bad(f.get("quality")) + (0 if legacy else bad(kids))
        kids = [k for k in (kids if isinstance(kids, list) else []) if isinstance(k, dict)]
        if isinstance(f.get("items"), dict):
            kids.append(f["items"])
        return n + sum(field(k, legacy) for k in kids)

    legacy = _is_legacy_dcs(doc)
    if legacy:
        models = doc["models"].values() if isinstance(doc["models"], dict) else []
    else:
        models = doc.get("schema") if isinstance(doc.get("schema"), list) else []
    models = [m for m in models if isinstance(m, dict)
              and (m.get("type" if legacy else "logicalType") or "table") != "blob"]
    top = 0 if legacy else sum(bad(doc.get(k))
                               for k in ("schema", "servers", "slaProperties"))
    return top + sum(field(m, legacy) for m in models)


def test_malformed_list_elements_become_error_checks():
    from datacontract_cli_spark.checks.compile import compile_checks
    from datacontract_cli_spark.model.contract import load_contract_str

    specs = compile_checks(load_contract_str("""
schema:
  - name: t
    quality: [oops, {type: sql, query: "select 0", mustBe: 0}]
    properties:
      - name: a
        logicalType: object
        quality: [7]
        properties: [5, {name: c, logicalType: string, quality: [x]}]
      - not a property
"""))
    errors = {sp.key: (sp.category, sp.preset_result, sp.preset_reason)
              for sp in specs if sp.type == "malformed_element"}
    assert errors == {
        "t__a__malformed_element_0": ("schema", "error", "Contract element property 'a' "
                                      "properties[0] (int) is not a mapping, so it was not checked"),
        "t__a__malformed_element_1": ("quality", "error", "Contract element property 'a' "
                                      "quality[0] (int) is not a mapping, so it was not checked"),
        "t__a__malformed_element_2": ("quality", "error", "Contract element property 'c' "
                                      "quality[0] (str) is not a mapping, so it was not checked"),
        "t__malformed_element_0": ("schema", "error", "Contract element schema 't' "
                                   "properties[1] (str) is not a mapping, so it was not checked"),
        "t__malformed_element_1": ("quality", "error", "Contract element schema 't' "
                                   "quality[0] (str) is not a mapping, so it was not checked"),
    }
    # the well-formed rule still compiles
    assert any(sp.type == "model_quality_sql" for sp in specs)


def test_malformed_top_level_elements_become_error_checks(spark):
    from datacontract_cli_spark.checks.compile import compile_checks
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str

    contract = load_contract_str("""
schema: [oops, {name: t, properties: [{name: a, required: true}]}]
servers: [7]
slaProperties: [[retention], {property: retention, value: 1y}]
""")
    errors = {sp.key: (sp.category, sp.model, sp.preset_reason)
              for sp in compile_checks(contract) if sp.type == "malformed_element"}
    assert errors == {
        "contract__malformed_element_0": ("schema", None, "Contract element "
                                          "schema[0] (str) is not a mapping, so it was not checked"),
        "contract__malformed_element_1": ("schema", None, "Contract element "
                                          "servers[0] (int) is not a mapping, so it was not checked"),
        "contract__malformed_element_2": ("servicelevel", None, "Contract element "
                                          "slaProperties[0] (list) is not a mapping, so it was not "
                                          "checked"),
    }
    # a filtered compile still reports them: they belong to no schema object
    assert sum(sp.type == "malformed_element"
               for sp in compile_checks(contract, schema_name="t")) == 3
    # the engine reports them without a table, next to the checks that ran
    run = SparkContractEngine(spark).test(
        contract, tables={"t": spark.createDataFrame([("x",)], "a string")})
    results = {c.key: (c.result.value, c.model) for c in run.checks}
    assert results["contract__malformed_element_1"] == ("error", None)
    assert results["t__a__field_required"] == ("passed", "t")
    assert run.result.value == "error"


def test_loader_never_crashes_on_fuzzed_documents():
    """Shape-fuzz the loader + check compiler: arbitrary nested YAML
    documents must either load or raise a clean ValueError/TypeError —
    never AttributeError-style crashes (the ADVICE-1 servicelevels bug
    class)."""
    import yaml
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from datacontract_cli_spark.checks.compile import compile_checks
    from datacontract_cli_spark.model.contract import load_contract_str

    keys = st.sampled_from([
        "id", "version", "schema", "models", "servers", "servicelevels",
        "slaProperties", "info", "name", "properties", "fields", "type",
        "logicalType", "required", "quality", "items", "logicalTypeOptions",
        "metric", "property", "value", "unit", "element", "pattern", "enum",
        "minimum", "physicalType", "customProperties", "threshold",
        "dataContractSpecification", "retention", "freshness",
        "timestampField", "period", "mustBe", "arguments",
        # r6: container fields drawn explicitly so wrong-typed values land
        # at every nesting level (the r5 crash was found only by luck)
        "tags", "config", "team", "mustBeBetween", "description"])
    vals = st.recursive(
        st.one_of(st.none(), st.booleans(), st.integers(-5, 5),
                  st.sampled_from(["x", "P1Y", "25h", "table", "string",
                                   "library", "rowCount", "1.0.0", "orders.ts"])),
        lambda c: st.one_of(st.lists(c, max_size=3),
                            st.dictionaries(keys, c, max_size=3)),
        max_leaves=10)

    @settings(max_examples=150, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(d=st.dictionaries(keys, vals, max_size=5))
    def run(d):
        try:
            text = yaml.safe_dump(d)
        except Exception:
            return
        try:
            specs = compile_checks(load_contract_str(text))
        except (ValueError, TypeError):
            return  # clean rejection
        # fail closed: every declared list element that is not a mapping is
        # one emitted error check, never a silent drop
        assert sum(sp.type == "malformed_element" for sp in specs) \
            == _malformed_declared(d)

    run()

    # the same invariant on contract-shaped documents, where malformed
    # elements sit at every quality/properties/fields/items depth
    scalar = st.sampled_from(["x", 3, True, None])
    rule = st.one_of(scalar, st.fixed_dictionaries(
        {"metric": st.sampled_from(["rowCount", "nullValues"])},
        optional={"mustBe": st.just(0)}))
    rules = st.lists(rule, max_size=3)
    names = st.sampled_from(["a", "b", "c"])

    def prop(children, legacy):
        nested = (st.dictionaries(names, children, max_size=2) if legacy
                  else st.lists(st.one_of(scalar, children), max_size=3))
        return st.fixed_dictionaries({"name": names}, optional={
            "fields" if legacy else "properties": nested, "items": children,
            "quality": rules, "type" if legacy else "logicalType":
                st.sampled_from(["string", "object", "array"])})

    def model(legacy):
        props = st.recursive(
            st.fixed_dictionaries({"name": names}, optional={"quality": rules}),
            lambda c: prop(c, legacy), max_leaves=6)
        kind = st.sampled_from(["table", "blob"])
        if legacy:
            return st.fixed_dictionaries({}, optional={
                "type": kind, "quality": rules,
                "fields": st.dictionaries(names, props, max_size=3)})
        return st.fixed_dictionaries({"name": names}, optional={
            "logicalType": kind, "quality": rules,
            "properties": st.lists(st.one_of(scalar, props), max_size=3)})

    @settings(max_examples=150, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(d=st.one_of(
        st.fixed_dictionaries({"schema": st.lists(st.one_of(scalar, model(False)),
                                                  max_size=3)}),
        st.fixed_dictionaries({"models": st.dictionaries(names, model(True),
                                                         max_size=2)})))
    def run_shaped(d):
        specs = compile_checks(load_contract_str(yaml.safe_dump(d)))
        assert sum(sp.type == "malformed_element" for sp in specs) \
            == _malformed_declared(d)

    run_shaped()

    # r6: scalar-at-every-container-position adversaries, run explicitly —
    # each of these container fields must reject (or ignore) a scalar with
    # a clean ValueError/TypeError, never an AttributeError crash
    scalars = ["x", 3, True, None]
    shells = [
        lambda v: {"schema": v},
        lambda v: {"schema": [v]},
        lambda v: {"schema": [{"properties": v}]},
        lambda v: {"schema": [{"properties": [{"properties": v}]}]},
        lambda v: {"schema": [{"properties": [{"items": v}]}]},
        lambda v: {"schema": [{"properties": [{"quality": v}]}]},
        lambda v: {"schema": [{"properties": [{"logicalTypeOptions": v}]}]},
        lambda v: {"schema": [{"properties": [{"customProperties": v}]}]},
        lambda v: {"schema": [{"properties": [{"tags": v}]}]},
        lambda v: {"schema": [{"quality": [{"arguments": v,
                                            "mustBeBetween": v,
                                            "tags": v}]}]},
        lambda v: {"servers": v},
        lambda v: {"servers": [v]},
        lambda v: {"slaProperties": v},
        lambda v: {"models": v},
        lambda v: {"models": {"m": v}},
        lambda v: {"models": {"m": {"fields": v}}},
        lambda v: {"models": {"m": {"fields": {"f": v}}}},
        lambda v: {"models": {"m": {"fields": {"f": {"fields": v}}}}},
        lambda v: {"models": {"m": {"fields": {"f": {"quality": v}}}}},
        lambda v: {"servicelevels": v},
        lambda v: {"servicelevels": {"freshness": v}},
        lambda v: {"info": v},
    ]
    for shell in shells:
        for s in scalars:
            try:
                compile_checks(load_contract_str(yaml.safe_dump(shell(s))))
            except (ValueError, TypeError):
                pass
