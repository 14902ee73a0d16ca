"""Code/schema-generator exporters: great-expectations, pydantic,
sqlalchemy, dbml, protobuf, go.

Reference behavior (one module per format under datacontract/export/):
great_expectations_exporter.py (JSON suite: ordered-column expectation,
per-field type/unique/length/bounds/enum expectations, engine-specific type
names, engine=great-expectations quality rules merged), pydantic_exporter.py
(BaseModel per schema object, Optional for non-required, nested classes for
objects, list[T] for arrays), sqlalchemy_exporter.py (declarative Column
per property with nullable/primary_key/comment), dbml_exporter.py (Project
+ Table blocks with pk/unique/not null/note attributes and Ref lines from
relationships), protobuf_exporter.py (proto3 messages, repeated for arrays,
nested messages for objects, enums from enum options), go_exporter.py
(struct per model with json tags). Output here is behavior-matched, not
AST/byte-matched: same information, same type decisions."""

from __future__ import annotations

import json
import re
from typing import Any, Dict, List, Optional

import yaml

from datacontract_cli_spark.model.contract import DataContract, Property


def _opt(prop: Property, key: str) -> Any:
    return (prop.options or {}).get(key)


def _enum_of(prop: Property) -> Optional[List[Any]]:
    from datacontract_cli_spark.export_dbt import _enum_values
    return _enum_values(prop)


# ---------------------------------------------------------------------------
# great expectations
# ---------------------------------------------------------------------------

def _gx_type(prop: Property, engine: Optional[str]) -> Optional[str]:
    declared = prop.physical_type or prop.logical_type
    if declared is None:
        return None
    if engine == "spark":
        from datacontract_cli_spark.model.contract import SchemaObject as _SO
        from datacontract_cli_spark.sources.readers import contract_schema
        try:
            field = contract_schema(_SO(name="x", properties=[prop])).fields[0]
            return type(field.dataType).__name__
        except Exception:
            return declared
    if engine == "pandas":
        pandas_map = {"string": "object", "integer": "int64", "number": "float64",
                      "boolean": "bool", "timestamp": "datetime64[ns, UTC]",
                      "timestamp_ntz": "datetime64[ns]", "date": "datetime64[ns]",
                      "array": "object", "object": "object"}
        return pandas_map.get((prop.logical_type or "").lower(), "object")
    return declared


def to_great_expectations(contract: DataContract, schema_name: str,
                          suite_name: Optional[str] = None,
                          engine: Optional[str] = None) -> str:
    obj = contract.schema_object(schema_name)
    if obj is None:
        raise ValueError(f"Schema '{schema_name}' not found in data contract.")
    expectations: List[Dict[str, Any]] = []
    expectations.extend(_gx_quality(obj.quality))
    expectations.append({
        "type": "expect_table_columns_to_match_ordered_list",
        "kwargs": {"column_list": [p.name for p in obj.properties]},
        "meta": {},
    })
    for prop in obj.properties:
        t = _gx_type(prop, engine)
        if t is not None:
            expectations.append({"type": "expect_column_values_to_be_of_type",
                                 "kwargs": {"column": prop.name, "type_": t},
                                 "meta": {}})
        if prop.unique:
            expectations.append({"type": "expect_column_values_to_be_unique",
                                 "kwargs": {"column": prop.name}, "meta": {}})
        if _opt(prop, "minLength") is not None or _opt(prop, "maxLength") is not None:
            expectations.append({
                "type": "expect_column_value_lengths_to_be_between",
                "kwargs": {"column": prop.name,
                           "min_value": _opt(prop, "minLength"),
                           "max_value": _opt(prop, "maxLength")},
                "meta": {}})
        if _opt(prop, "minimum") is not None or _opt(prop, "maximum") is not None:
            expectations.append({
                "type": "expect_column_values_to_be_between",
                "kwargs": {"column": prop.name,
                           "min_value": _opt(prop, "minimum"),
                           "max_value": _opt(prop, "maximum")},
                "meta": {}})
        enum = _enum_of(prop)
        if enum:
            expectations.append({"type": "expect_column_values_to_be_in_set",
                                 "kwargs": {"column": prop.name, "value_set": enum},
                                 "meta": {}})
        expectations.extend(_gx_quality(prop.quality, prop.name))
    name = suite_name or f"{obj.name}.{contract.version}"
    return json.dumps({"name": name, "expectations": expectations, "meta": {}},
                      indent=2)


def _gx_quality(rules, field_name: Optional[str] = None) -> List[Dict[str, Any]]:
    import copy

    out = []
    for q in rules or []:
        if (q.engine or "").lower() in ("great-expectations", "greatexpectations") \
                and q.implementation:
            impl = q.implementation
            if isinstance(impl, str):
                try:
                    impl = yaml.safe_load(impl)
                except yaml.YAMLError:
                    continue
            if isinstance(impl, dict):
                # never mutate the contract's own rule dict — a later export
                # or a long-lived API server must see the author's definition
                impl = copy.deepcopy(impl)
                if field_name is not None:
                    impl["column"] = field_name
            out.append(impl)
    return out


# ---------------------------------------------------------------------------
# pydantic
# ---------------------------------------------------------------------------

_PY_TYPES = {"string": "str", "integer": "int", "number": "float",
             "boolean": "bool", "timestamp": "datetime.datetime",
             "timestamp_ntz": "datetime.datetime", "date": "datetime.date",
             "time": "datetime.time", "bytes": "bytes"}


def _camel(name: str) -> str:
    return "".join(w.capitalize() or "_" for w in re.split(r"[^0-9a-zA-Z]+", name))


def _py_type(prop: Property, nested: List[str], prefix: str) -> str:
    lt = (prop.logical_type or "").lower()
    if lt == "array":
        inner = (_py_type(prop.items, nested, prefix)
                 if prop.items is not None else "typing.Any")
        return f"list[{inner}]"
    if lt == "object":
        cls = f"{prefix}{_camel(prop.name)}"
        nested.append(_pydantic_class(cls, prop.properties or [], nested))
        return cls
    return _PY_TYPES.get(lt, "typing.Any")


def _pydantic_class(name: str, props: List[Property], nested: List[str]) -> str:
    lines = [f"class {name}(pydantic.BaseModel):"]
    if not props:
        lines.append("    pass")
    for p in props:
        t = _py_type(p, nested, name)
        if not p.required:
            t = f"typing.Optional[{t}]"
        lines.append(f"    {p.name}: {t}")
    return "\n".join(lines)


def to_pydantic(contract: DataContract) -> str:
    nested: List[str] = []
    classes = [_pydantic_class(_camel(o.name), o.properties, nested)
               for o in contract.schema_objects]
    header = "import datetime\nimport typing\n\nimport pydantic\n"
    return "\n\n\n".join([header] + nested + classes) + "\n"


# ---------------------------------------------------------------------------
# sqlalchemy
# ---------------------------------------------------------------------------

_SA_TYPES = {"string": "String", "integer": "Integer", "number": "Numeric",
             "boolean": "Boolean", "timestamp": "DateTime", "timestamp_ntz": "DateTime",
             "date": "Date", "time": "Time", "bytes": "LargeBinary",
             "object": "JSON", "array": "ARRAY"}


def _sa_column(prop: Property) -> str:
    lt = (prop.logical_type or "string").lower()
    sa = _SA_TYPES.get(lt, "String")
    if sa == "String":
        sa = f"String({_opt(prop, 'maxLength')})"
    elif sa == "ARRAY":
        inner = _SA_TYPES.get((prop.items.logical_type or "string").lower(), "String") \
            if prop.items is not None else "String"
        sa = f"ARRAY({inner})"
    args = [sa, f"nullable={not prop.required}",
            f"comment={prop.description!r}"]
    if prop.primary_key:
        args.append("primary_key=True")
    return f"    {prop.column} = Column({', '.join(args)})"


def to_sqlalchemy(contract: DataContract, server_schema: Optional[str] = None) -> str:
    out = ["from sqlalchemy import ARRAY, Boolean, Column, Date, DateTime, "
           "Integer, JSON, LargeBinary, Numeric, String, Time",
           "from sqlalchemy.orm import declarative_base", "",
           "Base = declarative_base()", ""]
    for obj in contract.schema_objects:
        out.append(f"class {_camel(obj.name)}(Base):")
        out.append(f"    __tablename__ = {obj.table!r}")
        out.append("    __table_args__ = {'comment': %r, 'schema': %r}"
                   % (obj.description, server_schema))
        for p in obj.properties:
            out.append(_sa_column(p))
        out.append("")
    return "\n".join(out)


# ---------------------------------------------------------------------------
# dbml
# ---------------------------------------------------------------------------

def _dbml_field(prop: Property) -> str:
    attrs = []
    if prop.primary_key:
        attrs.append("pk")
    if prop.unique:
        attrs.append("unique")
    attrs.append("not null" if prop.required else "null")
    if prop.description:
        attrs.append(f'note: "{prop.description}"')
    ftype = prop.logical_type or prop.physical_type or "unknown"
    return f"    {prop.column} {ftype} [{', '.join(attrs)}]"


def to_dbml(contract: DataContract) -> str:
    out = ["/*",
           f"Generated by datacontract-cli-spark for datacontract "
           f"{contract.name or ''} ({contract.id}) version {contract.version}",
           "Using Logical Datacontract Types for the field types", "*/",
           f'Project "{contract.name or contract.id}" {{']
    if contract.description:
        out.append(f"    note: '''{contract.description.strip()}'''")
    out.append("}")
    refs: List[str] = []
    for obj in contract.schema_objects:
        out.append("")
        out.append(f"Table {obj.table} {{")
        if obj.description:
            out.append(f'    note: "{obj.description.strip()}"')
        for p in obj.properties:
            out.append(_dbml_field(p))
            custom = (p.options or {}).get("customProperties") or {}
            ref = custom.get("references")
            if ref and "." in str(ref):
                refs.append(f"Ref: {obj.table}.{p.column} > {ref}")
        out.append("}")
    out.extend(refs)
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# protobuf
# ---------------------------------------------------------------------------

_PROTO_TYPES = {"string": "string", "integer": "int64", "number": "double",
                "boolean": "bool", "timestamp": "string", "date": "string",
                "time": "string", "bytes": "bytes"}


def _proto_field_type(prop: Property, nested: List[str], indent: str) -> str:
    lt = (prop.logical_type or "string").lower()
    if lt == "object":
        name = _camel(prop.name)
        nested.append(_proto_message(name, prop.properties or [], indent))
        return name
    # enum-typed properties reference their generated enum (to_protobuf
    # defines one per distinct enum name)
    enum = _enum_of(prop)
    if enum and all(isinstance(v, str) for v in enum):
        return _camel(prop.name)
    return _PROTO_TYPES.get(lt, "string")


def _proto_message(name: str, props: List[Property], indent: str = "") -> str:
    nested: List[str] = []
    fields = []
    n = 1
    for p in props:
        lt = (p.logical_type or "string").lower()
        if lt == "array":
            inner = (p.items if p.items is not None
                     else Property(name=p.name, logical_type="string"))
            t = _proto_field_type(Property(name=p.name,
                                           logical_type=inner.logical_type,
                                           properties=inner.properties),
                                  nested, indent + "  ")
            fields.append(f"{indent}  repeated {t} {p.name} = {n};")
        else:
            t = _proto_field_type(p, nested, indent + "  ")
            mod = "" if p.required else "optional "
            if lt == "object":
                mod = ""
            fields.append(f"{indent}  {mod}{t} {p.name} = {n};")
        n += 1
    body = "\n\n".join(nested + ["\n".join(fields)]) if nested else "\n".join(fields)
    return f"{indent}message {name} {{\n{body}\n{indent}}}"


def to_protobuf(contract: DataContract, package: str = "example") -> str:
    out = ['syntax = "proto3";', "", f"package {package};", ""]
    # one enum definition per distinct name — two models sharing a `status`
    # enum must not produce duplicate symbols (protoc rejects them)
    enums: Dict[str, str] = {}
    for obj in contract.schema_objects:
        for p in obj.properties:
            enum = _enum_of(p)
            if enum and all(isinstance(v, str) for v in enum):
                ename = _camel(p.name)
                if ename in enums:
                    continue
                lines = [f"enum {ename} {{", f"  {ename.upper()}_UNKNOWN = 0;"]
                for i, v in enumerate(enum, start=1):
                    const = re.sub(r"[^0-9A-Z]+", "_", v.upper())
                    lines.append(f"  {ename.upper()}_{const} = {i};")
                lines.append("}")
                enums[ename] = "\n".join(lines)
    out.extend(e + "\n" for e in enums.values())
    for obj in contract.schema_objects:
        if obj.description:
            out.append(f"// {obj.description.strip()}")
        out.append(_proto_message(_camel(obj.name), obj.properties))
        out.append("")
    return "\n".join(out)


# ---------------------------------------------------------------------------
# go
# ---------------------------------------------------------------------------

_GO_TYPES = {"string": "string", "integer": "int64", "number": "float64",
             "boolean": "bool", "timestamp": "time.Time", "date": "time.Time",
             "bytes": "[]byte"}


def _go_type(prop: Property, nested: List[str]) -> str:
    lt = (prop.logical_type or "string").lower()
    if lt == "array":
        inner = _go_type(prop.items, nested) if prop.items is not None else "interface{}"
        return "[]" + inner
    if lt == "object":
        name = _camel(prop.name)
        nested.append(_go_struct(name, prop.properties or []))
        return name
    return _GO_TYPES.get(lt, "interface{}")


def _go_struct(name: str, props: List[Property]) -> str:
    nested: List[str] = []
    lines = [f"type {name} struct {{"]
    for p in props:
        t = _go_type(p, nested)
        if not p.required and not t.startswith("[]"):
            t = "*" + t
        lines.append(f"    {_camel(p.name)} {t} `json:\"{p.name}\"`")
    lines.append("}")
    return "\n\n".join(nested + ["\n".join(lines)])


def to_go(contract: DataContract) -> str:
    bodies = [_go_struct(_camel(o.name), o.properties)
              for o in contract.schema_objects]
    needs_time = "time.Time" in "\n".join(bodies)
    header = "package main\n"
    if needs_time:
        header += "\nimport \"time\"\n"
    return header + "\n" + "\n\n".join(bodies) + "\n"


# ---------------------------------------------------------------------------
# bigquery (reference export/bigquery_exporter.py + map_type_to_bigquery)
# ---------------------------------------------------------------------------

_BQ_NATIVE = {"STRING", "BYTES", "INT64", "INTEGER", "FLOAT64", "NUMERIC",
              "BIGNUMERIC", "BOOL", "BOOLEAN", "TIMESTAMP", "DATE", "TIME",
              "DATETIME", "GEOGRAPHY", "JSON", "RECORD", "STRUCT"}

_BQ_LOGICAL = {"string": "STRING", "varchar": "STRING", "text": "STRING",
               "json": "JSON", "bytes": "BYTES", "int": "INTEGER",
               "integer": "INTEGER", "long": "INT64", "bigint": "INT64",
               "float": "FLOAT64", "double": "FLOAT64", "boolean": "BOOL",
               "timestamp": "TIMESTAMP", "timestamp_tz": "TIMESTAMP",
               "timestamp_ntz": "DATETIME", "date": "DATE", "time": "TIME",
               "number": "NUMERIC", "decimal": "NUMERIC", "numeric": "NUMERIC",
               "struct": "STRUCT"}


def _bq_type(prop: Property) -> Optional[str]:
    if prop.physical_type:
        base = prop.physical_type.upper().split("(")[0].strip()
        if base in _BQ_NATIVE:
            return prop.physical_type
    t = prop.physical_type or prop.logical_type
    if not t:
        return None
    params = None
    if "(" in t and t.endswith(")"):
        params = t[t.index("(") + 1:-1]
        t = t[:t.index("(")].strip()
    lt = t.lower()
    if lt in ("object", "record") and not prop.properties:
        result = "JSON"
    elif lt in ("object", "record", "array"):
        result = "RECORD"
    else:
        result = _BQ_LOGICAL.get(lt)
    if params and result:
        return f"{result}({params})"
    return result


def _bq_field(prop: Property) -> Dict[str, Any]:
    bq_type = _bq_type(prop)
    field: Dict[str, Any] = {
        "name": prop.column,
        "type": bq_type,
        "mode": "REQUIRED" if prop.required else "NULLABLE",
        "description": prop.description,
    }
    lt = (prop.logical_type or "").lower()
    if lt == "array":
        field["mode"] = "REPEATED"
        if prop.items is not None:
            if (prop.items.logical_type or "").lower() == "object":
                field["fields"] = [_bq_field(c) for c in prop.items.properties or []]
            else:
                field["type"] = _bq_type(prop.items)
    elif (bq_type or "").lower() in ("record", "struct"):
        field["fields"] = [_bq_field(c) for c in prop.properties or []]
    if (bq_type or "").lower() == "string":
        field["maxLength"] = _opt(prop, "maxLength")
    if (bq_type or "").lower() in ("numeric", "bignumeric"):
        custom = (prop.options or {}).get("customProperties") or {}
        field["precision"] = int(custom["precision"]) if custom.get("precision") is not None else None
        field["scale"] = int(custom["scale"]) if custom.get("scale") is not None else None
    return field


def to_bigquery_json(contract: DataContract, schema_name: str,
                     server_name: Optional[str] = None) -> str:
    obj = contract.schema_object(schema_name)
    if obj is None:
        raise ValueError(f"schema object '{schema_name}' not found")
    server = contract.server(server_name)
    if server is None or server.type != "bigquery":
        raise ValueError("export to bigquery requires a bigquery server in "
                         "the contract")
    table = {
        "kind": "bigquery#table",
        "tableReference": {
            "datasetId": server.options.get("dataset"),
            "projectId": server.options.get("project"),
            "tableId": obj.table,
        },
        "description": obj.description,
        "schema": {"fields": [_bq_field(p) for p in obj.properties]},
    }
    return json.dumps(table, indent=2)


# ---------------------------------------------------------------------------
# custom jinja template (reference export/custom_exporter.py)
# ---------------------------------------------------------------------------

def to_custom_jinja(contract: DataContract, template_path: str,
                    schema_name: Optional[str] = None) -> str:
    """Render a user-supplied Jinja template with the contract (and,
    optionally, one selected schema object) in context."""
    import os

    from jinja2 import Environment, FileSystemLoader

    absolute = os.path.abspath(template_path)
    env = Environment(loader=FileSystemLoader(os.path.dirname(absolute)),
                      autoescape=False)
    template = env.get_template(os.path.basename(absolute))
    context: Dict[str, Any] = {"data_contract": contract}
    if schema_name and schema_name != "all":
        obj = contract.schema_object(schema_name)
        if obj is None:
            raise ValueError(f"schema object '{schema_name}' not found")
        context["schema"] = obj
        context["schema_name"] = schema_name
    return template.render(**context)


# ---------------------------------------------------------------------------
# legacy DCS (reference export/dcs_exporter.py — ODCS -> Data Contract
# Specification 1.2 yaml, the inverse of the loader's DCS lane)
# ---------------------------------------------------------------------------

_DCS_TYPES = {"string": "string", "integer": "integer", "number": "number",
              "boolean": "boolean", "timestamp": "timestamp", "date": "date",
              "array": "array", "object": "object"}


def _dcs_field(prop: Property) -> Dict[str, Any]:
    out: Dict[str, Any] = {}
    t = _DCS_TYPES.get((prop.logical_type or "").lower())
    if t:
        out["type"] = t
    if prop.physical_type:
        out["config"] = {"physicalType": prop.physical_type}
    if prop.description:
        out["description"] = prop.description
    if prop.required:
        out["required"] = True
    if prop.unique:
        out["unique"] = True
    if prop.primary_key:
        out["primaryKey"] = True
    if prop.classification:
        out["classification"] = prop.classification
    for key in ("minLength", "maxLength", "minimum", "maximum", "pattern",
                "enum", "exclusiveMinimum", "exclusiveMaximum", "format"):
        v = _opt(prop, key)
        if v is not None:
            out[key] = v
    if prop.properties:
        out["fields"] = {c.name: _dcs_field(c) for c in prop.properties}
    if prop.items is not None:
        out["items"] = _dcs_field(prop.items)
    return out


def to_dcs_yaml(contract: DataContract) -> str:
    doc: Dict[str, Any] = {
        "dataContractSpecification": "1.2.0",
        "id": contract.id,
        "info": {
            "title": contract.name or contract.id,
            "version": contract.version,
            **({"description": contract.description} if contract.description else {}),
            **({"owner": contract.owner} if contract.owner else {}),
        },
        "models": {
            obj.name: {
                **({"description": obj.description} if obj.description else {}),
                "type": "table",
                "fields": {p.name: _dcs_field(p) for p in obj.properties},
            }
            for obj in contract.schema_objects
        },
    }
    if contract.servers:
        doc["servers"] = {
            (s.server or f"server{i}"): {
                k: v for k, v in (("type", s.type), ("format", s.format),
                                  ("path", s.path), ("location", s.location))
                if v is not None
            }
            for i, s in enumerate(contract.servers)
        }
    return yaml.safe_dump(doc, sort_keys=False)


# ---------------------------------------------------------------------------
# iceberg schema JSON (reference export/iceberg_exporter.py — there via
# pyiceberg Schema + assign_fresh_schema_ids; here the JSON serialization
# form of https://iceberg.apache.org/spec/#appendix-c-json-serialization is
# emitted directly; fresh ids are assigned struct-fields-first then nested
# element/key/value ids, primary keys become identifier-field-ids)
# ---------------------------------------------------------------------------

_ICEBERG_TYPES = {"string": "string", "integer": "int", "int": "int",
                  "long": "long", "bigint": "long", "float": "float",
                  "double": "double", "boolean": "boolean", "date": "date",
                  "timestamp": "timestamptz", "bytes": "binary",
                  "binary": "binary"}


def _iceberg_type_of(prop: Property, ids) -> Any:
    lt = (prop.logical_type or "").lower()
    custom = (prop.options or {}).get("customProperties") or {}
    if lt == "array":
        item = prop.items if prop.items is not None else Property(name="items")
        return {"type": "list", "element-id": next(ids),
                "element": _iceberg_type_of(item, ids),
                "element-required": item.required is True}
    if lt == "object" and (prop.physical_type == "map" or custom.get("mapKeyType")):
        key_t = _ICEBERG_TYPES.get(custom.get("mapKeyType", "string"), "string")
        out = {"type": "map", "key-id": next(ids), "key": key_t,
               "value-id": next(ids),
               "value-required": custom.get("mapValueRequired") == "true"}
        if custom.get("mapValuePhysicalType") == "map":
            out["value"] = {
                "type": "map", "key-id": next(ids),
                "key": _ICEBERG_TYPES.get(custom.get("mapNestedKeyType", "string"), "string"),
                "value-id": next(ids),
                "value": _ICEBERG_TYPES.get(custom.get("mapNestedValueType", "string"), "string"),
                "value-required": custom.get("mapNestedValueRequired", "true") == "true",
            }
        else:
            out["value"] = _ICEBERG_TYPES.get(custom.get("mapValueType", "string"), "string")
        return out
    if lt == "object":
        return _iceberg_struct(prop.properties or [], ids)
    if lt == "number":
        return "decimal(38, 0)"
    return _ICEBERG_TYPES.get(lt, "string")


def _iceberg_struct(props: List[Property], ids) -> Dict[str, Any]:
    # struct fields take consecutive ids first, nested types after — the
    # fresh-id strategy the reference gets from assign_fresh_schema_ids
    fields = []
    for p in props:
        fields.append({"id": next(ids), "name": p.column,
                       "required": p.required is True})
    for entry, p in zip(fields, props):
        entry["type"] = _iceberg_type_of(p, ids)
    return {"type": "struct", "fields": fields}


def to_iceberg_json(contract: DataContract, schema_name: str = "all") -> str:
    import itertools

    if schema_name in (None, "all"):
        if len(contract.schema_objects) != 1:
            raise ValueError("iceberg export supports exactly one model; "
                             "pass --schema <model>")
        obj = contract.schema_objects[0]
    else:
        obj = contract.schema_object(schema_name)
        if obj is None:
            raise ValueError(f"model {schema_name} not found in contract")
    ids = itertools.count(1)
    struct = _iceberg_struct(obj.properties, ids)
    identifier_ids = [
        f["id"] for f, p in zip(struct["fields"], obj.properties)
        if p.primary_key
    ]
    doc = {"type": "struct", "fields": struct["fields"],
           "schema-id": 0, "identifier-field-ids": identifier_ids}
    return json.dumps(doc)


# ---------------------------------------------------------------------------
# DQX quality-check YAML (reference export/dqx_exporter.py — extract the
# engine=dqx quality implementations, injecting the column path into check
# arguments when no column/columns/for_each_column is declared; is_unique
# and foreign_key take a columns LIST, everything else a scalar column)
# ---------------------------------------------------------------------------

def _dqx_rule(rule, column_path: str) -> Optional[Dict[str, Any]]:
    import copy

    impl = rule.implementation
    if isinstance(impl, str):
        try:
            impl = yaml.safe_load(impl)
        except yaml.YAMLError:
            return None
    if not isinstance(impl, dict) or "check" not in impl:
        return None
    impl = copy.deepcopy(impl)  # the contract's rule dict must stay pristine
    check = impl["check"]
    if column_path and isinstance(check, dict):
        args = check.setdefault("arguments", {})
        if not ({"column", "columns", "for_each_column"} & set(args)):
            if check.get("function") in ("is_unique", "foreign_key"):
                args["columns"] = [column_path]
            else:
                args["column"] = column_path
    return impl


def _dqx_walk(props: List[Property], prefix: str,
              out: List[Dict[str, Any]]) -> None:
    for prop in props:
        path = f"{prefix}.{prop.name}" if prefix else prop.name
        if prop.properties:
            _dqx_walk(prop.properties, path, out)
        out.extend(r for r in (_dqx_rule(rule, path) for rule in prop.quality)
                   if r is not None)


def to_dqx_yaml(contract: DataContract, schema_name: str = "all") -> str:
    if schema_name in (None, "all"):
        if len(contract.schema_objects) != 1:
            raise ValueError("dqx export supports one model; pass --schema")
        obj = contract.schema_objects[0]
    else:
        obj = contract.schema_object(schema_name)
        if obj is None:
            raise ValueError(f"model {schema_name} not found in contract")
    rules: List[Dict[str, Any]] = []
    _dqx_walk(obj.properties, "", rules)
    for rule in obj.quality:
        r = _dqx_rule(rule, "")
        if r is not None:
            rules.append(r)
    return yaml.dump(rules, sort_keys=False, allow_unicode=True,
                     default_flow_style=False)


# ---------------------------------------------------------------------------
# Data Caterer generation plan (reference export/data_caterer_exporter.py —
# one step per model with the server's path/topic/table options, per-field
# generator options from constraints: oneOf/isUnique/isPrimaryKey/minLen/
# maxLen/regex/min/max, arrayType for arrays, nested fields for structs)
# ---------------------------------------------------------------------------

_CATERER_TYPES = {"number": "double", "numeric": "double", "double": "double",
                  "decimal": "decimal", "bigint": "decimal",
                  "int": "integer", "integer": "integer", "long": "long",
                  "float": "float", "string": "string", "text": "string",
                  "varchar": "string", "boolean": "boolean",
                  "timestamp": "timestamp", "timestamp_tz": "timestamp",
                  "timestamp_ntz": "timestamp", "date": "date",
                  "array": "array", "map": "struct", "object": "struct",
                  "record": "struct", "struct": "struct", "bytes": "binary"}


def _caterer_type(t: Optional[str]) -> str:
    return _CATERER_TYPES.get((t or "").lower(), "string")


def _caterer_field(prop: Property) -> Dict[str, Any]:
    field: Dict[str, Any] = {"name": prop.name}
    opts: Dict[str, Any] = {}
    declared = prop.physical_type or prop.logical_type
    is_array = (declared or "").lower() == "array"
    if declared is not None:
        t = _caterer_type(declared)
        field["type"] = t
        if t == "struct":
            field["fields"] = [_caterer_field(c) for c in prop.properties or []]
        elif t == "array":
            item_t = (prop.items.physical_type or prop.items.logical_type
                      if prop.items is not None else None)
            opts["arrayType"] = _caterer_type(item_t) if item_t else "string"
    enum = _enum_of(prop)
    if enum:
        opts["oneOf"] = enum
    if prop.unique:
        opts["isUnique"] = True
    if prop.primary_key:
        opts["isPrimaryKey"] = True
    if _opt(prop, "minLength") is not None:
        opts["arrayMinLen" if is_array else "minLen"] = _opt(prop, "minLength")
    if _opt(prop, "maxLength") is not None:
        opts["arrayMaxLen" if is_array else "maxLen"] = _opt(prop, "maxLength")
    if _opt(prop, "pattern") is not None:
        opts["regex"] = _opt(prop, "pattern")
    if _opt(prop, "minimum") is not None:
        opts["min"] = _opt(prop, "minimum")
    if _opt(prop, "maximum") is not None:
        opts["max"] = _opt(prop, "maximum")
    if opts:
        field["options"] = opts
    return field


def to_data_caterer_yaml(contract: DataContract,
                         server_name: Optional[str] = None) -> str:
    server = None
    if server_name is not None:
        server = contract.server(server_name)
        if server is None:
            raise ValueError(f"server {server_name} not found in contract")
    elif contract.servers:
        server = contract.servers[0]
    steps = []
    for obj in contract.schema_objects:
        if server is not None and server.type in ("s3", "gcs", "azure", "local"):
            step_type = server.format
            options: Dict[str, Any] = {
                "path": server.path or server.location or "/tmp/data_caterer_data"}
        elif server is not None and server.type == "postgres":
            step_type = server.type
            options = {"schema": server.schema_, "table": obj.name}
        elif server is not None and server.type == "kafka":
            step_type = server.type
            options = {"topic": server.options.get("topic")}
        elif server is not None and server.type is not None:
            step_type = server.type
            options = {}
        else:
            step_type = "csv"
            options = {}
        steps.append({"name": obj.name, "type": step_type, "options": options,
                      "fields": [_caterer_field(p) for p in obj.properties]})
    return yaml.dump({"name": contract.name, "steps": steps}, indent=2,
                     sort_keys=False, allow_unicode=True)


# ---------------------------------------------------------------------------
# Avro IDL protocol (reference export/avro_idl_exporter.py — one record per
# model inside a protocol named from the contract title; physical-type-first
# primitive mapping, '?' suffix for optional fields, array<T>, nested
# objects pre-declared as `record <field>_type` blocks, /** doc */ comments)
# ---------------------------------------------------------------------------

_IDL_PHYSICAL = {"string": "string", "text": "string", "varchar": "string",
                 "float": "float", "double": "double", "int": "int",
                 "integer": "int", "long": "long", "bigint": "long",
                 "boolean": "boolean", "timestamp": "string",
                 "timestamp_tz": "string", "timestamp_ntz": "timestamp_ms",
                 "date": "date", "bytes": "bytes", "null": "null"}
_IDL_LOGICAL = {"string": "string", "number": "double", "integer": "long",
                "boolean": "boolean", "date": "date", "timestamp": "string",
                "timestamp_tz": "string", "timestamp_ntz": "timestamp_ms",
                "bytes": "bytes"}


def _idl_identifier(name: str) -> str:
    return "".join(w[:1].upper() + w[1:] for w in re.split(r"[^0-9a-zA-Z]+", name) if w)


def _idl_primitive(prop: Property) -> Optional[str]:
    phys = (prop.physical_type or "").lower()
    if phys in _IDL_PHYSICAL:
        return _IDL_PHYSICAL[phys]
    return _IDL_LOGICAL.get((prop.logical_type or "").lower())


def _idl_field(prop: Property, indent: int, out: List[str]) -> str:
    """Emit any record pre-definitions; return the field's type name."""
    pad = "    " * indent
    lt = (prop.logical_type or "").lower()
    opt = "" if prop.required else "?"
    if lt == "array" and prop.items is not None:
        inner = _idl_field(prop.items, indent, out)
        return f"array<{inner.rstrip('?')}>{opt}"
    if lt == "object" or (prop.physical_type or "").lower() in ("record", "struct"):
        if prop.description:
            out.append(f"{pad}/** {prop.description} */")
        out.append(f"{pad}record {prop.name}_type {{")
        entries = []
        for sub in prop.properties or []:
            entries.append((_idl_field(sub, indent + 1, out), sub))
        for tname, sub in entries:
            if sub.description:
                out.append(f"{pad}    /** {sub.description} */")
            out.append(f"{pad}    {tname} {sub.name};")
        out.append(f"{pad}}}")
        return f"{prop.name}_type{opt}"
    prim = _idl_primitive(prop)
    if prim is None:
        raise ValueError(f"Unknown field type for Avro IDL: "
                         f"{prop.logical_type or prop.physical_type}")
    return f"{prim}{opt}"


def to_avro_idl(contract: DataContract) -> str:
    out: List[str] = []
    if contract.description:
        out.append(f"/** {contract.description} */")
    name = _idl_identifier(contract.name) if contract.name else "Protocol"
    out.append(f"protocol {name} {{")
    for obj in contract.schema_objects:
        if obj.description:
            out.append(f"    /** {obj.description} */")
        out.append(f"    record {obj.name} {{")
        for prop in obj.properties:
            tname = _idl_field(prop, 2, out)
            if prop.description:
                out.append(f"        /** {prop.description} */")
            out.append(f"        {tname} {prop.name};")
        out.append("    }")
    out.append("}")
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# RDF / Turtle (reference export/rdf_exporter.py — there via rdflib; here
# the Turtle text is emitted directly with the same vocabulary: odcs:
# DataContract node with id/apiVersion/kind and an Info blank node, one
# odcs:Schema node per model with Property blank nodes carrying name/
# logicalType/physicalType/required/unique/classification and odcsx:tags)
# ---------------------------------------------------------------------------

def _ttl_str(v: Any) -> str:
    s = str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
    return f'"{s}"'


def _ttl_property(prop: Property, indent: str) -> str:
    lines = [f"{indent}[ a odcs:Property"]
    if prop.tags:
        for t in prop.tags:
            lines.append(f"{indent}    ; odcsx:tags {_ttl_str(t)}")
    if prop.classification:
        lines.append(f"{indent}    ; odcs:classification {_ttl_str(prop.classification)}")
    if prop.description:
        lines.append(f"{indent}    ; odcs:description {_ttl_str(prop.description)}")
    if prop.logical_type:
        lines.append(f"{indent}    ; odcs:logicalType {_ttl_str(prop.logical_type)}")
    lines.append(f"{indent}    ; odcs:name {_ttl_str(prop.name)}")
    if prop.physical_type:
        lines.append(f"{indent}    ; odcs:physicalType {_ttl_str(prop.physical_type)}")
    if prop.required:
        lines.append(f"{indent}    ; odcs:required true")
    if prop.unique:
        lines.append(f"{indent}    ; odcs:unique true")
    lines.append(f"{indent}]")
    return "\n".join(lines)


def to_rdf_turtle(contract: DataContract, base: Optional[str] = None) -> str:
    out: List[str] = []
    if base:
        out.append(f"@base <{base}> .")
    out.append("@prefix odcs: <https://github.com/bitol-io/open-data-contract-standard/> .")
    out.append("@prefix odcsx: <https://github.com/bitol-io/open-data-contract-standard/extension/> .")
    out.append("@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .")
    out.append("")
    from urllib.parse import quote

    def _iri(name: str) -> str:
        # spaces/control chars are illegal in IRIs — percent-encode them
        return quote(name, safe=":/#?&=@%+-._~")

    cid = _iri(contract.id or "contract")
    out.append(f"<{cid}> a odcs:DataContract ;")
    out.append('    odcs:apiVersion "v3.1.0" ;')
    out.append(f"    odcs:id {_ttl_str(contract.id or 'contract')} ;")
    info = ["    odcs:info [ a odcs:Info"]
    if contract.name:
        info.append(f"            ; odcs:name {_ttl_str(contract.name)}")
    if contract.owner:
        info.append(f"            ; odcs:team {_ttl_str(contract.owner)}")
    if contract.version:
        info.append(f"            ; odcs:version {_ttl_str(contract.version)}")
    info.append("            ] ;")
    out.append("\n".join(info))
    out.append('    odcs:kind "DataContract" ;')
    out.append("    odcs:schema_ " +
               ", ".join(f"<{_iri(o.name)}>" for o in contract.schema_objects) + " .")
    out.append("")
    for obj in contract.schema_objects:
        lines = [f"<{_iri(obj.name)}> a odcs:Schema"]
        if obj.description:
            lines.append(f"    ; odcs:description {_ttl_str(obj.description)}")
        if obj.properties:
            props = ",\n".join(_ttl_property(p, "        ")
                               for p in obj.properties)
            lines.append("    ; odcs:property\n" + props)
        out.append("\n".join(lines) + " .")
        out.append("")
    return "\n".join(out) + "\n"
