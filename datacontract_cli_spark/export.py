"""Contract ⇄ Spark schema ⇄ ODCS YAML conversions.

Parity with the reference's spark exporter/importer
(datacontract/export/spark_exporter.py:269-402,
datacontract/imports/spark_importer.py:139-176): a contract compiles to a
StructType, a DataFrame's schema imports back into a contract, and a
contract serializes to ODCS-shaped YAML.
"""

from __future__ import annotations

from typing import Any, Dict

import yaml
from pyspark.sql import types as T

from datacontract_cli_spark.model.contract import DataContract, Property, SchemaObject
from datacontract_cli_spark.sources.readers import contract_schema


def to_spark_schema(obj: SchemaObject) -> T.StructType:
    """Contract schema object → Spark StructType (required ⇒ not nullable)."""
    base = contract_schema(obj)
    fields = [
        T.StructField(f.name, f.dataType,
                      nullable=not next((p.required for p in obj.properties
                                         if p.column == f.name), False))
        for f in base.fields
    ]
    return T.StructType(fields)


_QUALITY_KEYS = [
    ("type", "type"), ("metric", "metric"), ("arguments", "arguments"),
    ("description", "description"), ("query", "query"),
    ("dialect", "dialect"), ("engine", "engine"),
    ("implementation", "implementation"),
    ("must_be", "mustBe"), ("must_not_be", "mustNotBe"),
    ("must_be_gt", "mustBeGreaterThan"),
    ("must_be_ge", "mustBeGreaterOrEqualTo"),
    ("must_be_lt", "mustBeLessThan"), ("must_be_le", "mustBeLessOrEqualTo"),
    ("must_be_between", "mustBeBetween"),
    ("must_not_be_between", "mustNotBeBetween"),
    ("unit", "unit"), ("severity", "severity"), ("dimension", "dimension"),
    ("id", "id"), ("tags", "tags"),
]


def _quality_dict(q) -> Dict[str, Any]:
    """Inverse of QualityRule.from_dict — quality blocks must survive the
    ODCS round-trip (import --format odcs, catalog, suggest, edit)."""
    return {key: getattr(q, attr) for attr, key in _QUALITY_KEYS
            if getattr(q, attr) is not None}


def _property_dict(p: Property) -> Dict[str, Any]:
    d: Dict[str, Any] = {"name": p.name}
    if p.logical_type:
        d["logicalType"] = p.logical_type
    if p.physical_type:
        d["physicalType"] = p.physical_type
    if p.physical_name:
        d["physicalName"] = p.physical_name
    if p.business_name:
        d["businessName"] = p.business_name
    if p.description:
        d["description"] = p.description
    if p.tags:
        d["tags"] = list(p.tags)
    if p.required:
        d["required"] = True
    if p.unique:
        d["unique"] = True
    if p.primary_key:
        d["primaryKey"] = True
        if p.primary_key_position is not None:
            d["primaryKeyPosition"] = p.primary_key_position
    if p.classification:
        d["classification"] = p.classification
    if p.options:
        opts = dict(p.options)
        # customProperties ride in options internally (contract.from_dict);
        # ODCS serializes them as a top-level [{property, value}] list, with
        # description promoted to its own field
        custom = opts.pop("customProperties", None)
        if isinstance(custom, dict):
            custom = dict(custom)
            desc = custom.pop("description", None)
            if desc is not None and "description" not in d:
                d["description"] = desc
            if custom:
                d["customProperties"] = [
                    {"property": k, "value": v} for k, v in custom.items()
                ]
        if opts:
            d["logicalTypeOptions"] = opts
    if p.properties:
        d["properties"] = [_property_dict(c) for c in p.properties]
    if p.items is not None:
        d["items"] = _property_dict(p.items)
    if p.quality:
        d["quality"] = [_quality_dict(q) for q in p.quality]
    return d


def _server_dict(s) -> Dict[str, Any]:
    d: Dict[str, Any] = {}
    for key, value in (("server", s.server), ("type", s.type),
                       ("format", s.format), ("path", s.path),
                       ("location", s.location), ("catalog", s.catalog),
                       ("schema", s.schema_)):
        if value is not None:
            d[key] = value
    for k, v in (s.options or {}).items():
        d.setdefault(k, v)
    return d


def to_odcs_dict(contract: DataContract) -> Dict[str, Any]:
    return {
        "apiVersion": "v3.0.2",
        "kind": "DataContract",
        "id": contract.id,
        "version": contract.version,
        **({"name": contract.name} if contract.name else {}),
        **({"description": {"purpose": contract.description}}
           if contract.description else {}),
        **({"team": {"name": contract.owner}} if contract.owner else {}),
        **({"servers": [_server_dict(s) for s in contract.servers]}
           if contract.servers else {}),
        "schema": [
            {
                "name": o.name,
                "logicalType": o.logical_type,
                **({"physicalType": o.physical_type} if o.physical_type else {}),
                **({"physicalName": o.physical_name} if o.physical_name else {}),
                **({"businessName": o.business_name} if o.business_name else {}),
                **({"description": o.description} if o.description else {}),
                "properties": [_property_dict(p) for p in o.properties],
                **({"quality": [_quality_dict(q) for q in o.quality]}
                   if o.quality else {}),
            }
            for o in contract.schema_objects
        ],
    }


def to_odcs_yaml(contract: DataContract) -> str:
    return yaml.safe_dump(to_odcs_dict(contract), sort_keys=False)


# ---------------------------------------------------------------------------
# additional exporters (reference export/ formats re-expressed)
# ---------------------------------------------------------------------------

def to_jsonschema_dict(contract: DataContract, schema_name: str = "all") -> Dict[str, Any]:
    """Draft-07 JSON Schema(s) per model (reference jsonschema_exporter.py).
    One model -> its schema; several -> {model: schema}."""
    from datacontract_cli_spark.operators.jsonschema import contract_to_jsonschema

    objs = [o for o in contract.schema_objects
            if schema_name == "all" or o.name == schema_name]
    if len(objs) == 1:
        return contract_to_jsonschema(objs[0])
    return {o.name: contract_to_jsonschema(o) for o in objs}


_SQL_TYPES = {
    "string": "STRING", "text": "STRING", "varchar": "STRING",
    "integer": "BIGINT", "int": "INT", "long": "BIGINT", "bigint": "BIGINT",
    "number": "DOUBLE", "double": "DOUBLE", "float": "FLOAT",
    "decimal": "DECIMAL(38,18)", "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP", "timestamp_tz": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP_NTZ", "date": "DATE", "bytes": "BINARY",
    "object": "STRUCT", "record": "STRUCT", "array": "ARRAY",
}


def _sql_type(p: Property) -> str:
    if p.physical_type:
        return p.physical_type.upper()
    lt = (p.logical_type or "string").lower()
    if lt == "array":
        elem = _sql_type(p.items) if p.items else "STRING"
        return f"ARRAY<{elem}>"
    if lt in ("object", "record", "struct"):
        inner = ", ".join(f"{c.column}: {_sql_type(c)}" for c in (p.properties or []))
        return f"STRUCT<{inner}>"
    return _SQL_TYPES.get(lt, "STRING")


def to_sql_ddl(contract: DataContract, schema_name: str = "all") -> str:
    """CREATE TABLE DDL in Spark SQL (reference sql_exporter semantics with
    the engine's native dialect; physicalType wins over logicalType)."""
    stmts = []
    for obj in contract.schema_objects:
        if schema_name != "all" and obj.name != schema_name:
            continue
        cols = []
        for p in obj.properties:
            null = " NOT NULL" if p.required else ""
            cols.append(f"  {p.column} {_sql_type(p)}{null}")
        body = ",\n".join(cols)
        stmts.append(f"CREATE TABLE {obj.table} (\n{body}\n) USING parquet;")
    return "\n\n".join(stmts) + ("\n" if stmts else "")


_AVRO_TYPES = {
    "string": "string", "text": "string", "varchar": "string",
    "integer": "long", "int": "int", "long": "long", "bigint": "long",
    "number": "double", "double": "double", "float": "float",
    "boolean": "boolean", "bytes": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-millis"},
    "timestamp_tz": {"type": "long", "logicalType": "timestamp-millis"},
    "timestamp_ntz": {"type": "long", "logicalType": "local-timestamp-millis"},
    "decimal": {"type": "bytes", "logicalType": "decimal", "precision": 38, "scale": 18},
}


def _avro_type(p: Property):
    lt = (p.logical_type or "string").lower()
    if lt == "array":
        return {"type": "array", "items": _avro_type(p.items) if p.items else "string"}
    if lt in ("object", "record", "struct"):
        return {
            "type": "record", "name": p.name,
            "fields": [{"name": c.column, "type": _avro_field_type(c)}
                       for c in (p.properties or [])],
        }
    return _AVRO_TYPES.get(lt, "string")


def _avro_field_type(p: Property):
    t = _avro_type(p)
    return t if p.required else ["null", t]


def to_avro_schema(contract: DataContract, schema_name: str = "all") -> Any:
    """Avro record schema(s) (reference avro_exporter semantics: optional
    fields become ["null", type] unions, temporal logical types)."""
    out = []
    for obj in contract.schema_objects:
        if schema_name != "all" and obj.name != schema_name:
            continue
        out.append({
            "type": "record",
            "name": obj.table,
            "fields": [{"name": p.column, "type": _avro_field_type(p)}
                       for p in obj.properties],
        })
    return out[0] if len(out) == 1 else out
