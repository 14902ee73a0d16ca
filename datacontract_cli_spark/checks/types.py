"""Logical type system: 9 ODCS categories + structural (nested) comparison.

Semantics mirror the reference's type normalizer
(datacontract/engines/checks/type_normalize.py:28-179): every raw type name
is normalized into one of {string, integer, number, boolean, timestamp,
date, time, object, array} or None (= unchecked); integer and number are
mutually compatible; object/array compare recursively with extra actual
children tolerated; map/binary/interval/null carry no category and are
skipped. The Spark side adds a walker that reflects a pyspark StructField
tree into the same Property shape so declared and actual schemas compare
through one code path.
"""

from __future__ import annotations

from typing import Optional, Tuple

from datacontract_cli_spark.model.contract import Property

CATEGORIES = {
    "string",
    "integer",
    "number",
    "boolean",
    "timestamp",
    "date",
    "time",
    "object",
    "array",
}

# raw type name (lowercased, parameters stripped) -> category
_TYPE_CATEGORY = {
    # string-ish
    "string": "string", "str": "string", "text": "string", "varchar": "string",
    "char": "string", "character": "string", "nvarchar": "string", "nchar": "string",
    "character varying": "string", "uuid": "string", "clob": "string", "bpchar": "string",
    "json": "string", "jsonb": "string", "variant": "string", "xml": "string",
    "guid": "string", "enum": "string",
    # integer-ish
    "int": "integer", "integer": "integer", "bigint": "integer", "smallint": "integer",
    "tinyint": "integer", "long": "integer", "short": "integer", "byte": "integer",
    "int2": "integer", "int4": "integer", "int8": "integer", "int32": "integer",
    "int64": "integer", "serial": "integer", "bigserial": "integer",
    "unsigned bigint": "integer", "hugeint": "integer", "uint8": "integer",
    "uint16": "integer", "uint32": "integer", "uint64": "integer",
    # number-ish
    "number": "number", "numeric": "number", "decimal": "number", "float": "number",
    "double": "number", "real": "number", "float4": "number", "float8": "number",
    "float32": "number", "float64": "number", "double precision": "number",
    "money": "number", "dec": "number",
    # boolean
    "bool": "boolean", "boolean": "boolean", "bit": "boolean",
    # timestamp-ish
    "timestamp": "timestamp", "datetime": "timestamp", "timestamptz": "timestamp",
    "timestamp_tz": "timestamp", "timestamp_ltz": "timestamp", "timestamp_ntz": "timestamp",
    "timestamp with time zone": "timestamp", "timestamp without time zone": "timestamp",
    "datetime2": "timestamp", "datetimeoffset": "timestamp", "smalldatetime": "timestamp",
    # date / time
    "date": "date",
    "time": "time", "timetz": "time", "time with time zone": "time",
    "time without time zone": "time",
    # nested
    "object": "object", "struct": "object", "record": "object", "row": "object",
    "array": "array", "list": "array", "vector": "array",
    # no category on purpose (unchecked): map, binary, interval, null, bytes
}

_UNCATEGORIZED = {"map", "binary", "interval", "null", "void", "bytes", "varbinary", "blob"}


def normalize_type_name(raw: Optional[str]) -> Optional[str]:
    """Raw type name (any dialect, possibly parameterized) → ODCS category or None."""
    if raw is None:
        return None
    t = str(raw).strip().lower()
    if not t:
        return None
    # strip parameters: varchar(255), decimal(10,2), timestamp(6), array<string>
    for sep in ("(", "<"):
        if sep in t:
            t = t.split(sep, 1)[0].strip()
    if t in _TYPE_CATEGORY:
        return _TYPE_CATEGORY[t]
    if t in _UNCATEGORIZED:
        return None
    return None


def categories_compatible(expected: Optional[str], actual: Optional[str]) -> bool:
    """integer ≈ number (reference type_normalize.py:126,155); None matches anything."""
    if expected is None or actual is None:
        return True
    if expected == actual:
        return True
    return {expected, actual} == {"integer", "number"}


# ---------------------------------------------------------------------------
# Spark schema reflection → Property tree
# ---------------------------------------------------------------------------

def spark_type_to_property(name: str, dt) -> Property:
    """Reflect a pyspark DataType into the same Property shape the contract uses.

    Spark→logical mapping follows the reference's importer direction
    (datacontract/imports/spark_importer.py:139-176) and the exporter's
    inverse (datacontract/export/spark_exporter.py:269-402).
    """
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return Property(
            name=name,
            logical_type="object",
            physical_type=dt.simpleString(),
            properties=[spark_type_to_property(f.name, f.dataType) for f in dt.fields],
        )
    if isinstance(dt, T.ArrayType):
        return Property(
            name=name,
            logical_type="array",
            physical_type=dt.simpleString(),
            items=spark_type_to_property("items", dt.elementType),
        )
    if isinstance(dt, T.MapType):
        return Property(name=name, logical_type=None, physical_type=dt.simpleString())

    simple = dt.simpleString()  # e.g. "bigint", "decimal(10,2)", "timestamp_ntz"
    category = normalize_type_name(simple)
    return Property(name=name, logical_type=category, physical_type=simple)


# ---------------------------------------------------------------------------
# structural comparison
# ---------------------------------------------------------------------------

def property_matches(expected: Property, actual: Property, path: str = "") -> Tuple[bool, Optional[str]]:
    """Recursively compare a declared property against a reflected one.

    Returns (ok, reason). Tolerances (matching the reference semantics):
    - a declared type with no recognizable category is unchecked (passes);
    - integer and number are interchangeable;
    - a bare object/array (no children declared) matches any object/array;
    - extra actual children are ignored; missing declared children fail.
    """
    here = path or expected.name
    exp_cat = normalize_type_name(expected.logical_type)
    act_cat = actual.logical_type if actual.logical_type in CATEGORIES else normalize_type_name(
        actual.logical_type
    )

    if exp_cat is None:
        return True, None
    if act_cat is None:
        # actual type has no category (map/binary/...): unverifiable, tolerate
        return True, None
    if not categories_compatible(exp_cat, act_cat):
        return False, f"field '{here}': expected type {exp_cat}, actual type {act_cat}"

    if exp_cat == "object":
        if not expected.properties:
            return True, None  # bare object matches any struct
        actual_children = {c.name.lower(): c for c in (actual.properties or [])}
        for child in expected.properties:
            if child.column.startswith("^"):
                # patternProperties: the declared name is a key REGEX —
                # every actual key matching it must satisfy the child schema;
                # zero matches is fine (patternProperties never requires keys)
                import re as _re

                try:
                    rx = _re.compile(child.column)
                except _re.error:
                    continue
                for name, got in actual_children.items():
                    if rx.search(name):
                        ok, reason = property_matches(child, got, f"{here}.{name}")
                        if not ok:
                            return False, reason
                continue
            got = actual_children.get(child.column.lower())
            if got is None:
                return False, f"field '{here}.{child.name}': missing in actual schema"
            ok, reason = property_matches(child, got, f"{here}.{child.name}")
            if not ok:
                return False, reason
        return True, None

    if exp_cat == "array":
        if expected.items is None:
            return True, None  # bare array matches any array
        if actual.items is None:
            return False, f"field '{here}': expected array items, actual has none"
        return property_matches(expected.items, actual.items, f"{here}[]")

    return True, None
