"""Contract model: a pragmatic ODCS-v3 subset as plain dataclasses.

Covers the parts of the Open Data Contract Standard the test engine consumes
(reference consumption points: datacontract/engines/checks/create_checks.py
and datacontract/engines/ibis/connections/connect.py): schema objects with
property trees + logicalTypeOptions, quality rules (library metric / sql),
slaProperties (freshness/retention), and servers. Parsed straight from the
YAML dict — no pydantic on purpose: the contract only lives on the driver and
a transparent dict-walk keeps the subset honest.

Also accepts the legacy Data Contract Specification (DCS) layout
(``models:`` mapping with ``fields:``) and converts it to the same
dataclasses, mirroring the reference's DCS→ODCS conversion
(datacontract/lint/resolve.py:375-398).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional

import yaml


@dataclass
class QualityRule:
    type: Optional[str] = None  # library | sql | custom | text
    metric: Optional[str] = None  # rowCount | duplicateValues | nullValues | ...
    arguments: Optional[Dict[str, Any]] = None
    description: Optional[str] = None
    query: Optional[str] = None
    dialect: Optional[str] = None
    engine: Optional[str] = None
    implementation: Optional[str] = None
    must_be: Any = None
    must_not_be: Any = None
    must_be_gt: Any = None
    must_be_ge: Any = None
    must_be_lt: Any = None
    must_be_le: Any = None
    must_be_between: Optional[List[Any]] = None
    must_not_be_between: Optional[List[Any]] = None
    unit: Optional[str] = None
    severity: Optional[str] = None
    dimension: Optional[str] = None
    id: Optional[str] = None
    tags: Optional[List[str]] = None

    @staticmethod
    def from_dict(d: Dict[str, Any]) -> "QualityRule":
        return QualityRule(
            type=d.get("type") if isinstance(d.get("type"), str) else None,
            metric=d.get("metric"),
            arguments=d.get("arguments") if isinstance(d.get("arguments"), dict) else None,
            description=d.get("description"),
            query=d.get("query"),
            dialect=d.get("dialect"),
            engine=d.get("engine"),
            implementation=d.get("implementation"),
            must_be=d.get("mustBe"),
            must_not_be=d.get("mustNotBe"),
            must_be_gt=d.get("mustBeGreaterThan"),
            must_be_ge=d.get("mustBeGreaterOrEqualTo"),
            must_be_lt=d.get("mustBeLessThan"),
            must_be_le=d.get("mustBeLessOrEqualTo"),
            must_be_between=d.get("mustBeBetween")
            if isinstance(d.get("mustBeBetween"), list) else None,
            must_not_be_between=d.get("mustNotBeBetween")
            if isinstance(d.get("mustNotBeBetween"), list) else None,
            unit=d.get("unit"),
            severity=d.get("severity"),
            dimension=d.get("dimension"),
            id=d.get("id"),
            tags=list(d["tags"]) if isinstance(d.get("tags"), list) else None,
        )


def _dicts_in(v: Any, where: str, malformed: List[str]) -> List[Dict[str, Any]]:
    """Container-shape guard (ADVICE-1 bug class): a field that must hold a
    list of mappings may arrive as a scalar/mapping in malformed YAML.
    None -> []; list -> its dict elements, each other element labelled in
    ``malformed`` (the compiler turns each label into an ``error`` check);
    anything else -> path-labelled ValueError, never a crash."""
    if v is None:
        return []
    if not isinstance(v, list):
        raise ValueError(
            f"contract element '{where}' must be a list, got {type(v).__name__}")
    malformed.extend(f"{where}[{i}] ({type(x).__name__})"
                     for i, x in enumerate(v) if not isinstance(x, dict))
    return [x for x in v if isinstance(x, dict)]


def _options_dict(v: Any, where: str) -> Dict[str, Any]:
    if v is None:
        return {}
    if not isinstance(v, dict):
        raise ValueError(
            f"contract element '{where}' must be a mapping, got {type(v).__name__}")
    return dict(v)


@dataclass
class Property:
    name: str
    logical_type: Optional[str] = None
    physical_type: Optional[str] = None
    physical_name: Optional[str] = None
    business_name: Optional[str] = None  # ODCS businessName (display title)
    required: bool = False
    unique: bool = False
    primary_key: bool = False
    primary_key_position: Optional[int] = None
    classification: Optional[str] = None
    description: Optional[str] = None
    tags: Optional[List[str]] = None
    # engine extension: a Spark SQL expression defining a derived column
    # (e.g. "length(text)") — materialized before checks run, so quality
    # rules (drift, ranges) can target computed metrics
    expression: Optional[str] = None
    options: Dict[str, Any] = dc_field(default_factory=dict)  # logicalTypeOptions
    properties: Optional[List["Property"]] = None  # object children
    items: Optional["Property"] = None  # array element
    quality: List[QualityRule] = dc_field(default_factory=list)
    # list elements that are not mappings, as 'where[i] (type)'; see _dicts_in
    malformed: List[str] = dc_field(default_factory=list)

    @property
    def column(self) -> str:
        """The physical column name this property binds to."""
        return self.physical_name or self.name

    @staticmethod
    def from_dict(d: Dict[str, Any]) -> "Property":
        name = d.get("name") or ""
        malformed: List[str] = []
        children = _dicts_in(d.get("properties"), f"property '{name}' properties",
                             malformed) if d.get("properties") is not None else None
        items = d.get("items")
        options = _options_dict(d.get("logicalTypeOptions"),
                                "property.logicalTypeOptions")
        # ODCS customProperties list -> mapping; carried in options so
        # downstream consumers (jsonschema enum-from-customProperties,
        # reference jsonschema_exporter._get_config_value) can reach it
        cp = d.get("customProperties")
        if cp and isinstance(cp, list):
            options["customProperties"] = {
                c.get("property"): c.get("value") for c in cp if isinstance(c, dict)
            }
        return Property(
            name=name,
            logical_type=d.get("logicalType"),
            physical_type=d.get("physicalType"),
            physical_name=d.get("physicalName"),
            business_name=d.get("businessName"),
            required=bool(d.get("required", False)),
            unique=bool(d.get("unique", False)),
            primary_key=bool(d.get("primaryKey", False)),
            primary_key_position=d.get("primaryKeyPosition"),
            classification=d.get("classification"),
            description=d.get("description") if isinstance(d.get("description"), str) else None,
            tags=list(d["tags"]) if isinstance(d.get("tags"), list) else None,
            expression=d.get("expression"),
            options=options,
            properties=[Property.from_dict(c) for c in children] if children else None,
            items=Property.from_dict(items) if isinstance(items, dict) else None,
            quality=[QualityRule.from_dict(q) for q in _dicts_in(
                d.get("quality"), f"property '{name}' quality", malformed)],
            malformed=malformed,
        )


@dataclass
class SchemaObject:
    name: str
    physical_name: Optional[str] = None
    business_name: Optional[str] = None
    logical_type: str = "table"  # table | blob
    physical_type: Optional[str] = None  # table | view | ...
    description: Optional[str] = None
    properties: List[Property] = dc_field(default_factory=list)
    quality: List[QualityRule] = dc_field(default_factory=list)
    malformed: List[str] = dc_field(default_factory=list)  # see Property

    @property
    def table(self) -> str:
        return self.physical_name or self.name

    @staticmethod
    def from_dict(d: Dict[str, Any]) -> "SchemaObject":
        name = d.get("name") or ""
        malformed: List[str] = []
        return SchemaObject(
            name=name,
            physical_name=d.get("physicalName"),
            business_name=d.get("businessName"),
            logical_type=d.get("logicalType") or "table",
            physical_type=d.get("physicalType"),
            description=d.get("description") if isinstance(d.get("description"), str) else None,
            properties=[Property.from_dict(p) for p in _dicts_in(
                d.get("properties"), f"schema '{name}' properties", malformed)],
            quality=[QualityRule.from_dict(q) for q in _dicts_in(
                d.get("quality"), f"schema '{name}' quality", malformed)],
            malformed=malformed,
        )


@dataclass
class SLAProperty:
    property: str  # freshness | retention | ...
    value: Any = None
    unit: Optional[str] = None
    element: Optional[str] = None  # "model.field"

    @staticmethod
    def from_dict(d: Dict[str, Any]) -> "SLAProperty":
        return SLAProperty(
            property=d.get("property") or "",
            value=d.get("value"),
            unit=d.get("unit"),
            element=d.get("element"),
        )


@dataclass
class Server:
    server: Optional[str] = None  # name
    type: Optional[str] = None  # local | s3 | kafka | dataframe | iceberg | ...
    format: Optional[str] = None  # parquet | csv | json | delta | iceberg
    path: Optional[str] = None
    location: Optional[str] = None
    catalog: Optional[str] = None
    schema_: Optional[str] = None
    options: Dict[str, Any] = dc_field(default_factory=dict)

    @staticmethod
    def from_dict(d: Dict[str, Any]) -> "Server":
        known = {"server", "type", "format", "path", "location", "catalog", "schema"}
        return Server(
            server=d.get("server"),
            type=d.get("type"),
            format=d.get("format"),
            path=d.get("path"),
            location=d.get("location"),
            catalog=d.get("catalog"),
            schema_=d.get("schema"),
            options={k: v for k, v in d.items() if k not in known},
        )


@dataclass
class DataContract:
    id: Optional[str] = None
    version: Optional[str] = None
    name: Optional[str] = None
    description: Optional[str] = None  # ODCS description.purpose or string
    owner: Optional[str] = None  # ODCS team.name
    schema_objects: List[SchemaObject] = dc_field(default_factory=list)
    servers: List[Server] = dc_field(default_factory=list)
    sla_properties: List[SLAProperty] = dc_field(default_factory=list)
    # elements of the top-level schema/servers/slaProperties lists that are
    # not mappings; see Property
    malformed: List[str] = dc_field(default_factory=list)

    def schema_object(self, name: str) -> Optional[SchemaObject]:
        lowered = name.lower()
        for s in self.schema_objects:
            if s.name.lower() == lowered or (s.physical_name or "").lower() == lowered:
                return s
        return None

    def server(self, name: Optional[str] = None) -> Optional[Server]:
        if not self.servers:
            return None
        if name is None:
            return self.servers[0]
        for s in self.servers:
            if s.server == name:
                return s
        return None


# ---------------------------------------------------------------------------
# loaders
# ---------------------------------------------------------------------------

def _is_legacy_dcs(doc: Dict[str, Any]) -> bool:
    return "models" in doc and "schema" not in doc


# DCS type spellings -> the 9 ODCS logical categories (reference
# imports/dcs_importer.py:578-610; None = not representable in ODCS)
_DCS_TYPE_MAP = {
    "string": "string", "text": "string", "varchar": "string", "char": "string",
    "integer": "integer", "int": "integer", "long": "integer", "bigint": "integer",
    "float": "number", "double": "number", "decimal": "number",
    "numeric": "number", "number": "number",
    "boolean": "boolean", "bool": "boolean",
    "timestamp": "timestamp", "timestamp_tz": "timestamp",
    "timestamp_ntz": "timestamp", "datetime": "timestamp",
    "date": "date",
    "array": "array",
    "object": "object", "record": "object", "struct": "object",
    "time": None, "map": None, "interval": None, "bytes": None,
    "binary": None, "null": None,
}


def _convert_legacy_field(name: str, f: Dict[str, Any]) -> Property:
    """Legacy DCS field → ODCS-ish Property (reference: imports/dcs_importer.py)."""
    malformed: List[str] = []
    options: Dict[str, Any] = {}
    for src, dst in [
        ("minLength", "minLength"),
        ("maxLength", "maxLength"),
        ("minimum", "minimum"),
        ("maximum", "maximum"),
        ("exclusiveMinimum", "exclusiveMinimum"),
        ("exclusiveMaximum", "exclusiveMaximum"),
        ("pattern", "pattern"),
        ("enum", "enum"),
    ]:
        if f.get(src) is not None:
            options[dst] = f[src]
    nested = f.get("fields")
    items = f.get("items")
    raw_type = f.get("type")
    logical = (_DCS_TYPE_MAP.get(raw_type.lower(), raw_type)
               if isinstance(raw_type, str) else raw_type)
    return Property(
        name=name,
        logical_type=logical,
        # reference dcs_importer.py:427-429 preserves the original DCS type
        # string as physicalType (explicit physicalType/config override wins)
        physical_type=(
            f.get("physicalType")
            or (f.get("config", {}).get("physicalType")
                if isinstance(f.get("config"), dict) else None)
            or (raw_type if isinstance(raw_type, str) else None)
        ),
        required=bool(f.get("required", False)),
        unique=bool(f.get("unique", False)),
        primary_key=bool(f.get("primaryKey") or f.get("primary", False)),
        classification=f.get("classification"),
        description=f.get("description") if isinstance(f.get("description"), str) else None,
        tags=list(f["tags"]) if isinstance(f.get("tags"), list) else None,
        options=options,
        properties=[_convert_legacy_field(n, c)
                    for n, c in (nested if isinstance(nested, dict) else {}).items()
                    if isinstance(c, dict)] or None,
        items=_convert_legacy_field("items", items) if isinstance(items, dict) else None,
        quality=[QualityRule.from_dict(q)
                 for q in _dicts_in(f.get("quality"), f"field '{name}' quality", malformed)],
        malformed=malformed,
    )


def _parse_iso8601_duration(duration: Any) -> tuple:
    """(value, unit) from an ISO-8601 duration like PT1H / P1D.

    Mirrors the reference's dcs_importer._parse_iso8601_duration:780-797
    (single-component durations only; unit chars map to d/h/m/s)."""
    if not isinstance(duration, str) or not duration:
        return None, None
    import re as _re

    stripped = duration.upper().replace("P", "").replace("T", "")
    m = _re.match(r"(\d+)([DHMS])", stripped)
    if m:
        return int(m.group(1)), {"D": "d", "H": "h", "M": "m", "S": "s"}[m.group(2)]
    return None, None


def _convert_legacy_servicelevels(sl: Any) -> List["SLAProperty"]:
    """Legacy DCS ``servicelevels`` is a mapping of named sections
    (availability/retention/freshness/latency/frequency/support/backup),
    not an ODCS ``slaProperties`` list. Convert it the way the reference's
    dcs_importer._convert_servicelevels:669-775 does."""
    out: List[SLAProperty] = []
    if not isinstance(sl, dict):
        return out

    def _sec(name: str) -> Dict[str, Any]:
        v = sl.get(name)
        return v if isinstance(v, dict) else {}

    avail = sl.get("availability")
    if avail:
        desc = avail.get("description") if isinstance(avail, dict) else None
        out.append(SLAProperty(property="generalAvailability", value=desc or str(avail)))

    ret = _sec("retention")
    if ret:
        out.append(SLAProperty(property="retention", value=ret.get("period"),
                               element=ret.get("timestampField")))

    fresh = _sec("freshness")
    if fresh.get("threshold") and fresh.get("timestampField"):
        value, unit = _parse_iso8601_duration(fresh["threshold"])
        if value is not None:
            out.append(SLAProperty(property="freshness", value=value, unit=unit,
                                   element=fresh["timestampField"]))

    lat = _sec("latency")
    if lat.get("threshold"):
        value, unit = _parse_iso8601_duration(lat["threshold"])
        if value is not None:
            out.append(SLAProperty(property="latency", value=value, unit=unit,
                                   element=lat.get("sourceTimestampField")))

    freq = _sec("frequency")
    freq_value = freq.get("interval") or freq.get("cron")
    if freq_value:
        out.append(SLAProperty(property="frequency", value=freq_value))

    sup = _sec("support")
    sup_value = sup.get("time") or sup.get("description")
    if sup_value:
        out.append(SLAProperty(property="support", value=sup_value))

    bak = _sec("backup")
    bak_value = bak.get("interval") or bak.get("cron")
    if bak_value:
        out.append(SLAProperty(property="backup", value=bak_value))
    return out


def _dict_at(doc: Dict[str, Any], key: str) -> Dict[str, Any]:
    v = doc.get(key)
    if v is None:
        return {}
    if not isinstance(v, dict):
        raise ValueError(f"contract element '{key}' must be a mapping, got {type(v).__name__}")
    return v


def _from_legacy(doc: Dict[str, Any]) -> DataContract:
    schema_objects = []
    for model_name, m in _dict_at(doc, "models").items():
        if not isinstance(m, dict):
            raise ValueError(f"model '{model_name}' must be a mapping")
        props = [_convert_legacy_field(n, f)
                 for n, f in _dict_at(m, "fields").items() if isinstance(f, dict)]
        malformed: List[str] = []
        schema_objects.append(
            SchemaObject(
                name=model_name,
                logical_type=m.get("type") or "table",
                description=m.get("description") if isinstance(m.get("description"), str) else None,
                properties=props,
                quality=[QualityRule.from_dict(q) for q in _dicts_in(
                    m.get("quality"), f"model '{model_name}' quality", malformed)],
                malformed=malformed,
            )
        )
    info = _dict_at(doc, "info")
    servers = []
    for name, s in _dict_at(doc, "servers").items():
        if not isinstance(s, dict):
            raise ValueError(f"server '{name}' must be a mapping")
        d = dict(s)
        d["server"] = name
        servers.append(Server.from_dict(d))
    slas = _convert_legacy_servicelevels(doc.get("servicelevels") or {})
    return DataContract(
        id=doc.get("id"),
        version=info.get("version"),
        name=info.get("title"),
        description=info.get("description") if isinstance(info.get("description"), str) else None,
        owner=info.get("owner") if isinstance(info.get("owner"), str) else None,
        schema_objects=schema_objects,
        servers=servers,
        sla_properties=slas,
    )


def _from_odcs(doc: Dict[str, Any]) -> DataContract:
    desc = doc.get("description")
    if isinstance(desc, dict):
        desc = desc.get("purpose")
    team = doc.get("team")
    owner = team.get("name") if isinstance(team, dict) else None
    malformed: List[str] = []
    return DataContract(
        id=doc.get("id"),
        version=doc.get("version"),
        name=doc.get("name"),
        description=desc if isinstance(desc, str) else None,
        owner=owner,
        schema_objects=[SchemaObject.from_dict(s)
                        for s in _dicts_in(doc.get("schema"), "schema", malformed)],
        servers=[Server.from_dict(s)
                 for s in _dicts_in(doc.get("servers"), "servers", malformed)],
        sla_properties=[SLAProperty.from_dict(s) for s in _dicts_in(
            doc.get("slaProperties"), "slaProperties", malformed)],
        malformed=malformed,
    )


def load_contract_str(text: str, inline_references: bool = False) -> DataContract:
    doc = yaml.safe_load(text)
    if not isinstance(doc, dict):
        raise ValueError("contract YAML must be a mapping")
    if _is_legacy_dcs(doc):
        return _from_legacy(doc)
    if inline_references:
        from datacontract_cli_spark.model.definitions import inline_definitions
        inline_definitions(doc)
    return _from_odcs(doc)


def load_contract(path: str, inline_references: bool = False) -> DataContract:
    """Load from a local path or an http(s) URL (reference lint/urls.py
    fetch_resource: GET with an Accept: application/yaml header; a non-200
    answer is an error, not an empty contract). An API key from
    $DATACONTRACT_API_KEY rides as x-api-key, mirroring the reference's
    registry-host auth lane without hardcoding hosts."""
    if path.startswith(("http://", "https://")):
        import os
        import urllib.error
        import urllib.request

        headers = {"accept": "application/yaml"}
        api_key = os.environ.get("DATACONTRACT_API_KEY")
        if api_key:
            headers["x-api-key"] = api_key
        req = urllib.request.Request(path, headers=headers)
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                text = resp.read().decode("utf-8")
        except urllib.error.URLError as e:
            raise ValueError(f"cannot read data contract from {path}: {e}")
        return load_contract_str(text, inline_references=inline_references)
    with open(path, "r", encoding="utf-8") as f:
        return load_contract_str(f.read(), inline_references=inline_references)
