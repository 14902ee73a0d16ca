"""SodaCL exporter: contract -> a `checks for <model>` YAML document.

Reference behavior: datacontract/export/sodacl_exporter.py +
export/sodacl_check_builder.py — one SodaCL entry per compiled check with
the engine's stable check keys as SodaCL names:

- field_is_present  -> schema / fail / when required column missing
- field_type        -> schema / fail / when wrong column type (physicalType
                       if declared, else logicalType — builder :300)
- required/unique   -> missing_count(col) = 0 / duplicate_count(col) = 0
- logicalTypeOptions (min/maxLength, minimum/maximum, exclusive bounds,
  pattern, enum) -> invalid_count(col) = 0 with the matching valid-* config
- library metrics (rowCount, duplicateValues, nullValues, invalidValues,
  missingValues) -> the corresponding soda metric with the rule's threshold
- type: sql         -> `<key> <threshold>` + `<key> query`
- type: custom, engine: soda -> the raw SodaCL implementation merged in
- slaProperties freshness/retention -> freshness(col) < Nh /
  <model>_servicelevel_retention < seconds with a TIMESTAMPDIFF expression

Output sections are yaml-dump sorted, entries keep builder order — matching
the reference's expected fixture (tests/test_export_sodacl.py:11-83).
"""

from __future__ import annotations

import logging
from typing import Any, Dict, List, Optional

import yaml

from datacontract_cli_spark.checks.compile import (
    _retention_seconds,
    prepare_query,
    to_threshold,
)
from datacontract_cli_spark.checks.spec import Op
from datacontract_cli_spark.model.contract import (
    DataContract,
    Property,
    QualityRule,
)

logger = logging.getLogger(__name__)

_Entry = Any  # one element of a "checks for <model>" list


def _escape_values(values: List[Any]) -> List[Any]:
    return [v.replace("'", "''") if isinstance(v, str) else v for v in values]


def _threshold_str(q: QualityRule) -> Optional[str]:
    t = to_threshold(q)
    if t is None:
        return None
    if t.op is Op.BETWEEN:
        return f"between {t.value} and {t.value2}"
    if t.op is Op.NOT_BETWEEN:
        return f"not between {t.value} and {t.value2}"
    return f"{t.op.value} {t.value}"


def _invalid_entry(model: str, field: str, ctype: str, config_key: str,
                   config_value: Any) -> _Entry:
    key = f"{model}__{field}__{ctype}"
    return {f"invalid_count({field}) = 0": {"name": key, config_key: config_value}}


def _property_entries(model: str, prop: Property) -> List[_Entry]:
    field = prop.column
    out: List[_Entry] = [
        {"schema": {"name": f"{model}__{field}__field_is_present",
                    "fail": {"when required column missing": [field]}}}
    ]
    declared = prop.physical_type or prop.logical_type
    if declared is not None:
        out.append({"schema": {"name": f"{model}__{field}__field_type",
                               "fail": {"when wrong column type": {field: declared}}}})
    if prop.required:
        out.append({f"missing_count({field}) = 0":
                    {"name": f"{model}__{field}__field_required"}})
    if prop.unique:
        out.append({f"duplicate_count({field}) = 0":
                    {"name": f"{model}__{field}__field_unique"}})

    opts = prop.options or {}
    if opts.get("minLength") is not None:
        out.append(_invalid_entry(model, field, "field_min_length",
                                  "valid min length", opts["minLength"]))
    if opts.get("maxLength") is not None:
        out.append(_invalid_entry(model, field, "field_max_length",
                                  "valid max length", opts["maxLength"]))
    if opts.get("minimum") is not None:
        out.append(_invalid_entry(model, field, "field_minimum",
                                  "valid min", opts["minimum"]))
    if opts.get("maximum") is not None:
        out.append(_invalid_entry(model, field, "field_maximum",
                                  "valid max", opts["maximum"]))
    if opts.get("exclusiveMinimum") is not None:
        out.append(_invalid_entry(model, field, "field_minimum",
                                  "valid min", opts["exclusiveMinimum"]))
        out.append(_invalid_entry(model, field, "field_not_equal",
                                  "invalid values",
                                  _escape_values([opts["exclusiveMinimum"]])))
    if opts.get("exclusiveMaximum") is not None:
        out.append(_invalid_entry(model, field, "field_maximum",
                                  "valid max", opts["exclusiveMaximum"]))
        out.append(_invalid_entry(model, field, "field_not_equal",
                                  "invalid values",
                                  _escape_values([opts["exclusiveMaximum"]])))
    if opts.get("pattern") is not None:
        out.append(_invalid_entry(model, field, "field_regex",
                                  "valid regex", opts["pattern"]))
    enum = opts.get("enum")
    if enum:
        out.append(_invalid_entry(model, field, "field_enum",
                                  "valid values", _escape_values(list(enum))))
    out.extend(_quality_entries(model, field, prop.quality or []))
    return out


def _quality_entries(model: str, field: Optional[str],
                     rules: List[QualityRule]) -> List[_Entry]:
    out: List[_Entry] = []
    raw_sections: List[Dict[str, Any]] = []
    for idx, q in enumerate(rules):
        if q.type == "custom" and (q.engine or "").lower() == "soda" and q.implementation:
            try:
                raw = yaml.safe_load(q.implementation)
            except yaml.YAMLError:
                logger.warning("Unparseable SodaCL implementation on %s", model)
                continue
            if isinstance(raw, dict):
                raw_sections.append(raw)
            continue
        if q.type == "sql":
            key = (f"{model}__quality_sql_{idx}" if field is None
                   else f"{model}__{field}__quality_sql_{idx}")
            threshold = _threshold_str(q)
            query = prepare_query(q, model, field, None)
            if not query:
                logger.warning("Quality check %s has no query", key)
                continue
            if threshold is None:
                logger.warning("Quality check %s has no valid threshold", key)
                continue
            out.append({f"{key} {threshold}": {f"{key} query": query, "name": key}})
            continue
        if q.type == "library":
            threshold = _threshold_str(q)
            if threshold is None:
                logger.warning("Quality metric %s has no valid threshold", q.metric)
                continue
            metric = (q.metric or "").strip()
            args = q.arguments or {}
            if metric == "rowCount":
                out.append({f"row_count {threshold}":
                            {"name": f"{model}__row_count"}})
            elif metric == "duplicateValues" and field is None and args.get("properties"):
                cols = ", ".join(args["properties"])
                out.append({f"duplicate_count({cols}) {threshold}":
                            {"name": f"{model}__model_duplicate_values"}})
            elif metric == "duplicateValues" and field is not None:
                out.append({f"duplicate_count({field}) {threshold}":
                            {"name": f"{model}__{field}__field_duplicate_values"}})
            elif metric == "nullValues" and field is not None:
                out.append({f"missing_count({field}) {threshold}":
                            {"name": f"{model}__{field}__field_null_values"}})
            elif metric == "invalidValues" and field is not None and args.get("validValues") is not None:
                out.append({f"invalid_count({field}) {threshold}":
                            {"name": f"{model}__{field}__field_invalid_values",
                             "valid values": _escape_values(list(args["validValues"]))}})
            elif metric == "missingValues" and field is not None and args.get("missingValues") is not None:
                out.append({f"missing_count({field}) {threshold}":
                            {"name": f"{model}__{field}__field_missing_values",
                             "missing values": _escape_values(list(args["missingValues"]))}})
            else:
                logger.warning("Unsupported library metric %s for SodaCL export", metric)
    # raw custom implementations are merged by the caller (they may target a
    # different "checks for X" section than this model)
    out.append(("__raw__", raw_sections)) if raw_sections else None
    return out


_FRESHNESS_SODA_UNITS = {
    "d": "d", "day": "d", "days": "d",
    "h": "h", "hr": "h", "hour": "h", "hours": "h",
    "m": "m", "min": "m", "minute": "m", "minutes": "m",
}


def _sla_entries(contract: DataContract) -> Dict[str, List[_Entry]]:
    by_model: Dict[str, List[_Entry]] = {}
    models = {o.name for o in contract.schema_objects}
    for sla in contract.sla_properties:
        if sla.property not in ("freshness", "retention") or not sla.element:
            continue
        if sla.element.count(".") != 1:
            logger.info("slaProperties element %r is not model.field", sla.element)
            continue
        model, field = sla.element.split(".")
        if model not in models:
            logger.info("Model %s not found in schema, skipping SLA check", model)
            continue
        if sla.property == "freshness":
            unit = _FRESHNESS_SODA_UNITS.get((sla.unit or "d").lower())
            if unit is None or sla.value is None:
                continue
            by_model.setdefault(model, []).append(
                {f"freshness({field}) < {sla.value}{unit}":
                 {"name": "servicelevel_freshness"}})
        else:
            seconds = _retention_seconds(sla.value, sla.unit)
            if seconds is None:
                continue
            metric = f"{model}_servicelevel_retention"
            by_model.setdefault(model, []).append(
                {f"{metric} < {seconds}":
                 {"name": "servicelevel_retention",
                  f"{metric} expression":
                  f"TIMESTAMPDIFF(SECOND, MIN({field}), CURRENT_TIMESTAMP)"}})
    return by_model


def _merge_section(out: Dict[str, Any], key: str, value: Any) -> None:
    if key in out and isinstance(out[key], list) and isinstance(value, list):
        out[key].extend(value)
    elif key in out and isinstance(out[key], dict):
        out[key].update(value)
    else:
        out[key] = value


def to_sodacl_dict(contract: DataContract, schema_name: str = "all") -> Dict[str, Any]:
    out: Dict[str, Any] = {}
    for obj in contract.schema_objects:
        if schema_name != "all" and obj.name != schema_name:
            continue
        model = obj.table
        entries: List[_Entry] = []
        for prop in obj.properties:
            entries.extend(_property_entries(model, prop))
        entries.extend(_quality_entries(model, None, obj.quality or []))
        real = [e for e in entries if not (isinstance(e, tuple) and e[0] == "__raw__")]
        if real:
            _merge_section(out, f"checks for {model}", real)
        # raw custom-soda implementations merge at their natural position
        # (after this object's own checks, before service levels) — they may
        # target any "checks for X" section
        for e in entries:
            if isinstance(e, tuple) and e[0] == "__raw__":
                for raw in e[1]:
                    for key, value in raw.items():
                        _merge_section(out, key, value)
    for model, entries in _sla_entries(contract).items():
        _merge_section(out, f"checks for {model}", entries)
    return out


def to_sodacl_yaml(contract: DataContract, schema_name: str = "all") -> str:
    return yaml.dump(to_sodacl_dict(contract, schema_name))
