"""Contract → CheckSpec compiler.

Walks the contract's schema objects and produces the flat check list. The
stable ``key``/``type``/``name`` strings follow the reference compiler
(datacontract/engines/checks/create_checks.py:175-897) exactly — they are the
byte-match surface users' dashboards key on. Implementation is original.
"""

from __future__ import annotations

import logging
import re
from typing import Any, Dict, List, Optional

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
from datacontract_cli_spark.model.contract import (
    DataContract,
    Property,
    QualityRule,
    SchemaObject,
    Server,
)

logger = logging.getLogger(__name__)

# Default quality dimension per built-in check type (reference:
# datacontract/engines/checks/dimensions.py:18-53). Author-declared
# quality.dimension always wins.
def _as_col_list(v: Any) -> Optional[List[str]]:
    """Column-list arguments accept a YAML list OR a single scalar
    string — ``list("turn_idx")`` would otherwise iterate the string
    into single-character 'columns'."""
    if v is None:
        return None
    if isinstance(v, str):
        return [v]
    return [str(c) for c in v]


DEFAULT_DIMENSIONS: Dict[str, str] = {
    "field_required": "completeness",
    "field_primary_key_required": "completeness",
    "field_unique": "uniqueness",
    "field_primary_key_unique": "uniqueness",
    "primary_key_unique": "uniqueness",
    "field_is_present": "conformity",
    "field_type": "conformity",
    "field_physical_type": "conformity",
    "field_nested_type": "conformity",
    "field_nested_physical_type": "conformity",
    "field_regex": "conformity",
    "field_enum": "conformity",
    "field_min_length": "conformity",
    "field_max_length": "conformity",
    "field_minimum": "conformity",
    "field_maximum": "conformity",
    "field_not_equal": "conformity",
    "schema": "conformity",
    "servicelevel_retention": "conformity",
    "servicelevel_freshness": "timeliness",
    # beyond-reference
    "referential_integrity": "consistency",
    "freq_drift_psi": "consistency",
    "quantile_drift_ks": "consistency",
    "max_run_length": "consistency",
}

_PERCENT_UNITS = {"percent", "percentage", "%"}


def default_dimension(check_type: Optional[str]) -> Optional[str]:
    return DEFAULT_DIMENSIONS.get(check_type) if check_type else None


def to_threshold(q: QualityRule) -> Optional[Threshold]:
    if q.must_be is not None:
        return Threshold(Op.EQ, q.must_be)
    if q.must_not_be is not None:
        return Threshold(Op.NE, q.must_not_be)
    if q.must_be_gt is not None:
        return Threshold(Op.GT, q.must_be_gt)
    if q.must_be_ge is not None:
        return Threshold(Op.GE, q.must_be_ge)
    if q.must_be_lt is not None:
        return Threshold(Op.LT, q.must_be_lt)
    if q.must_be_le is not None:
        return Threshold(Op.LE, q.must_be_le)
    if q.must_be_between is not None:
        if len(q.must_be_between) != 2:
            logger.warning("mustBeBetween needs exactly 2 values: %s", q.must_be_between)
            return None
        return Threshold(Op.BETWEEN, q.must_be_between[0], q.must_be_between[1])
    if q.must_not_be_between is not None:
        if len(q.must_not_be_between) != 2:
            logger.warning("mustNotBeBetween needs exactly 2 values: %s", q.must_not_be_between)
            return None
        return Threshold(Op.NOT_BETWEEN, q.must_not_be_between[0], q.must_not_be_between[1])
    return None


def is_percent_unit(q: QualityRule) -> bool:
    return q.unit is not None and str(q.unit).strip().lower() in _PERCENT_UNITS


def prepare_query(
    q: QualityRule, model: str, field: Optional[str], server: Optional[Server]
) -> Optional[str]:
    """Substitute {model}/{table}/{object}/{schema}/{field}/{column}/{property}
    (and ``${…}``, optionally quoted) placeholders in a user SQL query
    (reference semantics: create_checks.py:144-169)."""
    if not q.query:
        return None
    text = q.query
    # The engine executes custom SQL against session temp views named after
    # the model, so a database/schema qualifier can never resolve — drop a
    # "{schema}." qualifier that directly prefixes a table placeholder
    # (before the table placeholders themselves are substituted), and
    # substitute any remaining bare {schema} with the model name.
    text = re.sub(r'["\']?\$?\{schema}["\']?\s*\.\s*(?=["\']?\$?\{(model|table|object)})',
                  "", text)
    # callable replacements: a model/field name containing a backslash
    # must substitute literally, not be parsed as a regex escape
    _model = lambda m: model  # noqa: E731
    for token in ("model", "table", "object"):
        text = re.sub(r'["\']?\$?\{%s}["\']?' % token, _model, text)
    text = re.sub(r'["\']?\$?\{schema}["\']?', _model, text)
    if field is not None:
        _field = lambda m: field  # noqa: E731
        for token in ("field", "column", "property"):
            text = re.sub(r'["\']?\$?\{%s}["\']?' % token, _field, text)
    return text


# ---------------------------------------------------------------------------
# helpers that build one spec each
# ---------------------------------------------------------------------------

def _missing(model, field, ctype, threshold, name, *, category="schema", missing_values=None,
             percent=False, severity=None, dimension=None) -> CheckSpec:
    return CheckSpec(
        key=f"{model}__{field}__{ctype}",
        category=category,
        type=ctype,
        name=name,
        model=model,
        field=field,
        metric=MetricType.MISSING_COUNT,
        threshold=threshold,
        missing_values=missing_values,
        threshold_is_percent=percent,
        severity=severity,
        dimension=dimension or default_dimension(ctype),
    )


def _duplicate(model, field, ctype, threshold, name, *, category="schema",
               severity=None, dimension=None) -> CheckSpec:
    return CheckSpec(
        key=f"{model}__{field}__{ctype}",
        category=category,
        type=ctype,
        name=name,
        model=model,
        field=field,
        metric=MetricType.DUPLICATE_COUNT,
        threshold=threshold,
        severity=severity,
        dimension=dimension or default_dimension(ctype),
    )


def _invalid(model, field, ctype, name, *, threshold=None, category="schema",
             valid_values=None, valid_regex=None, valid_min=None, valid_max=None,
             valid_min_length=None, valid_max_length=None, invalid_values=None,
             percent=False, severity=None, dimension=None) -> CheckSpec:
    return CheckSpec(
        key=f"{model}__{field}__{ctype}",
        category=category,
        type=ctype,
        name=name,
        model=model,
        field=field,
        metric=MetricType.INVALID_COUNT,
        threshold=threshold or Threshold(Op.EQ, 0),
        valid_values=valid_values,
        valid_regex=valid_regex,
        valid_min=valid_min,
        valid_max=valid_max,
        valid_min_length=valid_min_length,
        valid_max_length=valid_max_length,
        invalid_values=invalid_values,
        threshold_is_percent=percent,
        severity=severity,
        dimension=dimension or default_dimension(ctype),
    )


def _row_count(model, threshold, severity=None, dimension=None) -> CheckSpec:
    return CheckSpec(
        key=f"{model}__row_count",
        category="quality",
        type="row_count",
        name=f"Check that model {model} has row_count {threshold.describe()}",
        model=model,
        metric=MetricType.ROW_COUNT,
        threshold=threshold,
        severity=severity,
        dimension=dimension,
    )


def _declared_type_label(prop: Property, physical: bool = False) -> str:
    base = (prop.physical_type if physical else prop.logical_type) or "any"
    if prop.logical_type == "array" and prop.items is not None:
        return f"{base}({_declared_type_label(prop.items, physical)})"
    if prop.logical_type == "object" and prop.properties:
        inner = ", ".join(f"{c.name} {_declared_type_label(c, physical)}" for c in prop.properties)
        return f"{base}({inner})"
    return base


# ---------------------------------------------------------------------------
# quality rules
# ---------------------------------------------------------------------------

def _quality_rule(model: str, field: Optional[str], q: QualityRule, idx: int,
                  server: Optional[Server]) -> List[CheckSpec]:
    if q.type == "custom" and q.engine == "soda" and q.implementation:
        return [
            CheckSpec(
                key=f"{model}__quality_custom_{idx}",
                category="quality",
                type="quality_custom_soda",
                name=q.description or "Custom SodaCL Check",
                model=model,
                field=field,
                metric=MetricType.UNSUPPORTED,
                dimension=q.dimension,
                preset_result="warning",
                preset_reason=(
                    "Raw SodaCL custom checks (quality.type: custom, engine: soda) are no longer "
                    "supported since soda-core was removed. Migrate this check to quality.type: sql."
                ),
            )
        ]

    if q.type == "sql":
        if field is None:
            key, ctype = f"{model}__quality_sql_{idx}", "model_quality_sql"
        else:
            key, ctype = f"{model}__{field}__quality_sql_{idx}", "field_quality_sql"
        threshold = to_threshold(q)
        query = prepare_query(q, model, field, server)
        if query is None:
            logger.warning("Quality check %s has no query", key)
            return []
        if threshold is None:
            logger.warning("Quality check %s has no valid threshold", key)
            return []
        return [
            CheckSpec(
                key=key,
                category="quality",
                type=ctype,
                name=q.description or "Quality Check",
                model=model,
                field=field,
                metric=MetricType.CUSTOM_SQL,
                threshold=threshold,
                query=query,
                dialect=q.dialect,
                severity=q.severity,
                dimension=q.dimension,
            )
        ]

    if q.metric is None:
        return []
    threshold = to_threshold(q)
    if threshold is None:
        logger.warning("Quality metric %s has no valid threshold", q.metric)
        return []
    return _library_metric(model, field, q, threshold)


def _library_metric(model: str, field: Optional[str], q: QualityRule,
                    threshold: Threshold) -> List[CheckSpec]:
    metric, severity, dimension = q.metric, q.severity, q.dimension
    percent = is_percent_unit(q)
    if percent and metric not in ("nullValues", "missingValues", "invalidValues"):
        logger.warning("Quality metric %s does not support unit: percent; comparing absolute count", metric)
        percent = False

    if metric == "rowCount":
        return [_row_count(model, threshold, severity=severity, dimension=dimension)]

    if metric == "duplicateValues":
        if field is None:
            cols = _as_col_list((q.arguments or {}).get("properties"))
            if not cols:
                # sibling missing-argument branches warn-and-skip at
                # compile time; reaching the executor with columns=None
                # only to error there helps nobody
                logger.warning("model-level duplicateValues on %s needs "
                               "arguments.properties; skipping", model)
                return []
            joined = ", ".join(cols)
            return [
                CheckSpec(
                    key=f"{model}__model_duplicate_values",
                    category="quality",
                    type="model_duplicate_values",
                    name=f"Check that model {model} has duplicate_count {threshold.describe()} for columns {joined}",
                    model=model,
                    metric=MetricType.DUPLICATE_COUNT,
                    threshold=threshold,
                    columns=cols,
                    severity=severity,
                    dimension=dimension,
                )
            ]
        return [
            _duplicate(model, field, "field_duplicate_values", threshold,
                       f"Check that field {field} has duplicate_count {threshold.describe()}",
                       category="quality", severity=severity, dimension=dimension)
        ]

    if metric == "nullValues":
        if field is None:
            logger.warning("Quality check nullValues is only supported at field level")
            return []
        return [
            _missing(model, field, "field_null_values", threshold,
                     f"Check that field {field} has missing_count {threshold.describe()}",
                     category="quality", percent=percent, severity=severity, dimension=dimension)
        ]

    if metric == "missingValues":
        if field is None:
            logger.warning("Quality check missingValues is only supported at field level")
            return []
        vals = (q.arguments or {}).get("missingValues")
        if vals is not None:
            vals = [v for v in vals if v is not None]
        return [
            _missing(model, field, "field_missing_values", threshold,
                     f"Check that field {field} has missing_count {threshold.describe()}",
                     category="quality", missing_values=vals or None, percent=percent,
                     severity=severity, dimension=dimension)
        ]

    if metric == "invalidValues":
        if field is None:
            logger.warning("Quality check invalidValues is only supported at field level")
            return []
        args = q.arguments or {}
        valid_values, pattern = args.get("validValues"), args.get("pattern")
        if valid_values is None and pattern is None:
            logger.warning("invalidValues on field %s has no validValues or pattern argument; skipping", field)
            return []
        return [
            _invalid(model, field, "field_invalid_values",
                     f"Check that field {field} has invalid_count {threshold.describe()}",
                     threshold=threshold, category="quality", valid_values=valid_values,
                     valid_regex=pattern, percent=percent, severity=severity, dimension=dimension)
        ]

    # --- beyond-reference library metrics (north rule) ----------------------
    if metric == "quantile":
        if field is None:
            logger.warning("Quality metric quantile is only supported at field level")
            return []
        args = q.arguments or {}
        try:
            qv = float(args.get("quantile", 0.5))
        except (TypeError, ValueError):
            logger.warning("quantile on field %s has a non-numeric 'quantile' argument; skipping", field)
            return []
        if not 0.0 <= qv <= 1.0:
            logger.warning("quantile on field %s must be in [0, 1], got %s; skipping", field, qv)
            return []
        q_slug = f"{qv:g}".replace(".", "_")
        return [
            CheckSpec(
                # the quantile value is part of the key so multiple
                # quantile rules on one field (median + p99) don't collide
                key=f"{model}__{field}__quantile_{q_slug}",
                category="quality",
                type="field_quantile",
                name=f"Check that {field} has p{qv:g} {threshold.describe()}",
                model=model,
                field=field,
                metric=MetricType.QUANTILE,
                threshold=threshold,
                quantile=qv,
                quantile_exact=bool(args.get("exact", False)),
                severity=severity,
                dimension=dimension,
            )
        ]

    if metric == "toolArgsValid":
        # per-tool JSON-Schema argument validation (transcript tool-call
        # lane): the JSON column is invalid when the row's tool has a
        # schema and the arguments violate it; tools without schemas
        # validate vacuously. Rides the INVALID_COUNT batched aggregate.
        if field is None:
            logger.warning("Quality metric toolArgsValid is only supported at field level")
            return []
        args = q.arguments or {}
        schemas = args.get("schemas")
        tool_col = args.get("toolColumn")
        if not isinstance(schemas, dict) or not schemas or not tool_col:
            logger.warning("toolArgsValid on field %s needs arguments.toolColumn "
                           "and a non-empty arguments.schemas map; skipping", field)
            return []
        bad = [t for t, s in schemas.items() if not isinstance(s, dict)]
        if bad:
            # a boolean JSON Schema (true/false) is legal JSON Schema but
            # not compilable here — and letting it through would crash
            # predicate construction (schema.get on a bool) OUTSIDE the
            # executor's per-check error scope, killing the whole run
            logger.warning("toolArgsValid on field %s: non-dict schemas "
                           "for %s; skipping", field, bad)
            return []
        from datacontract_cli_spark.operators.jsonschema import _needs_arrow
        arrow_tools = [t for t, s in schemas.items()
                       if isinstance(s, dict) and _needs_arrow(s)]
        if arrow_tools:
            logger.warning("toolArgsValid on field %s: schemas for %s use "
                           "patternProperties (not Column-expressible); skipping",
                           field, arrow_tools)
            return []
        return [
            CheckSpec(
                key=f"{model}__{field}__tool_args_valid",
                category="quality",
                type="field_tool_args_valid",
                name=(f"Check that {field} has invalid_count "
                      f"{threshold.describe()} under per-tool JSON Schemas "
                      f"(tool column {tool_col})"),
                model=model,
                field=field,
                metric=MetricType.INVALID_COUNT,
                threshold=threshold,
                tool_col=tool_col,
                tool_schemas=schemas,
                severity=severity,
                dimension=dimension,
            )
        ]

    if metric == "maxRunLength":
        # degenerate-agent-loop gate: the longest run of consecutive turns
        # with identical action values within any key group (operators/
        # convchecks.run_lengths gaps-and-islands). Declared on the
        # conversation-key field; arguments name the order and action
        # columns. A transcripts contract can gate retry storms with
        # `maxRunLength mustBeLessThan: 5`.
        if field is None:
            logger.warning("Quality metric maxRunLength is only supported at field level")
            return []
        args = q.arguments or {}
        order_cols = _as_col_list(args.get("orderBy"))
        action_cols = _as_col_list(args.get("actionColumns"))
        if not order_cols or not action_cols:
            logger.warning("maxRunLength on field %s needs arguments.orderBy "
                           "and arguments.actionColumns lists; skipping", field)
            return []
        return [
            CheckSpec(
                key=f"{model}__{field}__max_run_length",
                category="quality",
                type="max_run_length",
                name=(f"Check that the longest run of identical "
                      f"({', '.join(action_cols)}) per {field} is "
                      f"{threshold.describe()}"),
                model=model,
                field=field,
                metric=MetricType.MAX_RUN_LENGTH,
                threshold=threshold,
                extra={"order_cols": list(order_cols),
                       "action_cols": list(action_cols)},
                severity=severity,
                dimension=dimension or default_dimension("max_run_length"),
            )
        ]

    if metric == "referentialIntegrity":
        args = q.arguments or {}
        ref = args.get("ref") or ""
        ref_model, _, ref_field = ref.partition(".")
        if field is None or not ref_model or not ref_field:
            logger.warning("referentialIntegrity needs a field and arguments.ref='model.field'")
            return []
        return [
            CheckSpec(
                key=f"{model}__{field}__referential_integrity",
                category="quality",
                type="referential_integrity",
                name=f"Check that {model}.{field} values exist in {ref_model}.{ref_field}",
                model=model,
                field=field,
                metric=MetricType.REFERENTIAL_INTEGRITY,
                threshold=threshold,
                ref_model=ref_model,
                ref_field=ref_field,
                severity=severity,
                dimension=dimension or default_dimension("referential_integrity"),
            )
        ]

    if metric == "freqDriftPsi":
        if field is None:
            logger.warning("freqDriftPsi is only supported at field level")
            return []
        baseline = (q.arguments or {}).get("baseline")
        if not baseline:
            logger.warning("freqDriftPsi on field %s needs arguments.baseline {value: fraction}", field)
            return []
        return [
            CheckSpec(
                key=f"{model}__{field}__freq_drift_psi",
                category="quality",
                type="freq_drift_psi",
                name=f"Check that PSI of {field} frequency distribution vs baseline is {threshold.describe()}",
                model=model,
                field=field,
                metric=MetricType.FREQ_DRIFT_PSI,
                threshold=threshold,
                baseline=baseline,
                severity=severity,
                dimension=dimension or default_dimension("freq_drift_psi"),
            )
        ]

    if metric == "quantileDriftKs":
        if field is None:
            logger.warning("quantileDriftKs is only supported at field level")
            return []
        baseline = (q.arguments or {}).get("baseline")
        if not baseline:
            logger.warning("quantileDriftKs on field %s needs arguments.baseline {quantiles/cdf}", field)
            return []
        return [
            CheckSpec(
                key=f"{model}__{field}__quantile_drift_ks",
                category="quality",
                type="quantile_drift_ks",
                name=f"Check that KS statistic of {field} distribution vs baseline is {threshold.describe()}",
                model=model,
                field=field,
                metric=MetricType.QUANTILE_DRIFT_KS,
                threshold=threshold,
                baseline=baseline,
                severity=severity,
                dimension=dimension or default_dimension("quantile_drift_ks"),
                extra=dict((q.arguments or {})),
            )
        ]

    logger.warning("Quality check %s is not yet supported", metric)
    return []


def _quality_list(model: str, field: Optional[str], rules: List[QualityRule],
                  server: Optional[Server]) -> List[CheckSpec]:
    out: List[CheckSpec] = []
    for idx, q in enumerate(rules):
        specs = _quality_rule(model, field, q, idx, server)
        for s in specs:
            s.quality_id = q.id
            s.tags = list(q.tags) if q.tags else None
        out.extend(specs)
    return out


# ---------------------------------------------------------------------------
# schema object walk
# ---------------------------------------------------------------------------

def _nested_checkable(prop: Property) -> bool:
    cat = prop.logical_type
    if cat == "object":
        return bool(prop.properties)
    if cat == "array":
        return prop.items is not None
    return False


# Backends whose catalog exposes a real DECLARED native type. On file
# sources the type check falls through to the 9-category logicalType lane —
# a DCS contract's raw type string (preserved as physicalType, reference
# dcs_importer.py:427-429) must not be string-compared against what a
# parquet reader inferred (reference: supports_native_type_introspection,
# engines/ibis/native_type.py:40-56; create_checks.py:255 gates on it).
# iceberg/dataframe added: in THIS engine those bind through Spark's
# catalog, whose declared types the dialect alias matrix can check.
_NATIVE_TYPE_SERVERS = {
    "sqlserver", "mssql", "postgres", "redshift", "snowflake", "databricks",
    "oracle", "athena", "trino", "bigquery", "iceberg", "dataframe",
}


def _native_type_server(server: Optional[Server]) -> bool:
    return server is not None and (server.type or "").lower() in _NATIVE_TYPE_SERVERS


def _schema_object_checks(model: str, obj: SchemaObject, server: Optional[Server]) -> List[CheckSpec]:
    checks: List[CheckSpec] = []

    pk_props = sorted(
        [p for p in obj.properties if p.primary_key],
        key=lambda p: p.primary_key_position if p.primary_key_position is not None else 0,
    )
    composite_pk = len(pk_props) > 1

    for prop in obj.properties:
        field = prop.column

        checks.append(
            CheckSpec(
                key=f"{model}__{field}__field_is_present",
                category="schema",
                type="field_is_present",
                name=f"Check that field '{field}' is present",
                model=model,
                field=field,
                metric=MetricType.FIELD_PRESENT,
                uses_raw_view=True,
                dimension=default_dimension("field_is_present"),
            )
        )

        if prop.physical_type and _native_type_server(server):
            checks.append(
                CheckSpec(
                    key=f"{model}__{field}__field_physical_type",
                    category="schema",
                    type="field_physical_type",
                    name=f"Check that field {field} has physical type {prop.physical_type}",
                    model=model,
                    field=field,
                    metric=MetricType.FIELD_PHYSICAL_TYPE,
                    expected_physical_type=prop.physical_type,
                    expected_property=prop,
                    dimension=default_dimension("field_physical_type"),
                )
            )
        elif prop.logical_type:
            label = _declared_type_label(prop)
            checks.append(
                CheckSpec(
                    key=f"{model}__{field}__field_type",
                    category="schema",
                    type="field_type",
                    name=f"Check that field {field} has type {label}",
                    model=model,
                    field=field,
                    metric=MetricType.FIELD_TYPE,
                    expected_category=prop.logical_type,
                    expected_type_label=label,
                    expected_property=prop,
                    dimension=default_dimension("field_type"),
                )
            )

        if _nested_checkable(prop):
            checks.append(
                CheckSpec(
                    key=f"{model}__{field}__field_nested_type",
                    category="schema",
                    type="field_nested_type",
                    name=f"Check that nested types of {field} are correct",
                    model=model,
                    field=field,
                    metric=MetricType.FIELD_NESTED_TYPE,
                    expected_property=prop,
                    dimension=default_dimension("field_nested_type"),
                )
            )

        if prop.required:
            checks.append(
                _missing(model, field, "field_required", Threshold(Op.EQ, 0),
                         f"Check that field {field} has no missing values")
            )
        if prop.unique:
            checks.append(
                _duplicate(model, field, "field_unique", Threshold(Op.EQ, 0),
                           f"Check that unique field {field} has no duplicate values")
            )
        if prop.primary_key:
            # don't duplicate what required/unique already emitted
            if not prop.required:
                checks.append(
                    _missing(model, field, "field_primary_key_required", Threshold(Op.EQ, 0),
                             f"Check that primary key field {field} has no missing values")
                )
            if not composite_pk and not prop.unique:
                checks.append(
                    _duplicate(model, field, "field_primary_key_unique", Threshold(Op.EQ, 0),
                               f"Check that primary key field {field} has no duplicate values")
                )

        opts = prop.options
        if opts.get("minLength") is not None:
            v = opts["minLength"]
            checks.append(_invalid(model, field, "field_min_length",
                                   f"Check that field {field} has a min length of {v}",
                                   valid_min_length=v))
        if opts.get("maxLength") is not None:
            v = opts["maxLength"]
            checks.append(_invalid(model, field, "field_max_length",
                                   f"Check that field {field} has a max length of {v}",
                                   valid_max_length=v))
        if opts.get("minimum") is not None:
            v = opts["minimum"]
            checks.append(_invalid(model, field, "field_minimum",
                                   f"Check that field {field} has a minimum of {v}",
                                   valid_min=v))
        if opts.get("maximum") is not None:
            v = opts["maximum"]
            checks.append(_invalid(model, field, "field_maximum",
                                   f"Check that field {field} has a maximum of {v}",
                                   valid_max=v))
        if opts.get("exclusiveMinimum") is not None:
            v = opts["exclusiveMinimum"]
            checks.append(_invalid(model, field, "field_minimum",
                                   f"Check that field {field} has a minimum of {v}",
                                   valid_min=v))
            checks.append(_invalid(model, field, "field_not_equal",
                                   f"Check that field {field} is not equal to {v}",
                                   invalid_values=[v]))
        if opts.get("exclusiveMaximum") is not None:
            v = opts["exclusiveMaximum"]
            checks.append(_invalid(model, field, "field_maximum",
                                   f"Check that field {field} has a maximum of {v}",
                                   valid_max=v))
            checks.append(_invalid(model, field, "field_not_equal",
                                   f"Check that field {field} is not equal to {v}",
                                   invalid_values=[v]))
        if opts.get("pattern") is not None:
            v = opts["pattern"]
            checks.append(_invalid(model, field, "field_regex",
                                   f"Check that field {field} matches regex pattern {v}",
                                   valid_regex=v))
        if opts.get("enum"):
            vals = list(opts["enum"])
            checks.append(_invalid(model, field, "field_enum",
                                   f"Check that field {field} only contains enum values {vals}",
                                   valid_values=vals))

        if prop.quality:
            checks.extend(_quality_list(model, field, prop.quality, server))
        checks.extend(_malformed(model, field, _nested_malformed(prop)))

    if composite_pk:
        cols = [p.column for p in pk_props]
        checks.append(
            CheckSpec(
                key=f"{model}__primary_key_unique",
                category="schema",
                type="primary_key_unique",
                name=f"Check that primary key ({', '.join(cols)}) has no duplicate values",
                model=model,
                metric=MetricType.DUPLICATE_COUNT,
                threshold=Threshold(Op.EQ, 0),
                columns=cols,
                dimension=default_dimension("primary_key_unique"),
            )
        )

    if obj.quality:
        checks.extend(_quality_list(model, None, obj.quality, server))
    checks.extend(_malformed(model, None, obj.malformed))

    return checks


def _nested_malformed(prop: Property) -> List[str]:
    """The malformed-element labels of ``prop`` and every property nested in it."""
    labels = list(prop.malformed)
    for child in (prop.properties or []) + ([prop.items] if prop.items else []):
        labels += _nested_malformed(child)
    return labels


def _malformed(model: str, field: Optional[str], labels: List[str]) -> List[CheckSpec]:
    """One ``error`` check per contract list element that is not a mapping:
    the rule or property it stood for is reported unchecked, never dropped."""
    prefix = f"{model}__{field}" if field else model
    return [
        CheckSpec(
            key=f"{prefix}__malformed_element_{i}",
            category="quality" if " quality[" in label else "schema",
            type="malformed_element",
            name=f"Check that contract element {label} is a mapping",
            model=model,
            field=field,
            metric=MetricType.UNSUPPORTED,
            preset_result="error",
            preset_reason=f"Contract element {label} is not a mapping, so it "
                          "was not checked",
        )
        for i, label in enumerate(labels)
    ]


# ---------------------------------------------------------------------------
# service levels
# ---------------------------------------------------------------------------

_FRESHNESS_UNIT_SECONDS = {
    "s": 1, "sec": 1, "second": 1, "seconds": 1,
    "m": 60, "min": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
    "w": 604800, "week": 604800, "weeks": 604800,
    "y": 31536000, "year": 31536000, "years": 31536000,
}


# Retention units differ from freshness: 'm'/'mo' mean MONTHS (30 days), minutes
# must be spelled 'min'; calendar units y/w are calendar-approximate. Mirrors the
# reference's _retention_value_to_seconds (engines/checks/create_checks.py:857-880).
_RETENTION_UNIT_SECONDS = {
    "s": 1, "sec": 1, "second": 1, "seconds": 1,
    "min": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hr": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
    "w": 604800, "week": 604800, "weeks": 604800,
    "m": 30 * 86400, "mo": 30 * 86400, "month": 30 * 86400, "months": 30 * 86400,
    "y": 365 * 86400, "yr": 365 * 86400, "year": 365 * 86400, "years": 365 * 86400,
}


def _parse_iso8601_to_seconds(duration: str) -> Optional[int]:
    """P1Y/P2M/P30D/PT6H/PT15M/PT30S → seconds (reference
    engines/checks/create_checks.py:882-898; single component)."""
    if not duration:
        return None
    duration = duration.upper()
    for pat, mult in (
        (r"P(\d+)Y", 365 * 86400),
        (r"P(\d+)M", 30 * 86400),
        (r"P(\d+)W", 7 * 86400),
        (r"P(\d+)D", 86400),
        (r"PT(\d+)H", 3600),
        (r"PT(\d+)M", 60),
        (r"PT(\d+)S", 1),
    ):
        m = re.match(pat, duration)
        if m:
            return int(m.group(1)) * mult
    return None


def _retention_seconds(value, unit: Optional[str]) -> Optional[int]:
    if value is None:
        return None
    if isinstance(value, str) and value.strip().upper().startswith("P"):
        return _parse_iso8601_to_seconds(value.strip())
    u = (unit or "d").strip().lower()
    mult = _RETENTION_UNIT_SECONDS.get(u)
    if mult is None:
        logger.info("Unsupported retention unit %s", unit)
        return None
    try:
        return int(float(value) * mult)
    except (TypeError, ValueError):
        return None


def _sla_checks(contract: DataContract) -> List[CheckSpec]:
    checks: List[CheckSpec] = []
    for sla in contract.sla_properties:
        if sla.property not in ("freshness", "retention") or not sla.element:
            continue
        model, _, field = sla.element.partition(".")
        if not model or not field:
            continue
        unit = (sla.unit or "d").strip().lower()
        if sla.property == "retention":
            seconds = _retention_seconds(sla.value, sla.unit)
            if seconds is None:
                continue
        else:
            mult = _FRESHNESS_UNIT_SECONDS.get(unit)
            if mult is None:
                logger.info("Unsupported %s unit %s", sla.property, unit)
                continue
            try:
                seconds = int(float(sla.value) * mult)
            except (TypeError, ValueError):
                continue
        if sla.property == "freshness":
            checks.append(
                CheckSpec(
                    key="servicelevel_freshness",
                    category="servicelevel",
                    type="servicelevel_freshness",
                    name=f"Freshness of {model}.{field} < {sla.value}{unit[0]}",
                    model=model,
                    field=field,
                    metric=MetricType.FRESHNESS,
                    seconds=seconds,
                    dimension=default_dimension("servicelevel_freshness"),
                )
            )
        else:
            checks.append(
                CheckSpec(
                    key="servicelevel_retention",
                    category="servicelevel",
                    type="servicelevel_retention",
                    name=f"Retention of {model}.{field} < {seconds}s",
                    model=model,
                    field=field,
                    metric=MetricType.RETENTION,
                    seconds=seconds,
                    dimension=default_dimension("servicelevel_retention"),
                )
            )
    return checks


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def _dedupe_keys(checks: List[CheckSpec]) -> List[CheckSpec]:
    """Distinct checks must carry DISTINCT keys: the executor
    pre-registers one stub Check per spec and Run.set_result writes to
    the FIRST key match, so two specs sharing a key would both write
    onto one stub — a later PASS silently overwriting an earlier FAIL
    (exclusiveMinimum+exclusiveMaximum both emitting field_not_equal,
    two same-metric quality rules on one field, freshness SLAs on two
    elements, …). First occurrence keeps its historical key; repeats
    get a stable _2/_3 suffix."""
    seen: Dict[str, int] = {}
    for spec in checks:
        n = seen.get(spec.key, 0) + 1
        seen[spec.key] = n
        if n > 1:
            spec.key = f"{spec.key}_{n}"
    return checks


def compile_checks(contract: DataContract, server: Optional[Server] = None,
                   schema_name: str = "all") -> List[CheckSpec]:
    checks: List[CheckSpec] = []
    want = schema_name.lower()
    for obj in contract.schema_objects:
        # match like DataContract.schema_object does everywhere else:
        # name OR physicalName, case-insensitively — an exact-case
        # name-only filter silently compiled ZERO checks for callers
        # passing the physical/table name
        if schema_name != "all" and obj.name.lower() != want \
                and (obj.physical_name or "").lower() != want:
            continue
        if obj.logical_type == "blob":
            logger.warning("blob schema objects are not supported by the Spark engine; skipping %s", obj.name)
            continue
        checks.extend(_schema_object_checks(obj.table, obj, server))
    if schema_name == "all":
        checks.extend(_sla_checks(contract))
    return _dedupe_keys(checks)
