"""Engine-neutral check IR.

The compiler (checks/compile.py) turns a contract into a flat list of
CheckSpec objects; the Spark executor (engine/executor.py) turns each spec
into native DataFrame expressions. The vocabulary (metric kinds, threshold
operators, stable check ``type`` strings) is kept identical to the reference
IR (datacontract/engines/checks/check_spec.py) because those strings are the
compatibility surface users' tooling depends on — the implementation here is
our own.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional


class MetricType(str, enum.Enum):
    ROW_COUNT = "row_count"
    MISSING_COUNT = "missing_count"
    DUPLICATE_COUNT = "duplicate_count"
    INVALID_COUNT = "invalid_count"
    FIELD_PRESENT = "field_present"
    FIELD_TYPE = "field_type"
    FIELD_PHYSICAL_TYPE = "field_physical_type"
    FIELD_NESTED_TYPE = "field_nested_type"
    FRESHNESS = "freshness"
    RETENTION = "retention"
    CUSTOM_SQL = "custom_sql"
    # --- beyond-reference metrics (north rule) ---
    REFERENTIAL_INTEGRITY = "referential_integrity"
    FREQ_DRIFT_PSI = "freq_drift_psi"
    QUANTILE_DRIFT_KS = "quantile_drift_ks"
    QUANTILE = "quantile"
    MAX_RUN_LENGTH = "max_run_length"
    COLUMN_PROFILE = "column_profile"
    UNSUPPORTED = "unsupported"


class Op(str, enum.Enum):
    EQ = "="
    NE = "!="
    GT = ">"
    GE = ">="
    LT = "<"
    LE = "<="
    BETWEEN = "between"
    NOT_BETWEEN = "not_between"


@dataclass
class Threshold:
    """Structured comparison applied to the computed metric value.

    ``passes(None)`` is False — a metric that could not be computed never
    satisfies a threshold (matches reference check_spec.py:60-63).
    """

    op: Op
    value: Any = None
    value2: Any = None

    def passes(self, actual: Any) -> bool:
        if actual is None:
            return False
        try:
            return self._compare(actual, self.value, self.value2)
        except TypeError:
            # mixed numeric/string comparison — most commonly a YAML
            # threshold like `mustBeLessThan: 1e12`, which PyYAML parses
            # as a STRING (no dot ⇒ not a float to YAML 1.1). If both
            # sides are numeric after coercion, compare numerically
            # instead of silently failing the check.
            try:
                return self._compare(
                    float(actual), float(self.value),
                    float(self.value2) if self.value2 is not None else None)
            except (TypeError, ValueError):
                return False

    @staticmethod
    def _numeric_string_mix(a: Any, b: Any) -> bool:
        return (isinstance(a, (int, float)) and isinstance(b, str)) or \
            (isinstance(a, str) and isinstance(b, (int, float)))

    def _compare(self, actual: Any, value: Any, value2: Any) -> bool:
        if self.op in (Op.EQ, Op.NE):
            eq = actual == value
            # `1e12 == "1e12"` is False WITHOUT raising TypeError, so the
            # ordering ops' coercion fallback never fires for EQ/NE —
            # retry numerically when exactly one side is a string
            if not eq and self._numeric_string_mix(actual, value):
                try:
                    eq = float(actual) == float(value)
                except ValueError:
                    pass
            return eq if self.op is Op.EQ else not eq
        if self.op is Op.GT:
            return actual > value
        if self.op is Op.GE:
            return actual >= value
        if self.op is Op.LT:
            return actual < value
        if self.op is Op.LE:
            return actual <= value
        if self.op is Op.BETWEEN:
            return value <= actual <= value2
        if self.op is Op.NOT_BETWEEN:
            return not (value <= actual <= value2)
        return False

    def describe(self) -> str:
        if self.op is Op.BETWEEN:
            return f"between {self.value} and {self.value2}"
        if self.op is Op.NOT_BETWEEN:
            return f"not between {self.value} and {self.value2}"
        return f"{self.op.value} {self.value}"


@dataclass
class CheckSpec:
    key: str
    category: str  # schema | quality | servicelevel | custom
    type: str  # stable type string, e.g. "field_required"
    name: str
    model: Optional[str]  # None: a contract-level check (no table)
    metric: MetricType
    field: Optional[str] = None
    threshold: Optional[Threshold] = None
    threshold_is_percent: bool = False
    severity: Optional[str] = None
    dimension: Optional[str] = None
    quality_id: Optional[str] = None
    tags: Optional[List[str]] = None

    # metric arguments ------------------------------------------------------
    missing_values: Optional[List[Any]] = None
    valid_values: Optional[List[Any]] = None
    invalid_values: Optional[List[Any]] = None
    valid_regex: Optional[str] = None
    valid_min: Any = None
    valid_max: Any = None
    valid_min_length: Optional[int] = None
    valid_max_length: Optional[int] = None

    expected_category: Optional[str] = None
    expected_type_label: Optional[str] = None
    expected_property: Any = None  # model.contract.Property for structural compare
    expected_physical_type: Optional[str] = None

    columns: Optional[List[str]] = None  # composite duplicate keys

    query: Optional[str] = None
    dialect: Optional[str] = None

    seconds: Optional[int] = None  # freshness / retention window

    uses_raw_view: bool = False

    # beyond-reference arguments --------------------------------------------
    ref_model: Optional[str] = None  # referential integrity: parent model
    ref_field: Optional[str] = None  # referential integrity: parent key column
    baseline: Optional[Dict[str, Any]] = None  # drift: expected distribution
    quantile: Optional[float] = None  # quantile metric: the q in [0, 1]
    quantile_exact: bool = False  # exact percentile vs approx sketch
    tool_col: Optional[str] = None  # toolArgsValid: column naming the tool
    tool_schemas: Optional[Dict[str, Any]] = None  # tool -> JSON Schema

    preset_result: Optional[str] = None
    preset_reason: Optional[str] = None

    extra: Dict[str, Any] = dc_field(default_factory=dict)


def threshold_percent(spec: "CheckSpec", value, row_count):
    """``value`` as a percent of ``row_count`` (6dp) when ``spec``'s
    threshold is a percent of a missing/invalid count, else None."""
    is_percent = spec.threshold_is_percent and spec.metric in (
        MetricType.MISSING_COUNT, MetricType.INVALID_COUNT)
    if not is_percent or value is None:
        return None
    return round(value / row_count * 100, 6) if row_count else 0.0


def passes_with_percent(spec: "CheckSpec", value, row_count):
    """(ok, compare_value): threshold evaluation honoring percent
    thresholds — the single shared rule for every lane (batch,
    incremental, tail, partitioned). A percent threshold on a
    missing/invalid count compares :func:`threshold_percent`."""
    percent = threshold_percent(spec, value, row_count)
    compare = value if percent is None else percent
    return spec.threshold.passes(compare), compare
