"""CheckSpec → Spark Column predicates.

Soda-compatible semantics (reference: datacontract/engines/ibis/
ibis_check_execute.py:467-611):

- missing  = col IS NULL OR col IN (non-null missing_values)
- valid    = AND of every declared validity constraint
- invalid  = NOT missing AND (NOT valid OR col IN invalid_values)

Everything is a JVM-side Column expression — these run inside whole-stage
codegen, no Python on the executor path.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec


def missing_condition(df: DataFrame, column: str, spec: CheckSpec) -> Column:
    col = F.col(_q(column))
    cond = col.isNull()
    vals = [v for v in (spec.missing_values or []) if v is not None]
    if vals:
        cond = cond | col.isin(*vals)
    return cond


def _length_operand(df: DataFrame, column: str,
                    dtype_map: Optional[dict] = None) -> Column:
    """LENGTH(col), casting to string only when the column isn't one already
    (reference skips the redundant cast: ibis_check_execute.py:485-497)."""
    col = F.col(_q(column))
    dtype = (dtype_map if dtype_map is not None
             else dict(df.dtypes)).get(column, "")
    if dtype != "string":
        col = col.cast("string")
    return F.length(col)


def valid_condition(df: DataFrame, column: str, spec: CheckSpec) -> Optional[Column]:
    col = F.col(_q(column))
    conds = []
    # one schema walk per call, not one py4j round-trip per branch —
    # this runs in the per-spec loop while building the batched aggregate
    dtype_map = dict(df.dtypes)
    if spec.valid_values is not None:
        conds.append(col.isin(*spec.valid_values))
    if spec.valid_regex is not None:
        # unanchored match, like re_search / RLIKE
        str_col = col if dtype_map.get(column) == "string" \
            else col.cast("string")
        conds.append(str_col.rlike(spec.valid_regex))
    if spec.valid_min is not None:
        conds.append(col >= F.lit(spec.valid_min))
    if spec.valid_max is not None:
        conds.append(col <= F.lit(spec.valid_max))
    if spec.valid_min_length is not None:
        conds.append(_length_operand(df, column, dtype_map)
                     >= F.lit(spec.valid_min_length))
    if spec.valid_max_length is not None:
        conds.append(_length_operand(df, column, dtype_map)
                     <= F.lit(spec.valid_max_length))
    if spec.tool_schemas is not None and spec.tool_col is not None:
        # per-tool JSON-Schema validity: invalid when the row's tool has a
        # schema and the compiled keyword predicates report errors; tools
        # without schemas validate vacuously. Pure Column math (the same
        # variant expressions validate_tool_args chains), so it folds into
        # the batched aggregate like any other validity constraint.
        from datacontract_cli_spark.operators.jsonschema import (
            compile_errors_column,
        )
        tool = F.col(_q(resolve_column(df, spec.tool_col) or spec.tool_col))
        bad = F.lit(False)
        for t, schema in spec.tool_schemas.items():
            errs = compile_errors_column(_q(column), schema)
            bad = bad | ((tool == F.lit(t)) & (F.size(errs) > 0))
        conds.append(~bad)
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def invalid_condition(df: DataFrame, column: str, spec: CheckSpec) -> Optional[Column]:
    col = F.col(_q(column))
    valid = valid_condition(df, column, spec)
    parts = []
    if valid is not None:
        # a NULL validity verdict (e.g. NULL >= 5) must not count as invalid
        parts.append(~F.coalesce(valid, F.lit(True)))
    if spec.invalid_values is not None:
        parts.append(col.isin(*spec.invalid_values))
    if not parts:
        return None
    bad = parts[0]
    for p in parts[1:]:
        bad = bad | p
    return ~missing_condition(df, column, spec) & bad


def count_if(cond: Column, alias: str) -> Column:
    """SUM(CASE WHEN cond THEN 1 ELSE 0 END) — NULL conditions count as 0."""
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(alias)


def _q(column: str) -> str:
    """Quote a column name for F.col so dots/spaces survive."""
    return f"`{column}`" if ("." in column or " " in column) else column


def resolve_column(df: DataFrame, name: str) -> Optional[str]:
    """Case-insensitive column resolution (reference ibis_check_execute.py:223)."""
    if name in df.columns:
        return name
    lowered = {c.lower(): c for c in df.columns}
    return lowered.get(name.lower())
