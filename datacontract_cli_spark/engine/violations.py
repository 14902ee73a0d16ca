"""Violation-row sink: the full (un-truncated) set of rows violating a
model's checks, as a DataFrame — the scale-out complement of the ≤5-row
driver samples (SURVEY §2.1 "violation rows additionally written as a
DataFrame sink"). Typical use: quarantine bad rows to parquet next to the
run results.

One projection computes a boolean per check plus the violated-check list
per row; the filter keeps only violating rows. Single scan regardless of
check count, fully distributed, never collected.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.predicates import (
    invalid_condition,
    missing_condition,
    resolve_column,
)
from datacontract_cli_spark.model.contract import DataContract


def violation_conditions(df: DataFrame, specs: List[CheckSpec]) -> Dict[str, "F.Column"]:
    """check key → row-level violation predicate (row-level checks only:
    missing/invalid; aggregate-level checks have no per-row meaning)."""
    out = {}
    for spec in specs:
        col = resolve_column(df, spec.field) if spec.field else None
        if col is None:
            continue
        if spec.metric is MetricType.MISSING_COUNT:
            out[spec.key] = missing_condition(df, col, spec)
        elif spec.metric is MetricType.INVALID_COUNT:
            cond = invalid_condition(df, col, spec)
            if cond is not None:
                out[spec.key] = cond
    return out


def violations(df: DataFrame, contract: DataContract, model: str) -> DataFrame:
    """All rows of ``model`` violating at least one row-level check, with a
    ``__violations__`` array naming the violated check keys."""
    specs = [s for s in compile_checks(contract, None) if s.model == model]
    conds = violation_conditions(df, specs)
    if not conds:
        return df.limit(0).withColumn("__violations__",
                                      F.array().cast("array<string>"))
    flags = [F.when(c, F.lit(k)) for k, c in conds.items()]
    tagged = df.withColumn(
        "__violations__",
        F.array_compact(F.array(*flags)),
    )
    return tagged.filter(F.size("__violations__") > 0)


def conforming(df: DataFrame, contract: DataContract, model: str) -> DataFrame:
    """The complement of ``violations``: rows violating NO row-level check
    — contract-driven corpus cleaning (curate_corpus's `contract` stage
    filters with this). Same single narrow scan; aggregate-level checks
    (row counts, uniqueness, freshness) have no per-row meaning and are
    not applied here — run the engine for those."""
    specs = [s for s in compile_checks(contract, None) if s.model == model]
    conds = violation_conditions(df, specs)
    if not conds:
        return df
    bad = conds.popitem()[1]
    for c in conds.values():
        bad = bad | c
    return df.filter(~bad)


def quarantine(df: DataFrame, contract: DataContract, model: str,
               path: str, mode: str = "overwrite") -> int:
    """Write the violating rows to parquet; returns how many were written."""
    bad = violations(df, contract, model)
    bad.write.mode(mode).parquet(path)
    return bad.sparkSession.read.parquet(path).count()
