"""Sliced validation: every agg-able contract check evaluated PER SEGMENT
in one shuffle.

A whole-table pass/fail hides which slice of the data broke — at web
scale, a contract usually fails because one source, one day, or one
language went bad while the rest stayed green. ``sliced_validation``
groups by the slice columns the aggregate that the engine's compiler
(``executor.compile_aggregates``) builds for ``test()`` — missing/invalid
count-ifs, row counts, quantile sketches, KS count-ifs — then folds each
spec's threshold into a Column-level verdict: the per-slice analogue of
the north rule's per-partition pass/fail verdicts, with semantic segments
instead of physical buckets.

Scale shape: ONE groupBy(slice) over one scan, map-side combine, rows =
slices × 1; the verdict math is a per-row projection on the tiny grouped
frame; the long (slice, check, value, passed) form explodes a literal
array of structs — no second pass, no driver loop, works on a thousand
slices as on three. Threshold evaluation matches
``checks.spec.Threshold.passes`` for numeric thresholds (``passes(None)``
= False). Drift checks ride the same shuffle: quantileDriftKs compiles
like any other check, and freqDriftPsi baselines, which ``test()`` runs
as a job of their own, expand here to per-category count-ifs added to
the same batch (novel mass folded into one bucket — see
``_psi_value``), so per-slice drift verdicts cost zero extra passes.
Checks whose thresholds aren't expressible as Column math (timestamp
SLAs, custom SQL) are skipped — run the engine for those.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
from datacontract_cli_spark.engine.executor import (
    _ROW_COUNT_ALIAS,
    compile_aggregates,
)
from datacontract_cli_spark.engine.predicates import _q, count_if, resolve_column
from datacontract_cli_spark.model.contract import DataContract
from datacontract_cli_spark.operators.drift import _EPS

_SLICEABLE = (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
              MetricType.INVALID_COUNT, MetricType.QUANTILE,
              MetricType.FREQ_DRIFT_PSI, MetricType.QUANTILE_DRIFT_KS)


def _psi_value(prefix: str, baseline: dict, n: Column) -> Column:
    """Per-slice PSI as Column math over the count-if aggregate columns
    ``{prefix}k{j}``. Baseline categories contribute exactly the scalar
    ``drift.psi`` terms; OBSERVED-but-not-in-baseline mass is folded into
    ONE novel bucket (the scalar lane scores each novel category
    separately — per slice that would need per-category aggregates of
    unknown cardinality, so the sliced lane uses the same fold
    ``frequency_fractions`` applies past its category cap). For
    enum-constrained drift columns the novel mass is ~0 and the two lanes
    agree to float precision."""
    eps = F.lit(_EPS)
    total_known = None
    out = None
    for j, (k, b) in enumerate(baseline.items()):
        cnt = F.col(f"{prefix}k{j}")
        a = F.greatest(F.try_divide(cnt, n), eps)
        bf = F.greatest(F.lit(float(b)), eps)
        term = (a - bf) * F.log(a / bf)
        out = term if out is None else out + term
        total_known = cnt if total_known is None else total_known + cnt
    novel = F.greatest(F.try_divide(n - total_known, n), eps)
    out = out + (novel - eps) * F.log(novel / eps)
    return out


def _threshold_condition(t: Threshold, value: Column) -> Optional[Column]:
    """``Threshold.passes`` as a Column over a DOUBLE value column; None
    when the threshold isn't numeric-expressible. NULL values (e.g. a
    quantile of an all-null slice) evaluate to passed=false, matching
    passes(None) = False."""
    def _num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    v = _num(t.value)
    v2 = _num(t.value2)
    if v is None:
        return None
    if t.op is Op.EQ:
        cond = value == F.lit(v)
    elif t.op is Op.NE:
        cond = value != F.lit(v)
    elif t.op is Op.GT:
        cond = value > F.lit(v)
    elif t.op is Op.GE:
        cond = value >= F.lit(v)
    elif t.op is Op.LT:
        cond = value < F.lit(v)
    elif t.op is Op.LE:
        cond = value <= F.lit(v)
    elif t.op is Op.BETWEEN:
        if v2 is None:
            return None
        cond = (value >= F.lit(v)) & (value <= F.lit(v2))
    elif t.op is Op.NOT_BETWEEN:
        if v2 is None:
            return None
        cond = (value < F.lit(v)) | (value > F.lit(v2))
    else:
        return None
    return F.coalesce(cond, F.lit(False))


def sliced_validation(df: DataFrame, contract: DataContract, model: str,
                      slice_cols: Sequence[str],
                      min_slice_rows: int = 0) -> DataFrame:
    """(slice…, check_key, metric_value, passed) — one row per
    (slice, agg-able check). ``min_slice_rows`` drops slices too small to
    judge (their verdicts would be noise at web scale)."""
    specs: List[CheckSpec] = [
        s for s in compile_checks(contract, None)
        if s.model == model and s.metric in _SLICEABLE
        and s.threshold is not None
    ]
    psi_specs = [s for s in specs if s.metric is MetricType.FREQ_DRIFT_PSI]
    batch, unevaluated = compile_aggregates(
        df, [s for s in specs if s.metric is not MetricType.FREQ_DRIFT_PSI])
    # a column lost to schema drift or a malformed baseline: the check
    # FAILS in every slice (null metric), never silently dropped — the
    # batch engine fails or errors the same check
    failing = [spec for spec, _, _ in unevaluated]
    for i, spec in enumerate(psi_specs):
        column = resolve_column(df, spec.field)
        if column is None:
            failing.append(spec)
            continue
        baseline = spec.baseline or {}
        if not baseline:
            continue
        alias = f"__dc_psi{i}__"
        # native-typed comparison (no string rendering — the bool 'True'
        # vs 'true' hazard); None is its own category
        qcol = F.col(_q(column))
        batch.add(spec, alias, [
            count_if(qcol.isNull() if k is None else qcol.eqNullSafe(F.lit(k)),
                     f"{alias}k{j}")
            for j, k in enumerate(baseline)],
            F.round(_psi_value(alias, baseline, F.col(_ROW_COUNT_ALIAS)), 6))

    grouped = batch.frame(df, slice_cols)
    if min_slice_rows > 0:
        grouped = grouped.filter(F.col(_ROW_COUNT_ALIAS) >= min_slice_rows)

    rows = [F.struct(F.lit(spec.key).alias("check_key"),
                     F.lit(None).cast("double").alias("metric_value"),
                     F.lit(False).alias("passed"))
            for spec in failing]
    for spec, alias in batch.evaluators:
        value = F.col(alias).cast("double")
        compare = value
        if (spec.threshold_is_percent
                and spec.metric in (MetricType.MISSING_COUNT,
                                    MetricType.INVALID_COUNT)):
            # percent thresholds gate the slice's RATE (value/rows*100),
            # exactly like the batch lane's _evaluate; the raw count
            # stays in metric_value
            compare = F.when(
                F.col(_ROW_COUNT_ALIAS) > 0,
                F.round(value / F.col(_ROW_COUNT_ALIAS) * 100, 6)
            ).otherwise(0.0)
        cond = _threshold_condition(spec.threshold, compare)
        if cond is None:
            continue
        rows.append(F.struct(
            F.lit(spec.key).alias("check_key"),
            value.alias("metric_value"),
            cond.alias("passed"),
        ))
    if not rows:
        return (grouped.select(*slice_cols)
                .withColumn("check_key", F.lit(None).cast("string"))
                .withColumn("metric_value", F.lit(None).cast("double"))
                .withColumn("passed", F.lit(None).cast("boolean"))
                .limit(0))
    return (grouped.select(*slice_cols,
                           F.explode(F.array(*rows)).alias("__v__"))
            .select(*slice_cols, "__v__.check_key", "__v__.metric_value",
                    "__v__.passed"))
