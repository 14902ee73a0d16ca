"""Drift baselines from a reference dataset.

The drift checks (operators/drift.py) compare live data against a stored
snapshot of the expected distribution. This module computes those snapshots
from a reference dataset (one job per kind); ``suggest`` writes them into
drafted contract quality rules as ``arguments.baseline``.

Baseline kinds:
- categorical frequency vector (for freqDriftPsi)
- numeric CDF points at fixed probes (for quantileDriftKs "cdf")

quantileDriftKs also reads a ``quantiles`` map {p: x} written by hand or by
older versions of this module; ``drift.ks_aggregates`` evaluates both kinds
exactly.
"""

from __future__ import annotations

from typing import Any, Dict, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import drift

DEFAULT_QUANTILES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)


def categorical_baseline(df: DataFrame, column: str) -> Dict[str, float]:
    return {str(k): v for k, v in drift.frequency_fractions(df, column).items()}


def cdf_baseline(df: DataFrame, column: str,
                 probs: Sequence[float] = DEFAULT_QUANTILES,
                 round_to: Optional[int] = None) -> Dict[str, Any]:
    """CDF probe points from the reference data's own quantiles (so the
    live-data KS evaluates exactly at meaningful locations).

    The recorded probability is the EMPIRICAL CDF at each probe point,
    not the nominal quantile prob: percentile_approx returns actual data
    elements, so on tie-heavy columns F̂(q(p)) can exceed p by the whole
    point mass (a 30%-zeros column has q(0.01)=0 but F̂(0)=0.30), and any
    caller-side rounding of the probe shifts it below the value whose
    rank defined p. Recording F̂ makes KS(reference, reference) exactly 0
    — drafted drift rules can never fail on the data they were drafted
    from. ``round_to`` rounds probes BEFORE the empirical pass (probes
    dedupe after rounding)."""
    xs = df.agg(F.percentile_approx(column, list(probs), 10_000)
                .alias("q")).first()["q"]
    if xs is None:
        return {"cdf": []}
    pts = sorted({round(float(x), round_to) if round_to is not None
                  else float(x) for x in xs})
    col = F.col(column)
    row = df.agg(
        F.count(col).alias("n"),
        *[F.sum((col <= F.lit(x)).cast("long")).alias(f"c{i}")
          for i, x in enumerate(pts)]).first()
    n = row["n"] or 1
    return {"cdf": [[x, float(row[f"c{i}"]) / n] for i, x in enumerate(pts)]}
