"""Per-column profiling: one multi-aggregate pass per table.

Not in the reference (SURVEY.md §2.3); mandated by the north star: null
fraction, distinct counts via HyperLogLog (approx_count_distinct), min/max,
and quantiles (percentile_approx — Spark's built-in KLL-style sketch) for
every column of interest, computed in a SINGLE ``df.agg`` so the table is
scanned once regardless of how many columns/stats are requested.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC


def profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    exact_distinct: bool = False,
) -> Dict[str, dict]:
    """Column → stats dict, from exactly one aggregation job.

    ``exact_distinct=True`` swaps HLL for exact countDistinct (used when a
    result must match a SQL oracle bit-for-bit; HLL is the 100 TB default).
    """
    dtypes = dict(df.dtypes)
    cols = list(columns) if columns else df.columns

    exact_counts: Dict[str, int] = {}
    distinct_pool = None
    distinct_futs = {}
    if exact_distinct:
        # N exact distinct counts as N CONCURRENT per-column jobs. Each job
        # scans exactly one column (parquet column pruning) and plans a
        # two-phase aggregate whose map side dedups before the shuffle, so
        # shuffle volume is the column's distinct count — not rows×N as the
        # previous melt-explode did, and not the EXPAND of a
        # multi-countDistinct agg (both measured 3-5× slower at sf0.1).
        # Jobs overlap with the main stats aggregate below via the shared
        # scheduler; at cluster scale they are independent stages over
        # disjoint column chunks.
        from concurrent.futures import ThreadPoolExecutor

        def _one_distinct(c: str) -> int:
            qc = F.col(f"`{c}`")
            return df.select(qc.alias("v")).agg(
                F.count_distinct(F.col("v")).alias("n")
            ).collect()[0]["n"]

        distinct_pool = ThreadPoolExecutor(max_workers=min(8, len(cols)) or 1)
        distinct_futs = {c: distinct_pool.submit(_one_distinct, c) for c in cols}

    exprs = [F.count(F.lit(1)).alias("__n__")]
    for c in cols:
        qc = F.col(f"`{c}`")
        exprs.append(F.sum(F.when(qc.isNull(), 1).otherwise(0)).alias(f"{c}::nulls"))
        if not exact_distinct:
            exprs.append(F.approx_count_distinct(qc).alias(f"{c}::distinct"))
        dtype = dtypes.get(c, "")
        if _is_numeric(dtype):
            exprs.append(F.min(qc).alias(f"{c}::min"))
            exprs.append(F.max(qc).alias(f"{c}::max"))
            exprs.append(F.avg(qc).alias(f"{c}::avg"))
            if quantiles:  # the KLL sketch is the expensive expr — only on request
                exprs.append(
                    F.percentile_approx(qc, list(quantiles), 10000).alias(f"{c}::quantiles")
                )
        elif dtype == "string":
            exprs.append(F.min(F.length(qc)).alias(f"{c}::min_len"))
            exprs.append(F.max(F.length(qc)).alias(f"{c}::max_len"))
            exprs.append(F.avg(F.length(qc)).alias(f"{c}::avg_len"))
        elif dtype in ("timestamp", "date"):
            exprs.append(F.min(qc).alias(f"{c}::min"))
            exprs.append(F.max(qc).alias(f"{c}::max"))

    try:
        row: Row = df.agg(*exprs).collect()[0]
        if exact_distinct:
            exact_counts = {c: fut.result() for c, fut in distinct_futs.items()}
    finally:
        if distinct_pool is not None:
            # on any failure above, don't leave worker threads running
            # abandoned per-column jobs (they'd keep consuming the cluster
            # and block interpreter exit)
            distinct_pool.shutdown(cancel_futures=True)
    d = row.asDict()
    n = d["__n__"]
    out: Dict[str, dict] = {}
    for c in cols:
        distinct = exact_counts.get(c) if exact_distinct else d[f"{c}::distinct"]
        stats = {"count": n, "null_count": d[f"{c}::nulls"],
                 "null_fraction": (d[f"{c}::nulls"] / n) if n else 0.0,
                 "distinct": distinct or 0}
        for suffix in ("min", "max", "avg", "min_len", "max_len", "avg_len"):
            k = f"{c}::{suffix}"
            if k in d:
                stats[suffix] = d[k]
        qk = f"{c}::quantiles"
        if qk in d and d[qk] is not None:
            stats["quantiles"] = dict(zip([str(q) for q in quantiles], d[qk]))
        out[c] = stats
    return out


def profile_df(df: DataFrame, columns: Optional[Sequence[str]] = None,
               exact_distinct: bool = False) -> DataFrame:
    """The profile as a small DataFrame
    (column, n_rows, null_count, n_distinct, min_value, max_value), built as
    a UNION of per-column single-row aggregates — fully distributed, zero
    driver round-trips (no collect / createDataFrame on the driver). Each
    branch scans exactly one pruned column; Catalyst runs the branches as
    independent stages of one job. String columns report min/max LENGTH
    (matching ``profile()``'s min_len/max_len); quantile sketches are
    skipped: this projection never surfaces them.

    ``exact_distinct=False`` (the 100 TB default) uses HLL
    approx_count_distinct; True plans the per-column exact distinct
    aggregate (two-phase, map-side dedup before the shuffle)."""
    dtypes = dict(df.dtypes)
    cols = list(columns) if columns else df.columns

    def _branch(c: str) -> DataFrame:
        qc = F.col(f"`{c}`")
        dtype = dtypes.get(c, "")
        if _is_numeric(dtype) or dtype in ("timestamp", "date"):
            v = qc
        elif dtype == "string":
            v = F.length(qc)
        else:
            v = F.lit(None)
        distinct = (F.count_distinct(qc) if exact_distinct
                    else F.approx_count_distinct(qc))
        return df.agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(qc.isNull(), 1).otherwise(0)).alias("null_count"),
            distinct.alias("n_distinct"),
            F.min(v).cast("string").alias("min_value"),
            F.max(v).cast("string").alias("max_value"),
        )

    out = _branch(cols[0])
    for c in cols[1:]:
        out = out.unionAll(_branch(c))
    return out


def histogram(df: DataFrame, column: str, n_buckets: int = 10,
              lo: Optional[float] = None, hi: Optional[float] = None) -> DataFrame:
    """Equi-width histogram of a numeric column: (bucket, lo, hi, n).

    Two passes when bounds are not given (one scalar min/max aggregate, one
    map-side-combinable grouped count) — at scale both are single-scan
    partial+final aggregates; rows below/above explicit bounds land in
    buckets 0 and n_buckets+1 (width_bucket semantics)."""
    col = F.col(column).cast("double")
    if lo is None or hi is None:
        row = df.agg(F.min(col), F.max(col)).collect()[0]
        lo = float(row[0]) if lo is None else lo
        hi = float(row[1]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    width = (hi - lo) / n_buckets
    bucket = F.width_bucket(col, F.lit(lo), F.lit(hi), F.lit(n_buckets))
    # width_bucket puts v == hi into bucket n_buckets+1; fold it back so the
    # max value belongs to the last bucket (histogram convention)
    bucket = F.when(col == hi, F.lit(n_buckets)).otherwise(bucket)
    return (
        df.filter(col.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.round(F.lit(lo) + (F.col("bucket") - 1) * F.lit(width), 6).alias("lo"),
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("hi"),
            "n",
        )
        .orderBy("bucket")
    )
