"""Per-partition verdicts with lineage + checkpoint/resume (north rule).

The table is split into ``n_buckets`` deterministic work units by hashing a
partition key (conv_id by default — a unit is a stable set of conversations
regardless of file layout). ALL buckets are validated in ONE grouped
aggregation job (``groupBy(bucket).agg(*metric exprs)``) — not a job per
bucket — so the table is still scanned once; the shuffle carries one partial
row per (input partition × bucket).

Every bucket gets a pass/fail verdict per check plus lineage (input path,
row count, timestamp). Verdicts append to a JSON-lines manifest; a re-run
loads the manifest and re-validates ONLY the buckets that are missing
(crash-resume) — the scan is filtered to those buckets before any work
happens. Global metrics fold over bucket metrics (counts sum; a duplicate
count on keys containing the partition key is bucket-local, so the sum is
exact).

Skew: a hot conv_id concentrates in one bucket, but bucket metrics are
plain aggregations (no per-key state), so the only skew surface is the
shuffle partition holding the hot bucket — AQE's skew handling plus the
fact that partial aggregation happens map-side keeps that bounded. Per-
conversation analyses use the salted two-phase pattern in
operators/convchecks.py instead.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.executor import (
    _ROW_COUNT_ALIAS,
    _threshold_result,
    compile_aggregates,
)
from datacontract_cli_spark.engine.predicates import _q as _qc, resolve_column

_BUCKET = "__dc_bucket__"

# metrics whose per-bucket values sum to the table's; duplicate counts are
# bucket-local jobs of their own
_BUCKET_METRICS = (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
                   MetricType.INVALID_COUNT)


@dataclass
class BucketVerdict:
    bucket: int
    row_count: int
    results: Dict[str, str]  # check key -> passed|failed
    metrics: Dict[str, Any]
    lineage: Dict[str, Any]

    def to_json(self) -> str:
        return json.dumps({
            "bucket": self.bucket,
            "row_count": self.row_count,
            "results": self.results,
            "metrics": self.metrics,
            "lineage": self.lineage,
        }, default=str)


class PartitionedValidator:
    """Executes agg-style CheckSpecs per hash bucket of a partition key."""

    def __init__(self, spark, checkpoint_dir: Optional[str] = None,
                 partition_key: str = "conv_id", n_buckets: int = 64):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.partition_key = partition_key
        self.n_buckets = n_buckets

    # -- manifest ------------------------------------------------------------
    def _manifest_path(self, model: str) -> Optional[str]:
        if not self.checkpoint_dir:
            return None
        return os.path.join(self.checkpoint_dir, f"{model}.manifest.jsonl")

    def completed_buckets(self, model: str) -> Dict[int, BucketVerdict]:
        path = self._manifest_path(model)
        out: Dict[int, BucketVerdict] = {}
        if path and os.path.exists(path):
            with open(path, "r", encoding="utf-8") as f:
                for line in f:
                    if not line.strip():
                        continue
                    d = json.loads(line)
                    out[d["bucket"]] = BucketVerdict(
                        d["bucket"], d["row_count"], d["results"], d["metrics"],
                        d.get("lineage", {}),
                    )
        return out

    def _append_manifest(self, model: str, verdicts: List[BucketVerdict]) -> None:
        path = self._manifest_path(model)
        if not path:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a", encoding="utf-8") as f:
            for v in verdicts:
                f.write(v.to_json() + "\n")

    # -- execution -----------------------------------------------------------
    def run(self, df: DataFrame, specs: List[CheckSpec], model: str,
            source_path: Optional[str] = None) -> Dict[int, BucketVerdict]:
        """Validate every (remaining) bucket; returns ALL bucket verdicts
        (cached + newly computed). A spec whose column is absent gets no
        bucket metric, so a fold reports it unevaluated."""
        done = self.completed_buckets(model)
        # a checkpoint built under a DIFFERENT bucketing cannot be merged:
        # changing n_buckets re-hashes rows into other buckets (double
        # counting on grow, stale verdicts on shrink) and a different
        # partition key changes what a bucket even means
        for v in done.values():
            lin = v.lineage or {}
            if (lin.get("n_buckets") not in (None, self.n_buckets)
                    or lin.get("partition_key")
                    not in (None, self.partition_key)):
                raise ValueError(
                    f"checkpoint at {self.checkpoint_dir!r} was built with "
                    f"partition_key={lin.get('partition_key')!r} / "
                    f"n_buckets={lin.get('n_buckets')}, current run uses "
                    f"{self.partition_key!r}/{self.n_buckets} — use a new "
                    "checkpoint dir (mixing bucketings double-counts)")
        key_col = resolve_column(df, self.partition_key)
        if key_col is None:
            raise ValueError(f"partition key '{self.partition_key}' not in {df.columns}")

        bucket_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.n_buckets)).cast("int")
        work = df.withColumn(_BUCKET, bucket_expr)
        if done:
            remaining = [b for b in range(self.n_buckets) if b not in done]
            if not remaining:
                return done
            # resume: prune completed buckets before any metric work
            work = work.filter(F.col(_BUCKET).isin(remaining))

        batch, _ = compile_aggregates(
            df, [s for s in specs if s.metric in _BUCKET_METRICS])
        gdf = batch.frame(work, [_BUCKET])
        rows = gdf.collect()

        # buckets with NO rows produce no group — they are still VALIDATED
        # (zero rows, all counts 0): record them so resume never rescans an
        # empty bucket and n_buckets_validated always reaches n_buckets
        seen_buckets = {r[_BUCKET] for r in rows}
        todo = (set(range(self.n_buckets)) - set(done)) - seen_buckets
        if todo:
            from pyspark.sql import Row as _Row
            field_names = [f.name for f in gdf.schema.fields]
            rows = list(rows) + [
                _Row(**{n: (b if n == _BUCKET
                            else 0 if n == _ROW_COUNT_ALIAS else None)
                        for n in field_names})
                for b in sorted(todo)
            ]

        # bucket-local duplicate counts (one job per distinct key tuple).
        # Only computable when the duplicate key CONTAINS the partition
        # key (per-bucket group counts sum exactly then); everything else
        # is an honest error, never a silent zero-pass
        dup_specs = [s for s in specs if s.metric is MetricType.DUPLICATE_COUNT]
        dup_values: Dict[str, Dict[int, int]] = {}
        dup_errors: Dict[str, str] = {}
        for spec in dup_specs:
            cols = spec.columns or ([spec.field] if spec.field else [])
            if not cols:
                dup_errors[spec.key] = "duplicate check has no columns"
                continue
            if self.partition_key not in cols:
                dup_errors[spec.key] = (
                    f"uniqueness on {cols} cannot be folded per-bucket "
                    f"when the partition key {self.partition_key!r} is "
                    "not part of the duplicate key — two equal keys in "
                    "different buckets would each count zero; run it "
                    "through the batch engine")
                continue
            resolved = [resolve_column(df, c) for c in cols]
            if any(c is None for c in resolved):
                missing = [c for c, r in zip(cols, resolved) if r is None]
                dup_errors[spec.key] = (
                    f"column(s) {missing} not found in model {model}")
                continue
            grouped = (
                work.groupBy(_BUCKET, *[F.col(_qc(c)) for c in resolved])
                .count().filter(F.col("count") > 1)
                .groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("dups"))
            )
            dup_values[spec.key] = {r[_BUCKET]: r["dups"] for r in grouped.collect()}

        now = datetime.now(timezone.utc).isoformat()
        new_verdicts: List[BucketVerdict] = []
        for row in rows:
            d = row.asDict()
            bucket = d[_BUCKET]
            row_count = int(d[_ROW_COUNT_ALIAS])
            results: Dict[str, str] = {}
            metrics: Dict[str, Any] = {"row_count": row_count}
            for spec, alias in batch.evaluators:
                value = d[alias]
                value = int(value) if value is not None else 0
                metrics[spec.key] = value
                if spec.threshold is not None:
                    # percent thresholds evaluate against the BUCKET's
                    # own rate, not the raw count
                    results[spec.key] = _threshold_result(
                        spec, value, row_count).value
            for spec in dup_specs:
                if spec.key in dup_errors:
                    results[spec.key] = "error"
                    continue
                value = dup_values.get(spec.key, {}).get(bucket, 0)
                metrics[spec.key] = value
                if spec.threshold is not None:
                    results[spec.key] = _threshold_result(
                        spec, value, row_count).value
            new_verdicts.append(BucketVerdict(
                bucket, row_count, results, metrics,
                {"source": source_path, "validated_at": now,
                 "partition_key": self.partition_key, "n_buckets": self.n_buckets},
            ))

        self._append_manifest(model, new_verdicts)
        done.update({v.bucket: v for v in new_verdicts})
        return done

    # -- folding ---------------------------------------------------------------
    @staticmethod
    def fold(verdicts: Dict[int, BucketVerdict],
             specs: Optional[List[CheckSpec]] = None) -> Dict[str, Any]:
        """Global metrics across buckets, plus global results.

        With ``specs``, global results are RE-EVALUATED: each threshold
        against its FOLDED metric (percent over the folded row_count).
        That is the correct global verdict — the worst-case-of-buckets
        fallback (no specs) compares bucket-LOCAL counts against GLOBAL
        thresholds, which false-passes absolute budgets split across
        buckets ('missing_count <= 10' with 1 per bucket × 64) and
        false-fails lower bounds ('row_count >= 1000' in 64 slices).
        Error verdicts always carry through either way."""
        totals: Dict[str, Any] = {}
        results: Dict[str, str] = {}
        severity = {"failed": 0, "error": 1, "warning": 2, "passed": 3}
        for v in verdicts.values():
            for k, val in v.metrics.items():
                totals[k] = totals.get(k, 0) + (val or 0)
            for k, res in v.results.items():
                cur = results.get(k)
                if cur is None or severity.get(res, 3) < severity.get(cur, 3):
                    results[k] = res
        if specs is not None:
            row_count = totals.get("row_count")
            for spec in specs:
                if results.get(spec.key) == "error":
                    continue  # never upgrade an error
                if spec.threshold is None or spec.key not in totals:
                    continue
                results[spec.key] = _threshold_result(
                    spec, totals[spec.key], row_count).value
        return {"metrics": totals, "results": results,
                "n_buckets_validated": len(verdicts)}
