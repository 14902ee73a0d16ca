"""The Spark check executor.

Execution model (Spark-first, scale-aware):

- **One batched aggregation per model.** Every ROW_COUNT / MISSING_COUNT /
  INVALID_COUNT / FRESHNESS / RETENTION / QUANTILE / QUANTILE_DRIFT_KS
  metric of a model compiles (``compile_aggregates``, which the slice,
  bucket and file lanes share) into named aggregate expressions and they all
  run as a single ``df.agg(*exprs)`` job (the reference batches the count
  metrics the same way: datacontract/engines/ibis/ibis_check_execute.py:
  254-327; we additionally fold freshness/retention MAX/MIN, percentiles
  and the KS count-ifs of ``drift.ks_aggregates`` into the same pass).
  Catalyst executes it as one partial+final hash aggregate: the raw data is
  scanned once, only one scalar row crosses to the driver, and column
  pruning means the scan reads only referenced columns.

- **Schema checks never scan data** — they walk ``df.schema``.

- **Duplicate counts** come from one keys-only grouping per uniqueness
  check (``duplicate_groups``, which the bucket lane shares): only the key
  columns and a count cross the exchange, the duplicate-group fold and the
  failed-sample top-k both read it, and Spark runs it with map-side
  partial aggregation; AQE handles skewed keys.

- **Custom SQL** runs through ``spark.sql`` against temp views registered
  for every bound model.

- **Independent actions run concurrently.** Each ``test()`` call owns one
  thread pool; every Spark action that depends on no other (each model's
  flat aggregate, each uniqueness, referential-integrity, PSI, custom-SQL
  and maxRunLength check) is one submission. A model's violation samples
  follow its aggregate in the same task, never waiting for the uniqueness
  job. Pool threads inherit the caller's job group, description and tags
  (``inheritable_thread_target``), and an exception escaping a submission
  turns only that submission's checks into ``error``.

- **Folding lanes** (``test_partitioned``, ``test_incremental``,
  ``tail``) build their Run through one method, ``_lane_run``: one Check
  per compiled rule of the model, schema checks on the lane's schema,
  folded counts evaluated as ``test()`` evaluates them, and every rule
  that does not fold over buckets or files an error naming the lane.

Only aggregated scalars and ≤ sample_limit violation rows ever reach the
driver.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Set, Tuple

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.checks.physical import physical_types_match
from datacontract_cli_spark.checks.spec import (
    CheckSpec,
    MetricType,
    passes_with_percent,
    threshold_percent,
)
from datacontract_cli_spark.checks.types import (
    normalize_type_name,
    property_matches,
    spark_type_to_property,
)
from datacontract_cli_spark.engine.predicates import (
    _q,
    count_if,
    invalid_condition,
    missing_condition,
    resolve_column,
)
from datacontract_cli_spark.model.contract import DataContract, SchemaObject, Server
from datacontract_cli_spark.model.run import Check, ResultEnum, Run
from datacontract_cli_spark.operators import drift

logger = logging.getLogger(__name__)

_WARNING_SEVERITIES = {"info", "warning", "warn", "low", "minor", "trivial"}

_SENSITIVE_CLASSIFICATIONS = {"sensitive", "pii", "restricted", "confidential", "secret"}

_AGG_METRICS = (
    MetricType.ROW_COUNT,
    MetricType.MISSING_COUNT,
    MetricType.INVALID_COUNT,
    MetricType.FRESHNESS,
    MetricType.RETENTION,
    MetricType.QUANTILE,
    MetricType.QUANTILE_DRIFT_KS,
)

_SCHEMA_METRICS = (
    MetricType.FIELD_PRESENT,
    MetricType.FIELD_TYPE,
    MetricType.FIELD_PHYSICAL_TYPE,
    MetricType.FIELD_NESTED_TYPE,
)

# metrics whose values over disjoint row sets sum to the table's: the
# bucket and file lanes fold them
_COUNT_METRICS = (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
                  MetricType.INVALID_COUNT)

# folding lane -> (the units it folds over, the metrics it folds). A
# duplicate group lies in one bucket only when the bucket key is part of
# the duplicate key; across files it never folds.
_LANES = {
    "partitioned": ("buckets", _COUNT_METRICS + (MetricType.DUPLICATE_COUNT,)),
    "incremental": ("files", _COUNT_METRICS),
    "tail": ("files", _COUNT_METRICS),
}

_ROW_COUNT_ALIAS = "__dc_row_count__"

# Threads in one test() call's action pool. Median test() of the 1M-turn
# transcripts validation (aggregate, uniqueness, referential integrity and
# PSI actions) on 4 cores, 6 interleaved calls per width: 1 -> 4.05 s,
# 2 -> 3.07 s, 3 -> 2.81 s, 4 -> 2.72 s, 6 -> 2.71 s, 8 -> 2.79 s.
_ACTION_POOL_WIDTH = 4

# submit(specs, fn, *args): run fn(*args) in the test() call's action pool;
# ``specs`` are the checks it decides (they become errors if it raises)
_Submit = Callable[..., None]


@dataclass
class _AggBatch:
    """Checks compiled to one aggregate by :func:`compile_aggregates`.
    ``aggs`` run as one aggregation and ``values`` project each check's
    result column (alias) out of its row — a KS check reads several
    count-ifs. ``parts`` keeps each check's own (aggs, value), so a failed
    batch is retried check by check."""
    aggs: List[Column] = field(default_factory=lambda: [
        F.count(F.lit(1)).alias(_ROW_COUNT_ALIAS)])
    values: List[Column] = field(default_factory=lambda: [
        F.col(_ROW_COUNT_ALIAS)])
    parts: Dict[str, Tuple[List[Column], Column]] = field(default_factory=dict)
    evaluators: List[Tuple[CheckSpec, str]] = field(default_factory=list)
    sample_conds: Dict[str, Any] = field(default_factory=dict)

    def add(self, spec: CheckSpec, alias: str, aggs: List[Column],
            value: Optional[Column] = None) -> None:
        value = (F.col(alias) if value is None else value).alias(alias)
        self.aggs.extend(aggs)
        self.values.append(value)
        self.parts[alias] = (aggs, value)
        self.evaluators.append((spec, alias))

    def frame(self, df: DataFrame, keys: Sequence[Any] = ()) -> DataFrame:
        """One row of values, or with ``keys`` one row per key group (a
        slice, bucket or file), the keys first. Each group's row is what
        the flat aggregate computes over that group's rows alone (up to
        the sketch error of an approximate percentile): count-ifs and
        min/max are partial aggregates that merge across partitions."""
        return (df.groupBy(*keys).agg(*self.aggs)
                .select(*keys, *self.values))


# (spec, result test() reports, reason) of a spec the compiler could not
# turn into an aggregate
_Unevaluated = Tuple[CheckSpec, ResultEnum, str]


def compile_aggregates(df: DataFrame, specs: List[CheckSpec]
                       ) -> Tuple[_AggBatch, List[_Unevaluated]]:
    """The one CheckSpec → aggregate-column compiler: test()'s flat
    aggregate and the slice, bucket and file lanes (which pass their own
    metric subsets and group the batch by a key). A spec whose column is
    absent fails; a malformed KS baseline is an error. Predicates are
    looked up as this module's ``missing_condition``/``invalid_condition``,
    so a wrapper installed there (``perfbench/trace.py``) times every
    lane's predicate builds."""
    batch = _AggBatch()
    unevaluated: List[_Unevaluated] = []
    for i, spec in enumerate(specs):
        alias = f"__dc_m{i}__"
        if spec.metric is MetricType.ROW_COUNT:
            batch.evaluators.append((spec, _ROW_COUNT_ALIAS))
            continue
        column = resolve_column(df, spec.field) if spec.field else None
        if spec.field and column is None:
            unevaluated.append((spec, _fail_result(spec),
                                f"Column '{spec.field}' not found in model "
                                f"{spec.model}"))
            continue
        if spec.metric is MetricType.MISSING_COUNT:
            cond = missing_condition(df, column, spec)
            batch.add(spec, alias, [count_if(cond, alias)])
            batch.sample_conds[spec.key] = (column, cond)
        elif spec.metric is MetricType.INVALID_COUNT:
            cond = invalid_condition(df, column, spec)
            if cond is None:  # no constraints: 0 with no predicate to run
                batch.add(spec, alias, [F.lit(0).cast("bigint").alias(alias)])
            else:
                batch.add(spec, alias, [count_if(cond, alias)])
                batch.sample_conds[spec.key] = (column, cond)
        elif spec.metric is MetricType.FRESHNESS:
            batch.add(spec, alias, [F.max(F.col(_q(column))).alias(alias)])
        elif spec.metric is MetricType.RETENTION:
            batch.add(spec, alias, [F.min(F.col(_q(column))).alias(alias)])
        elif spec.metric is MetricType.QUANTILE:
            q = float(spec.quantile if spec.quantile is not None else 0.5)
            # approx (fixed-memory sketch) is the 100 TB default;
            # arguments.exact=true opts into the exact interpolated
            # percentile (buffers the column per group)
            expr = (F.percentile(F.col(_q(column)), F.lit(q))
                    if spec.quantile_exact
                    else F.percentile_approx(F.col(_q(column)), q, 10000))
            batch.add(spec, alias, [expr.alias(alias)])
        elif spec.metric is MetricType.QUANTILE_DRIFT_KS:
            try:
                aggs, ks = drift.ks_aggregates(F.col(_q(column)),
                                               spec.baseline, alias)
            except ValueError as e:
                unevaluated.append((spec, ResultEnum.error,
                                    f"Invalid quantileDriftKs baseline: {e}"))
                continue
            batch.add(spec, alias, aggs, F.round(ks, 6))
    return batch, unevaluated


_DUP_ALIAS = "__dc_dup__"
_SAMPLE_ALIAS = "__dc_sample__"


def duplicate_groups(df: DataFrame, columns: Sequence[str],
                     keys: Sequence[Any] = ()) -> Tuple[DataFrame, DataFrame]:
    """The one uniqueness compiler: test() and the bucket lane. Returns
    ``(groups, fold)``: ``groups`` has one row per distinct tuple of the
    resolved ``columns`` with its row count (``_ROW_COUNT_ALIAS``);
    ``fold`` counts the groups seen more than once (``_DUP_ALIAS``) in one
    row, or with ``keys`` one row per key group, the keys first, as
    :meth:`_AggBatch.frame` groups. Only the key columns and the count
    cross the exchange: metric columns riding it would be shuffled once
    per key group, so the flat aggregate stays a job of its own."""
    groups = (df.groupBy(*keys, *[F.col(_q(c)) for c in columns])
              .agg(F.count(F.lit(1)).alias(_ROW_COUNT_ALIAS)))
    fold = groups.groupBy(*keys).agg(F.coalesce(
        F.sum(F.when(F.col(_ROW_COUNT_ALIAS) > 1, 1).otherwise(0)),
        F.lit(0)).alias(_DUP_ALIAS))
    return groups, fold


def _sort_key(df: DataFrame, column: str) -> Column:
    """``column`` as a sample sort key: Spark cannot order a MAP, so a
    column whose type holds one sorts by its JSON text."""
    col = F.col(_q(column))
    if "map<" in df.schema[column].dataType.simpleString():
        return F.to_json(col)
    return col


def _fail_result(spec: CheckSpec) -> ResultEnum:
    severity = (spec.severity or "").strip().lower()
    return ResultEnum.warning if severity in _WARNING_SEVERITIES else ResultEnum.failed


def _threshold_result(spec: CheckSpec, value: Any,
                      row_count: Optional[int]) -> ResultEnum:
    ok, _ = passes_with_percent(spec, value, row_count)
    return ResultEnum.passed if ok else _fail_result(spec)


def _check_for(spec: CheckSpec) -> Check:
    """The Check that reports ``spec``, before it has a result: test() and
    the folding lanes register one per spec up front."""
    return Check(key=spec.key, category=spec.category, type=spec.type,
                 name=spec.name, model=spec.model, field=spec.field,
                 language="introspection" if spec.metric in _SCHEMA_METRICS
                 else "spark-sql",
                 qualityId=spec.quality_id, tags=spec.tags,
                 dimension=spec.dimension)


def _model_specs(contract: DataContract, model: str) -> List[CheckSpec]:
    return [s for s in compile_checks(contract, None) if s.model == model]


def _derive_columns(df: DataFrame, obj: Optional[SchemaObject],
                    specs: List[CheckSpec]
                    ) -> Tuple[DataFrame, Set[str], Dict[str, str]]:
    """``df`` with the model's contract-declared derived columns
    (engine extension: ``Property.expression``) materialized, so checks
    can target computed metrics. Returns the frame, the derived column
    names, and an error reason for each spec on a column whose
    expression does not analyze: the caller drops those specs, since a
    scan would bury the cause under a generic 'Column not found'."""
    derived: Set[str] = set()
    errors: Dict[str, str] = {}
    for prop in (obj.properties if obj is not None else []):
        if prop.expression and prop.column not in df.columns:
            try:
                df = df.withColumn(prop.column, F.expr(prop.expression))
                derived.add(prop.column)
            except Exception as e:
                errors.update(
                    (spec.key, f"Invalid expression for derived column "
                               f"'{prop.column}': {e}")
                    for spec in specs if spec.field == prop.column)
    return df, derived, errors


def _schema_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame with ``schema``: a local relation the JVM builds
    from an empty row list, where ``createDataFrame([], schema)`` would
    parallelize a Python RDD for no rows."""
    jdf = spark._jsparkSession.createDataFrame(
        spark._jvm.java.util.ArrayList(),
        spark._jsparkSession.parseDataType(schema.json()))
    return DataFrame(jdf, spark)


def _lane_value(values: Dict[str, Any], spec: CheckSpec) -> Any:
    """A spec's folded value; the row count lives under ``row_count``."""
    return values.get("row_count" if spec.metric is MetricType.ROW_COUNT
                      else spec.key)


def _evaluated(values: Dict[str, Any], unevaluated: List[str]) -> Dict[str, Any]:
    """``values`` without the keys some live file could not evaluate: a
    partial sum is an error, never a verdict."""
    skip = set(unevaluated)
    return {k: v for k, v in values.items() if k not in skip}


def _fail_closed(run: Run, specs: List[CheckSpec], fn: Callable, *args) -> None:
    """Run one pool submission; an exception escaping it becomes an
    ``error`` result on the checks it decides, never a lost thread."""
    try:
        fn(*args)
    except Exception as e:  # noqa: BLE001
        logger.warning("check action %s failed: %s", fn.__name__, e, exc_info=True)
        for spec in specs:
            run.set_result(spec.key, ResultEnum.error, f"Check execution failed: {e}")


class SparkContractEngine:
    def __init__(
        self,
        spark: SparkSession,
        include_failed_samples: bool = False,
        sample_limit: int = 5,
    ):
        self.spark = spark
        self.include_failed_samples = include_failed_samples
        self.sample_limit = sample_limit

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------
    def test(
        self,
        contract: DataContract,
        tables: Optional[Dict[str, DataFrame]] = None,
        raw_tables: Optional[Dict[str, DataFrame]] = None,
        server: Optional[str] = None,
        schema_name: str = "all",
        filters: Optional[List[str]] = None,
        checks_category: Optional[str] = None,
        dimension: Optional[str] = None,
        quality_id: Optional[str] = None,
        tag: Optional[str] = None,
    ) -> Run:
        """Compile ``contract`` to checks and run them against ``tables``
        (or the frames its server binds), returning one Run.

        The independent actions of a call (the flat aggregate, uniqueness,
        referential integrity, PSI, custom SQL, maxRunLength) run
        concurrently, and each scans its model's frame itself. A batch
        source must therefore stay stable for the length of the call: a
        table appended to or rewritten meanwhile, or a frame with a
        non-deterministic input, can give each check a different snapshot.
        Persist such a frame before the call if its checks must agree."""
        run = Run(dataContractId=contract.id, dataContractVersion=contract.version,
                  server=server, filters=list(filters) if filters else None)

        srv = contract.server(server)
        specs = compile_checks(contract, srv, schema_name=schema_name)
        specs = self._filter_specs(run, specs, checks_category, dimension, quality_id, tag)

        # pre-register every check as a stub so ordering/filtering is stable
        # even if execution dies mid-way (reference ibis_check_execute.py:57-92)
        run.checks.extend(_check_for(spec) for spec in specs)

        if tables is None:
            from datacontract_cli_spark.sources.readers import bind_server_with_raw
            try:
                tables, raw_tables = bind_server_with_raw(self.spark, contract, srv)
            except Exception as e:  # binding failure: all checks error
                for spec in specs:
                    run.set_result(spec.key, ResultEnum.error, f"Could not bind server: {e}")
                return run.finish()

        # expose the bound frames so callers (e.g. `test --by`) can reuse
        # them instead of paying table binding / metadata planning twice
        self.last_tables: Dict[str, DataFrame] = dict(tables)

        lowered_tables = {k.lower(): v for k, v in tables.items()}
        lowered_raw = {k.lower(): v for k, v in (raw_tables or tables).items()}
        objects = {o.table.lower(): o for o in contract.schema_objects}

        # register temp views once for custom SQL / referential integrity;
        # a model name Spark rejects as a view identifier must not kill
        # the whole run — only the checks that NEED the view (custom
        # SQL/RI) will error, every other check still executes
        for name, df in tables.items():
            try:
                df.createOrReplaceTempView(name)
            except Exception as e:
                logger.warning("cannot register temp view %r: %s", name, e)

        by_model: Dict[str, List[CheckSpec]] = {}
        for spec in specs:
            if spec.model is None:  # contract-level verdicts read no table
                run.set_result(spec.key, ResultEnum(spec.preset_result),
                               spec.preset_reason)
            else:
                by_model.setdefault(spec.model, []).append(spec)

        futures = []
        with ThreadPoolExecutor(max_workers=_ACTION_POOL_WIDTH,
                                thread_name_prefix="dcspark-check") as pool:
            def submit(action_specs: List[CheckSpec], fn: Callable, *args) -> None:
                # wrapped per submission: each task gets its own copy of the
                # caller's local properties (Spark SQL writes its execution
                # id into them while a query runs)
                futures.append(pool.submit(
                    _fail_closed, run, action_specs,
                    inheritable_thread_target(self.spark)(fn), *args))

            for model, model_specs in by_model.items():
                df = lowered_tables.get(model.lower())
                if df is None:
                    for spec in model_specs:
                        run.set_result(spec.key, ResultEnum.error,
                                       f"Model '{model}' not found in server")
                    continue
                self._run_model(run, submit, model, model_specs, df, lowered_tables,
                                objects.get(model.lower()), filters,
                                raw_df=lowered_raw.get(model.lower(), df))
        for future in futures:
            future.result()  # _fail_closed keeps Exceptions; re-raise the rest

        # json-format servers additionally get full JSON-Schema row
        # validation, mirroring the reference's fastjsonschema pass
        # (engines/fastjsonschema/check_jsonschema.py) as vectorized
        # variant expressions
        if srv is not None and (srv.format or "").lower() in ("json", "jsonl", "ndjson"):
            self._run_jsonschema_checks(run, contract, srv, schema_name)

        # blob schema objects get file-metadata checks (reference
        # check_azure_blob_file.py, storage-agnostic via Hadoop FS)
        if any((o.logical_type or "").lower() == "blob" for o in contract.schema_objects):
            from datacontract_cli_spark.operators.filechecks import check_blob_files
            check_blob_files(run, contract, srv, self.spark, schema_name)

        return run.finish()

    def _run_jsonschema_checks(self, run: Run, contract: DataContract,
                               srv: Server, schema_name: str = "all") -> None:
        from datacontract_cli_spark.operators.jsonschema import json_schema_violations
        from datacontract_cli_spark.sources.readers import _model_path, read_json_lines_df

        for obj in contract.schema_objects:
            if schema_name != "all" and obj.name != schema_name:
                continue
            model = obj.table
            key = f"{model}__json_schema"
            check = Check(
                key=key, category="schema", type="json_schema",
                name="Check that JSON has valid schema", model=model,
                engine="datacontract-cli-spark", language="spark-sql",
            )
            run.checks.append(check)
            try:
                path = _model_path(srv, model, (srv.format or "json").lower())
                raw = read_json_lines_df(self.spark, path, (srv.format or "json").lower())
                pk = next((p.column for p in (obj.properties or [])
                           if (p.options or {}).get("primaryKey") or p.primary_key), None)
                n, bad, messages = json_schema_violations(
                    raw, "value", obj, pk_col=pk, max_errors=500)
            except Exception as e:  # noqa: BLE001
                check.result = ResultEnum.error
                check.reason = f"JSON schema validation failed: {e}"
                continue
            check.diagnostics = {"row_count": n, "invalid_count": bad}
            if bad == 0:
                check.result = ResultEnum.passed
            else:
                check.result = ResultEnum.failed
                check.reason = messages[0] if messages else f"{bad} invalid rows"
                if self.include_failed_samples:
                    check.failedSamples = [{"message": m}
                                           for m in messages[: self.sample_limit]]

    def test_partitioned(
        self,
        contract: DataContract,
        df: DataFrame,
        model: str,
        checkpoint_dir: Optional[str] = None,
        partition_key: str = "conv_id",
        n_buckets: int = 64,
        source_path: Optional[str] = None,
    ):
        """Per-partition verdict mode (north rule): validate the model's
        count and uniqueness checks per hash bucket of ``partition_key``
        with lineage + checkpoint/resume; returns (Run, bucket verdicts).

        The Run has one Check per rule of the model (:meth:`_lane_run`):
        count and uniqueness results come from the metrics summed over the
        buckets, while the manifest records exactly which buckets have
        been validated (crash-resume re-runs only the rest)."""
        from datacontract_cli_spark.engine.partitioned import PartitionedValidator

        specs = _model_specs(contract, model)
        obj = next((o for o in contract.schema_objects
                    if o.table.lower() == model.lower()), None)
        df, _, derive_errors = _derive_columns(df, obj, specs)
        pv = PartitionedValidator(self.spark, checkpoint_dir=checkpoint_dir,
                                  partition_key=partition_key, n_buckets=n_buckets)
        verdicts = pv.run(df, [s for s in specs if s.key not in derive_errors],
                          model, source_path=source_path)
        folded = PartitionedValidator.fold(verdicts)
        errors = derive_errors | {
            s.key: (f"uniqueness on {s.columns or [s.field]} cannot be "
                    f"folded per-bucket when the partition key "
                    f"{partition_key!r} is not part of the duplicate key — "
                    "run it through test() (the batched lane is exact)"
                    if s.metric is MetricType.DUPLICATE_COUNT
                    and not pv.routes(s)
                    else "a validated bucket in the checkpoint recorded an "
                         "error for this rule; a new checkpoint dir "
                         "re-evaluates it")
            for s in specs if s.key in folded["errors"]}

        def buckets(spec: CheckSpec) -> Dict[str, Any]:
            return {"n_buckets": folded["n_buckets_validated"],
                    "failed_buckets": sorted(
                        b for b, v in verdicts.items()
                        if v.results.get(spec.key) == "failed")}

        return (self._lane_run(contract, specs, "partitioned", df,
                               folded["metrics"], errors, buckets), verdicts)

    def test_incremental(
        self,
        contract: DataContract,
        path: str,
        model: str,
        checkpoint_dir: str,
        table_format: str = "parquet",
        snapshot_id=None,
    ):
        """File-level incremental mode: validate only files new or changed
        (by size/mtime fingerprint) since the last run, fold count metrics
        over the per-file manifest; returns (Run, result dict with files /
        new_files / removed_files / folded / schema). The Run has one Check
        per rule of the model (:meth:`_lane_run`): presence and type checks
        read the schema the files were read with, and a rule that does not
        fold over files (uniqueness: duplicates cross files) is an error.

        ``table_format`` "iceberg"/"delta" plans the live file set from
        the table's own metadata (snapshot manifests / log replay) instead
        of a directory walk — appending a snapshot then re-running scans
        exactly the appended files. ``snapshot_id`` time-travels (an
        Iceberg snapshot id or a Delta version)."""
        from datacontract_cli_spark.engine.incremental import IncrementalValidator

        specs = _model_specs(contract, model)
        counts = [s for s in specs if s.metric in _COUNT_METRICS]
        iv = IncrementalValidator(self.spark, checkpoint_dir)
        if table_format == "iceberg":
            result = iv.run_iceberg(path, counts, model,
                                    snapshot_id=snapshot_id)
        elif table_format == "delta":
            result = iv.run_delta(path, counts, model, version=snapshot_id)
        else:
            result = iv.run(path, counts, model)

        def files(spec: CheckSpec) -> Dict[str, Any]:
            return {"n_files": len(result["files"]),
                    "n_new_files": len(result["new_files"]),
                    "n_removed_files": len(result["removed_files"])}

        run = self._lane_run(
            contract, specs, "incremental",
            _schema_frame(self.spark, result["schema"]),
            _evaluated(result["folded"], result["unevaluated"]), extra=files)
        return run, result

    def tail(
        self,
        contract: DataContract,
        path: str,
        model: str,
        checkpoint_dir: str,
        table_format: str = "iceberg",
    ):
        """CDC-style validation: every Iceberg snapshot / Delta commit
        version not yet validated gets an in-order Run. Thresholds are
        evaluated against that snapshot's DELTA counts — the verdict
        gates the newly arrived rows, not the cumulative table (one
        historical bad row would otherwise fail every future snapshot;
        the cumulative fold stays visible in diagnostics). Returns a
        list of (snapshot_id_or_version, Run, result). Each Run has one
        Check per rule of the model, as :meth:`test_incremental`'s; a
        version that cannot be read errors every Check."""
        from datacontract_cli_spark.engine.incremental import SnapshotTailer

        specs = _model_specs(contract, model)
        counts = [s for s in specs if s.metric in _COUNT_METRICS]
        tailer = SnapshotTailer(self.spark, checkpoint_dir)
        if table_format == "delta":
            polled = tailer.poll_delta(path, counts, model)
        elif table_format == "parquet":
            polled = tailer.poll_dir(path, counts, model)
        else:
            polled = tailer.poll(path, counts, model)
        out = []
        for result in polled:
            sid = result.get("snapshot_id",
                             result.get("delta_version",
                                        result.get("poll")))
            if result.get("error"):
                # unreadable version (e.g. vacuumed history) — one error
                # verdict, never a silent skip
                run = self._lane_run(contract, specs, "tail", None, {},
                                     {s.key: result["error"] for s in specs})
                out.append((sid, run, result))
                continue

            def snapshot(spec: CheckSpec) -> Dict[str, Any]:
                return {"cumulative": _lane_value(result["folded"], spec),
                        "snapshot_id": sid,
                        "n_new_files": len(result["new_files"])}

            run = self._lane_run(
                contract, specs, "tail",
                _schema_frame(self.spark, result["schema"]),
                _evaluated(result["delta"], result["unevaluated"]),
                extra=snapshot,
                maintenance=result.get("data_change") is False)
            out.append((sid, run, result))
        return out

    def _lane_run(self, contract: DataContract, specs: List[CheckSpec],
                  lane: str, frame: Optional[DataFrame],
                  values: Dict[str, Any],
                  errors: Optional[Dict[str, str]] = None,
                  extra: Optional[Callable[[CheckSpec], Dict[str, Any]]] = None,
                  maintenance: bool = False) -> Run:
        """The Run of a folding lane: one Check per spec, in test()'s
        order. Presence and type checks run test()'s own checks against
        ``frame``, whose schema is the one the lane read. A count (or, in
        the bucket lane, uniqueness) spec is evaluated as test() evaluates
        it on its folded value in ``values`` (which holds ``row_count``),
        then gains the lane's ``extra(spec)`` diagnostics; with no value
        its column was absent. ``errors`` maps a spec key to the reason
        the lane could not evaluate it. Every other rule does not fold
        over the lane's units and is an error that says so. A maintenance
        commit (no data change) passes its count checks ungated."""
        unit, folds = _LANES[lane]
        errors = errors or {}
        run = Run(dataContractId=contract.id,
                  dataContractVersion=contract.version)
        run.checks.extend(_check_for(spec) for spec in specs)
        for spec in specs:
            value = _lane_value(values, spec)
            if spec.key in errors:
                run.set_result(spec.key, ResultEnum.error, errors[spec.key])
            elif spec.preset_result is not None:
                run.set_result(spec.key, ResultEnum(spec.preset_result),
                               spec.preset_reason)
            elif spec.metric in _SCHEMA_METRICS:
                self._check_schema(run, spec, frame, frame)
            elif spec.metric not in folds:
                run.set_result(spec.key, ResultEnum.error,
                               f"{spec.metric.value} does not fold over "
                               f"{unit} in the {lane} lane; run test()")
            elif value is None:
                column = (f"column '{spec.field}'" if spec.field
                          else f"a column of {spec.columns}")
                run.set_result(spec.key, ResultEnum.error,
                               f"{column} not present in the validated "
                               f"{unit}")
            else:
                self._evaluate(run, spec, value,
                               None if spec.metric is MetricType.DUPLICATE_COUNT
                               else values.get("row_count"))
                if maintenance:
                    # compaction / OPTIMIZE rewrites files without
                    # changing rows: its delta is 0-or-negative by
                    # construction, so threshold-gating it would fail a
                    # CI tail on every routine maintenance commit
                    run.set_result(spec.key, ResultEnum.passed,
                                   "maintenance commit (no data change); "
                                   "thresholds not applied")
                if extra is not None:
                    run.check(spec.key).diagnostics.update(extra(spec))
        return run.finish()

    # ------------------------------------------------------------------
    # filtering
    # ------------------------------------------------------------------
    def _filter_specs(self, run: Run, specs: List[CheckSpec], category, dimension,
                      quality_id, tag) -> List[CheckSpec]:
        out = specs
        if category:
            out = [s for s in out if s.category == category]
        if dimension:
            out = [s for s in out if (s.dimension or "").lower() == dimension.lower()]
        if quality_id:
            matching = [s for s in out if s.quality_id == quality_id]
            if not matching:
                run.log_warn(f"No check with quality id '{quality_id}' found")
            out = matching
        if tag:
            out = [s for s in out if s.tags and tag in s.tags]
        return out

    # ------------------------------------------------------------------
    # per-model execution
    # ------------------------------------------------------------------
    def _run_model(
        self,
        run: Run,
        submit: _Submit,
        model: str,
        specs: List[CheckSpec],
        df: DataFrame,
        tables: Dict[str, DataFrame],
        obj: Optional[SchemaObject],
        filters: Optional[List[str]],
        raw_df: Optional[DataFrame] = None,
    ) -> None:
        # presence checks look at the un-projected source schema
        raw_df = raw_df if raw_df is not None else df

        # a derived column that materialized is present, though raw_df
        # does not carry it
        df, derived, errors = _derive_columns(df, obj, specs)
        for key, reason in errors.items():
            run.set_result(key, ResultEnum.error, reason)
        specs = [s for s in specs if s.key not in errors]

        # preset (unsupported) checks
        runnable: List[CheckSpec] = []
        for spec in specs:
            if spec.preset_result is not None:
                run.set_result(spec.key, ResultEnum(spec.preset_result), spec.preset_reason)
            else:
                runnable.append(spec)

        # schema checks: no scan, run before the row filter (filters never
        # apply to schema checks — reference ibis_check_execute.py:1117-1130)
        scan_specs: List[CheckSpec] = []
        for spec in runnable:
            if spec.metric in _SCHEMA_METRICS:
                self._check_schema(run, spec, df,
                                   df if spec.field in derived else raw_df)
            else:
                scan_specs.append(spec)

        # row filter (bad predicate ⇒ error, not failed)
        if filters:
            try:
                for pred in filters:
                    df = df.filter(F.expr(pred))
                df.schema  # force analysis so a bad predicate surfaces here
            except Exception as e:
                for spec in scan_specs:
                    run.set_result(spec.key, ResultEnum.error, f"Invalid row filter: {e}")
                return

        agg_specs = [s for s in scan_specs if s.metric in _AGG_METRICS]
        dup_specs = [s for s in scan_specs if s.metric is MetricType.DUPLICATE_COUNT]
        sql_specs = [s for s in scan_specs if s.metric is MetricType.CUSTOM_SQL]
        ri_specs = [s for s in scan_specs if s.metric is MetricType.REFERENTIAL_INTEGRITY]
        psi_specs = [s for s in scan_specs
                     if s.metric is MetricType.FREQ_DRIFT_PSI]
        run_specs = [s for s in scan_specs
                     if s.metric is MetricType.MAX_RUN_LENGTH]
        other = [s for s in scan_specs
                 if s not in agg_specs and s not in dup_specs and s not in sql_specs
                 and s not in ri_specs and s not in psi_specs
                 and s not in run_specs]
        for spec in other:
            run.set_result(spec.key, ResultEnum.warning, f"Unsupported metric {spec.metric}")

        if agg_specs:
            submit(agg_specs, self._run_agg_batch, run, agg_specs, df, obj)
        for spec in dup_specs:
            submit([spec], self._check_uniqueness, run, spec, df, obj)
        for spec in sql_specs:
            submit([spec], self._check_custom_sql, run, spec)
        for spec in ri_specs:
            submit([spec], self._check_referential_integrity, run, spec, df, tables)
        for spec in psi_specs:
            submit([spec], self._check_psi, run, spec, df)
        for spec in run_specs:
            submit([spec], self._check_max_run, run, spec, df)

    # ------------------------------------------------------------------
    # the batched aggregation
    # ------------------------------------------------------------------
    def _run_agg_batch(self, run: Run, specs: List[CheckSpec],
                       df: DataFrame, obj: Optional[SchemaObject]) -> None:
        batch, unevaluated = compile_aggregates(df, specs)
        for spec, result, reason in unevaluated:
            run.set_result(spec.key, result, reason)

        try:
            row = batch.frame(df).collect()[0].asDict()
        except Exception as batch_err:  # noqa: BLE001
            # One bad constraint (e.g. an invalid regex raising inside rlike at
            # execution time) must not abort the whole run: the reference
            # catches aggregation errors and fails only the affected checks
            # (ibis_check_execute.py:294-318). Retry each check individually
            # — all of its aggregates together — so healthy checks in the
            # batch still evaluate.
            logger.warning("batched aggregation failed, isolating per-check: %s", batch_err)
            row = {}
            try:
                row[_ROW_COUNT_ALIAS] = df.agg(batch.aggs[0]).collect()[0][0]
            except Exception as e:  # noqa: BLE001
                for spec, _ in batch.evaluators:
                    run.set_result(spec.key, ResultEnum.error, f"Aggregation failed: {e}")
                return
            for spec, alias in list(batch.evaluators):
                if alias == _ROW_COUNT_ALIAS:
                    continue
                aggs, value = batch.parts[alias]
                try:
                    row[alias] = df.agg(*aggs).select(value).collect()[0][0]
                except Exception as e:  # noqa: BLE001
                    run.set_result(spec.key, ResultEnum.error, f"Check aggregation failed: {e}")
                    batch.evaluators.remove((spec, alias))
                    batch.sample_conds.pop(spec.key, None)
        self._evaluate_agg_row(run, row, batch, df, obj)

    def _evaluate_agg_row(self, run: Run, row: Dict[str, Any],
                          batch: _AggBatch, df: DataFrame,
                          obj: Optional[SchemaObject]) -> None:
        row_count = int(row[_ROW_COUNT_ALIAS])
        sample_conds = batch.sample_conds

        failed_sample_keys = []
        for spec, alias in batch.evaluators:
            value = row[alias]
            if spec.metric in (MetricType.FRESHNESS, MetricType.RETENTION):
                self._evaluate_timestamp_sla(run, spec, value)
                continue
            if spec.metric in (MetricType.QUANTILE, MetricType.QUANTILE_DRIFT_KS):
                label = ("quantile" if spec.metric is MetricType.QUANTILE
                         else "ks_statistic")
                self._evaluate(run, spec,
                               float(value) if value is not None else None,
                               None, metric_label=label)
                continue
            value = int(value) if value is not None else None
            self._evaluate(run, spec, value, row_count)
            check = run.check(spec.key)
            if (self.include_failed_samples and check is not None
                    and check.result in (ResultEnum.failed, ResultEnum.warning)
                    and spec.key in sample_conds):
                failed_sample_keys.append(spec)

        if not failed_sample_keys:
            return
        try:
            self._collect_samples_batch(
                run, [(s, sample_conds[s.key]) for s in failed_sample_keys],
                df, obj)
            return
        except Exception as e:  # noqa: BLE001 — diagnostics only
            logger.warning("sample collection failed for %s: %s",
                           [s.key for s in failed_sample_keys], e)
        if len(failed_sample_keys) > 1:  # isolate the check that raises
            for spec in failed_sample_keys:
                try:
                    self._collect_samples_batch(
                        run, [(spec, sample_conds[spec.key])], df, obj)
                except Exception as e:  # noqa: BLE001
                    logger.warning("sample collection failed for %s: %s",
                                   spec.key, e)

    def _collect_samples_batch(self, run: Run,
                               specs_conds: List[Tuple[CheckSpec, Any]],
                               df: DataFrame,
                               obj: Optional[SchemaObject]) -> None:
        """Violation samples for every failed check in one Spark job, the
        only path samples of a missing or invalid check take.

        Each check's filter + orderBy + limit becomes a tagged union branch
        (planned as its own TakeOrderedAndProject), so a validation with k
        failed checks pays one job-submission round-trip instead of k — on
        a busy cluster the per-job latency dominates these tiny bounded
        reads. Branch rows arrive in branch order with each branch's sort
        order intact, so per-check sample ordering stays stable."""
        ids = self._identifier_columns(df, obj)
        order = ids if ids else None
        branches = []
        tagged: Dict[str, List[Dict[str, Any]]] = {}
        cols_by_key: Dict[str, List[str]] = {}
        for spec, (column, cond) in specs_conds:
            cols: List[str] = []
            for c in ids + [column]:
                if c not in cols:
                    cols.append(c)
            cols = self._drop_sensitive(cols, obj)
            if not cols:
                continue
            tagged[spec.key] = []
            cols_by_key[spec.key] = cols
            branches.append(
                df.filter(cond)
                .orderBy(*[_sort_key(df, c) for c in (order or [column])])
                .limit(self.sample_limit)
                .select(F.lit(spec.key).alias("__dc_tag__"),
                        F.to_json(F.struct(
                            *self._sample_struct_cols(df, cols))
                        ).alias("__dc_rec__"))
            )
        if not branches:
            return
        combined = branches[0]
        for b in branches[1:]:
            combined = combined.unionByName(b)
        for r in combined.collect():
            tagged[r["__dc_tag__"]].append(
                self._parse_sample(r["__dc_rec__"], cols_by_key[r["__dc_tag__"]]))
        for spec, _ in specs_conds:
            check = run.check(spec.key)
            if check is not None and spec.key in tagged:
                check.failedSamples = tagged[spec.key]

    # ------------------------------------------------------------------
    # dedicated jobs
    # ------------------------------------------------------------------
    def _check_uniqueness(self, run: Run, spec: CheckSpec, df: DataFrame,
                          obj: Optional[SchemaObject]) -> None:
        """Number of duplicated key GROUPS (not duplicated rows), exact,
        from :func:`duplicate_groups`; with failed samples on, the first
        duplicated groups in key order come from the same query."""
        cols = spec.columns or ([spec.field] if spec.field else None)
        if not cols:
            run.set_result(spec.key, ResultEnum.error, "duplicate check has no columns")
            return
        resolved = []
        for c in cols:
            r = resolve_column(df, c)
            if r is None:
                run.set_result(spec.key, _fail_result(spec),
                               f"Column '{c}' not found in model {spec.model}")
                return
            resolved.append(r)
        sample_keys = (self._drop_sensitive(resolved, obj)
                       if self.include_failed_samples else None)
        try:
            rows = self._uniqueness_query(df, resolved, sample_keys).collect()
        except Exception as e:  # noqa: BLE001
            # one failing Spark job errors only its own check
            run.set_result(spec.key, ResultEnum.error, str(e))
            return
        fold = next(r for r in rows if r[_DUP_ALIAS] is not None)
        self._evaluate(run, spec, int(fold[_DUP_ALIAS]), None)
        check = run.check(spec.key)
        if (sample_keys is None or check is None
                or check.result not in (ResultEnum.failed, ResultEnum.warning)):
            return
        samples = []
        for r in rows:
            if r[_DUP_ALIAS] is None:
                rec = (self._parse_sample(r[_SAMPLE_ALIAS], sample_keys)
                       if sample_keys else {})
                rec["duplicate_count"] = r[_ROW_COUNT_ALIAS]
                samples.append(rec)
        check.failedSamples = samples

    def _uniqueness_query(self, df: DataFrame, resolved: List[str],
                          sample_keys: Optional[List[str]]) -> DataFrame:
        """The fold row of :func:`duplicate_groups`, then, unless
        ``sample_keys`` is None, up to ``sample_limit`` duplicated groups
        ordered by the key: ``sample_keys`` (the non-sensitive key
        columns) as one JSON string and the group's row count. Both
        branches read one grouped frame, so the scan and the shuffle
        write run once; the sample branch reads the shuffle a second time
        as a ReusedExchange. TakeOrdered emits one sorted partition and
        collect keeps the union's branch order, so the sample rows arrive
        in key order."""
        groups, fold = duplicate_groups(df, resolved)
        if sample_keys is None:
            return fold
        record = (F.to_json(F.struct(*self._sample_struct_cols(df, sample_keys)))
                  if sample_keys else F.lit(None).cast("string"))
        samples = (groups.filter(F.col(_ROW_COUNT_ALIAS) > 1)
                   .orderBy(*[_sort_key(df, c) for c in resolved])
                   .limit(self.sample_limit)
                   .select(record.alias(_SAMPLE_ALIAS), _ROW_COUNT_ALIAS))
        return fold.unionByName(samples, allowMissingColumns=True)

    def _check_custom_sql(self, run: Run, spec: CheckSpec) -> None:
        from datacontract_cli_spark.checks.dialect import to_spark_sql
        try:
            result = self.spark.sql(to_spark_sql(spec.query, spec.dialect))
            first = result.limit(1).collect()
            value = first[0][0] if first else None
        except Exception as e:
            run.set_result(spec.key, ResultEnum.error, f"Custom SQL failed: {e}")
            return
        check = run.check(spec.key)
        if check is not None:
            check.implementation = spec.query
        if isinstance(value, dt.datetime) or isinstance(value, dt.date):
            value = str(value)
        self._evaluate(run, spec, value, None, metric_label="custom_sql")

    def _check_referential_integrity(self, run: Run, spec: CheckSpec, df: DataFrame,
                                     tables: Dict[str, DataFrame]) -> None:
        parent = tables.get((spec.ref_model or "").lower())
        if parent is None:
            run.set_result(spec.key, ResultEnum.error,
                           f"Referenced model '{spec.ref_model}' not found")
            return
        child_col = resolve_column(df, spec.field)
        parent_col = resolve_column(parent, spec.ref_field)
        if child_col is None or parent_col is None:
            run.set_result(spec.key, _fail_result(spec), "Referenced column not found")
            return
        from datacontract_cli_spark.operators.refintegrity import orphan_count
        try:
            value = orphan_count(df, child_col, parent, parent_col)
        except Exception as e:
            run.set_result(spec.key, ResultEnum.error, str(e))
            return
        self._evaluate(run, spec, int(value), None, metric_label="orphan_count")

    def _check_psi(self, run: Run, spec: CheckSpec, df: DataFrame) -> None:
        column = resolve_column(df, spec.field)
        if column is None:
            run.set_result(spec.key, _fail_result(spec),
                           f"Column '{spec.field}' not found in model {spec.model}")
            return
        try:
            value = drift.psi(df, column, spec.baseline)
        except Exception as e:
            run.set_result(spec.key, ResultEnum.error, f"Drift check failed: {e}")
            return
        self._evaluate(run, spec, round(float(value), 6), None, metric_label="psi")

    def _check_max_run(self, run: Run, spec: CheckSpec, df: DataFrame) -> None:
        """maxRunLength: longest run of consecutive identical action values
        within any key group — the degenerate-agent-loop gate
        (operators/convchecks.run_lengths; one conv-partitioned window +
        a map-side-combining groupBy, O(runs) over the wire)."""
        key = resolve_column(df, spec.field)
        if key is None:
            run.set_result(spec.key, _fail_result(spec),
                           f"Column '{spec.field}' not found in model {spec.model}")
            return
        missing = [c for c in (spec.extra["order_cols"]
                               + spec.extra["action_cols"])
                   if resolve_column(df, c) is None]
        if missing:
            run.set_result(spec.key, _fail_result(spec),
                           f"Columns {missing} not found in model {spec.model}")
            return
        from datacontract_cli_spark.operators.convchecks import run_lengths
        order = [resolve_column(df, c) for c in spec.extra["order_cols"]]
        action = [resolve_column(df, c) for c in spec.extra["action_cols"]]
        try:
            row = (run_lengths(df, key, order, action)
                   .agg(F.max("run_len").alias("m")).collect()[0])
        except Exception as e:
            run.set_result(spec.key, ResultEnum.error,
                           f"maxRunLength check failed: {e}")
            return
        value = int(row["m"]) if row["m"] is not None else 0
        self._evaluate(run, spec, value, None, metric_label="max_run_length")

    # ------------------------------------------------------------------
    # schema checks
    # ------------------------------------------------------------------
    def _check_schema(self, run: Run, spec: CheckSpec, df: DataFrame,
                      raw_df: DataFrame) -> None:
        """One schema check: presence reads the un-projected ``raw_df``,
        the type checks read ``df``."""
        if spec.metric is MetricType.FIELD_PRESENT:
            self._check_present(run, spec, raw_df)
        elif spec.metric is MetricType.FIELD_TYPE:
            self._check_type(run, spec, df)
        elif spec.metric is MetricType.FIELD_PHYSICAL_TYPE:
            self._check_physical_type(run, spec, df)
        else:
            self._check_nested_type(run, spec, df)

    def _check_present(self, run: Run, spec: CheckSpec, raw_df: DataFrame) -> None:
        present = resolve_column(raw_df, spec.field) is not None
        run.set_diagnostics(spec.key, {"metric": "field_present",
                                       "field": spec.field,
                                       "value": present})
        if present:
            run.set_result(spec.key, ResultEnum.passed, None)
        else:
            run.set_result(spec.key, _fail_result(spec),
                           f"Field '{spec.field}' is missing in model {spec.model}")

    def _check_type(self, run: Run, spec: CheckSpec, df: DataFrame) -> None:
        column = resolve_column(df, spec.field)
        if column is None:
            run.set_result(spec.key, _fail_result(spec),
                           f"Column '{spec.field}' not found in model {spec.model}")
            return
        actual = spark_type_to_property(column, df.schema[column].dataType)
        ok, reason = property_matches(spec.expected_property, actual)
        run.set_diagnostics(spec.key, {
            "metric": "field_type",
            "field": spec.field,
            "expected": spec.expected_type_label,
            "actual": actual.physical_type,
        })
        if ok:
            run.set_result(spec.key, ResultEnum.passed, None)
        else:
            run.set_result(spec.key, _fail_result(spec), reason)

    def _check_physical_type(self, run: Run, spec: CheckSpec, df: DataFrame) -> None:
        column = resolve_column(df, spec.field)
        if column is None:
            run.set_result(spec.key, _fail_result(spec),
                           f"Column '{spec.field}' not found in model {spec.model}")
            return
        actual = df.schema[column].dataType.simpleString()
        verdict = physical_types_match(spec.expected_physical_type, actual)
        run.set_diagnostics(spec.key, {
            "metric": "field_physical_type",
            "field": spec.field,
            "expected": spec.expected_physical_type,
            "actual": actual,
        })
        if verdict is True:
            run.set_result(spec.key, ResultEnum.passed, None)
        elif verdict is False:
            # fall back to logical category compatibility before failing
            exp_cat = normalize_type_name(spec.expected_physical_type)
            act_cat = normalize_type_name(actual)
            if exp_cat is not None and exp_cat == act_cat:
                run.set_result(spec.key, ResultEnum.passed, None)
            else:
                run.set_result(spec.key, _fail_result(spec),
                               f"Field '{spec.field}': expected physical type "
                               f"{spec.expected_physical_type}, actual {actual}")
        else:
            run.set_result(spec.key, ResultEnum.warning,
                           f"Cannot verify physical type {spec.expected_physical_type} "
                           f"against {actual}")

    def _check_nested_type(self, run: Run, spec: CheckSpec, df: DataFrame) -> None:
        column = resolve_column(df, spec.field)
        if column is None:
            run.set_result(spec.key, _fail_result(spec),
                           f"Column '{spec.field}' not found in model {spec.model}")
            return
        actual = spark_type_to_property(column, df.schema[column].dataType)
        ok, reason = property_matches(spec.expected_property, actual)
        if ok:
            run.set_result(spec.key, ResultEnum.passed, None)
        else:
            run.set_result(spec.key, _fail_result(spec), reason)

    # ------------------------------------------------------------------
    # evaluation + diagnostics (reference ibis_check_execute.py:943-989)
    # ------------------------------------------------------------------
    def _evaluate(self, run: Run, spec: CheckSpec, value: Any,
                  row_count: Optional[int], metric_label: Optional[str] = None) -> None:
        is_bad_row = spec.metric in (MetricType.MISSING_COUNT, MetricType.INVALID_COUNT)
        percent = threshold_percent(spec, value, row_count)

        diag: Dict[str, Any] = {"metric": metric_label or spec.metric.value}
        if spec.field is not None:
            diag["field"] = spec.field
        diag["value"] = value
        if percent is not None:
            diag["unit"] = "percent"
        if spec.severity is not None:
            diag["severity"] = spec.severity
        if spec.threshold is not None:
            diag["threshold"] = spec.threshold.describe()
        if row_count is not None and is_bad_row:
            diag["row_count"] = row_count
            diag["failed_fraction"] = round(value / row_count, 6) if row_count else 0.0
        if percent is not None:
            diag["percent"] = percent
        if spec.metric is MetricType.INVALID_COUNT:
            constraint = self._constraint_info(spec)
            if constraint:
                diag["constraint"] = constraint
        elif spec.metric is MetricType.MISSING_COUNT and spec.missing_values:
            diag["missing_values"] = spec.missing_values
        run.set_diagnostics(spec.key, diag)

        if spec.threshold is None:
            run.set_result(spec.key, ResultEnum.passed, None)
            return
        ok, _ = passes_with_percent(spec, value, row_count)
        target = spec.field or spec.model
        label = metric_label or spec.metric.value
        if ok:
            reason = None
        elif percent is not None:
            reason = (f"Actual {label}({target}) was {percent}% ({value} of {row_count} rows), "
                      f"expected {spec.threshold.describe()}%")
        else:
            reason = f"Actual {label}({target}) was {value}, expected {spec.threshold.describe()}"
        run.set_result(spec.key, ResultEnum.passed if ok else _fail_result(spec), reason)

    def _evaluate_timestamp_sla(self, run: Run, spec: CheckSpec, value: Any) -> None:
        now = dt.datetime.now(dt.timezone.utc)
        if value is None:
            run.set_result(spec.key, ResultEnum.failed,
                           f"No {spec.metric.value} timestamp found (empty table or all NULL)")
            return
        if isinstance(value, dt.datetime):
            ts = value if value.tzinfo else value.replace(tzinfo=dt.timezone.utc)
        elif isinstance(value, dt.date):
            ts = dt.datetime(value.year, value.month, value.day, tzinfo=dt.timezone.utc)
        else:
            run.set_result(spec.key, ResultEnum.error,
                           f"{spec.metric.value} column is not a timestamp: {value!r}")
            return
        age = (now - ts).total_seconds()
        ok = age < spec.seconds
        run.set_diagnostics(spec.key, {
            "metric": spec.metric.value,
            "field": spec.field,
            "value": round(age, 3),
            "threshold": f"< {spec.seconds}",
            "timestamp": ts.isoformat(),
        })
        if ok:
            run.set_result(spec.key, ResultEnum.passed, None)
        else:
            run.set_result(spec.key, ResultEnum.failed,
                           f"Actual {spec.metric.value} of {spec.model}.{spec.field} was "
                           f"{round(age)}s, expected < {spec.seconds}s")

    @staticmethod
    def _constraint_info(spec: CheckSpec) -> Dict[str, Any]:
        out: Dict[str, Any] = {}
        if spec.valid_values is not None:
            out["valid_values"] = spec.valid_values
        if spec.valid_regex is not None:
            out["pattern"] = spec.valid_regex
        if spec.valid_min is not None:
            out["minimum"] = spec.valid_min
        if spec.valid_max is not None:
            out["maximum"] = spec.valid_max
        if spec.valid_min_length is not None:
            out["min_length"] = spec.valid_min_length
        if spec.valid_max_length is not None:
            out["max_length"] = spec.valid_max_length
        if spec.invalid_values is not None:
            out["invalid_values"] = spec.invalid_values
        return out

    # ------------------------------------------------------------------
    # failed samples
    # ------------------------------------------------------------------
    def _identifier_columns(self, df: DataFrame, obj: Optional[SchemaObject]) -> List[str]:
        if obj is None:
            return []
        ids = []
        for p in obj.properties:
            if p.primary_key or p.unique:
                col = resolve_column(df, p.column)
                if col:
                    ids.append(col)
        return ids

    def _drop_sensitive(self, columns: List[str], obj: Optional[SchemaObject]) -> List[str]:
        if obj is None:
            return columns
        sensitive = {
            p.column.lower()
            for p in obj.properties
            if (p.classification or "").strip().lower() in _SENSITIVE_CLASSIFICATIONS
        }
        return [c for c in columns if c.lower() not in sensitive]

    # column types whose JSON rendering (via to_json) differs from Python
    # str() of the value — cast to string BEFORE the struct so samples
    # render them as str() does (Spark's cast-to-string of
    # timestamp/date/decimal matches Python str() of the same value)
    _SAMPLE_STRINGIFY = ("timestamp", "date", "decimal")

    def _sample_struct_cols(self, df: DataFrame, cols: List[str]) -> List[Any]:
        dtypes = dict(df.dtypes)
        return [
            (F.col(_q(c)).cast("string")
             if dtypes.get(c, "").startswith(self._SAMPLE_STRINGIFY)
             else F.col(_q(c))).alias(c)
            for c in cols
        ]

    def _parse_sample(self, json_str: str, cols: List[str]) -> Dict[str, Any]:
        """Decode one to_json'd sample row: restore NULL fields (to_json
        omits them — a missing-value sample's violating column IS null) in
        declared column order, then :meth:`_json_safe` it."""
        rec = json.loads(json_str)
        return self._json_safe({c: rec.get(c) for c in cols})

    @staticmethod
    def _json_safe(record: Dict[str, Any]) -> Dict[str, Any]:
        out = {}
        for k, v in record.items():
            if isinstance(v, float) and math.isnan(v):
                out[k] = None
            elif isinstance(v, (str, int, float, bool)) or v is None:
                out[k] = v
            else:
                out[k] = str(v)
        return out
