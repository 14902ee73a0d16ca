"""File-level incremental validation: validate only what changed.

The production loop for an append-mostly 100 TB table: yesterday's run
validated 99 TB; today's run must touch only today's new files. This
module keeps a manifest of (file, size, mtime) fingerprints with
PER-FILE metric rows; a re-run diffs the current listing against the
manifest, scans ONLY new/changed files (one grouped-aggregation job keyed
by ``input_file_name()`` — not a job per file), and folds global metrics
across all manifest rows without rescanning anything.

Complements :mod:`datacontract_cli_spark.engine.partitioned` (hash-bucket
units, resume mid-run, key-scoped duplicate checks): buckets give stable
logical units for conversation-scoped checks; files give physical units
whose fingerprints detect appends and rewrites. Count-style metrics
(row_count / missing / invalid) fold exactly over files; key-uniqueness
checks need the bucketed lane (duplicates cross file boundaries) — the
two compose: incremental for the narrow counts, bucketed for uniqueness.
``SparkContractEngine.test_incremental`` and ``tail`` still report every
rule of the model: presence and type checks read the schema the files
were read with (``run``'s ``schema``), and every rule that does not fold
over files is an error that says so.

Removed files are reported (their manifest rows are dropped from the fold
and the removal is visible in the result), so a retention job shrinking
the table never silently inflates folded totals.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.executor import (
    _COUNT_METRICS,
    _ROW_COUNT_ALIAS,
    compile_aggregates,
)

_FILE = "__dc_file__"

# Bumped when evaluation semantics change in a way that can turn a
# previously-unevaluable spec evaluable (e.g. the basePath fix that
# restored hive-partition columns): rows written under an older lane are
# revalidated ONCE, then re-recorded under the current lane.
# v3: manifest rows record per-spec parameter fingerprints.
LANE_VERSION = 3

# CheckSpec fields that feed missing_condition/invalid_condition — editing
# any of these (new enum values, a different regex, moved bounds) changes
# what the counts MEAN, so fingerprint-unchanged files must revalidate.
_PARAM_FIELDS = ("metric", "field", "missing_values", "valid_values",
                 "invalid_values", "valid_regex", "valid_min", "valid_max",
                 "valid_min_length", "valid_max_length", "uses_raw_view",
                 # toolArgsValid inputs: editing a tool's JSON Schema must
                 # revalidate fingerprint-unchanged files like any rule edit
                 "tool_col", "tool_schemas")


def spec_param_fingerprint(spec: CheckSpec) -> str:
    """Stable hash of a spec's evaluation parameters. A contract edit that
    keeps a check's KEY but changes its rule produces a different
    fingerprint, forcing revalidation of files whose manifest rows were
    computed against the old rule."""
    import hashlib

    payload = {f: getattr(spec, f, None) for f in _PARAM_FIELDS}
    payload["metric"] = spec.metric.value
    return hashlib.md5(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:12]


def _norm_uri(uri: str) -> str:
    """Canonical file URI: Hadoop's Path.toString() renders local paths as
    file:/x while input_file_name() renders file:///x — normalize both (and
    %-escapes) so manifest keys and scan keys always agree."""
    from urllib.parse import unquote

    uri = unquote(uri)
    if uri.startswith("file:"):
        return "file:///" + uri[len("file:"):].lstrip("/")
    return uri


@dataclass
class FileVerdict:
    file: str
    size: int
    mtime: float
    row_count: int
    metrics: Dict[str, Any]
    validated_at: str
    # spec keys that could NOT be evaluated on this file (column absent
    # from the scanned schema) — recorded so the fold can surface them as
    # errors instead of silently passing with 0
    unevaluated: List[str] = None
    lane: int = 1  # LANE_VERSION the row was written under
    # spec key -> parameter fingerprint the metrics were computed under
    params: Dict[str, str] = None

    def to_json(self) -> str:
        d = dict(self.__dict__)
        for opt in ("unevaluated", "params"):
            if not d.get(opt):
                d.pop(opt, None)
        return json.dumps(d, default=str)


def list_data_files(spark: SparkSession, path: str,
                    suffix: str = ".parquet") -> List[Tuple[str, int, float]]:
    """(uri, size, mtime) of the data files under ``path``, via Hadoop FS —
    storage-agnostic (local, HDFS, s3a...), same lane filechecks uses."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out: List[Tuple[str, int, float]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or not name.endswith(suffix):
            continue
        out.append((_norm_uri(st.getPath().toString()), int(st.getLen()),
                    st.getModificationTime() / 1000.0))
    return sorted(out)


class IncrementalValidator:
    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir

    def _manifest_path(self, model: str) -> str:
        return os.path.join(self.checkpoint_dir, f"{model}.files.jsonl")

    def _schema_path(self, model: str) -> str:
        return os.path.join(self.checkpoint_dir, f"{model}.schema.json")

    def _stored_schema(self, model: str) -> Optional[StructType]:
        path = self._schema_path(model)
        if not os.path.exists(path):
            return None
        with open(path, "r", encoding="utf-8") as f:
            return StructType.fromJson(json.load(f))

    def _store_schema(self, model: str, schema: StructType) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = self._schema_path(model) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(schema.json())
        os.replace(tmp, self._schema_path(model))

    def validated_files(self, model: str) -> Dict[str, FileVerdict]:
        path = self._manifest_path(model)
        out: Dict[str, FileVerdict] = {}
        if os.path.exists(path):
            with open(path, "r", encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        d = json.loads(line)
                        out[d["file"]] = FileVerdict(**d)  # last write wins
        return out

    def run(self, path: str, specs: List[CheckSpec], model: str,
            schema=None, listing: Optional[List[Tuple[str, int, float]]]
            = None, base_path: Optional[str] = "auto") -> Dict[str, Any]:
        """Validate new/changed files only; returns
        ``{files, new_files, removed_files, folded, unevaluated, schema}``
        where ``folded`` sums count metrics over every CURRENT file's
        manifest row, ``unevaluated`` lists spec keys some live file could
        not evaluate (absent column) — the caller must surface those as
        errors, never as passing zeros — and ``schema`` is the schema the
        files are read with: the given one, else the reader's (of the
        new files; when none is new, the one stored at the last read, or
        of one live file).

        ``listing`` overrides the Hadoop-FS walk with an explicit
        [(uri, size, mtime)] — the table-format lanes (run_iceberg /
        run_delta) pass the snapshot/log-planned file set so the unit of
        incrementality is exactly what the table's metadata says is live.
        ``base_path`` "auto" probes ``path`` for the hive-partition
        directory case; None disables it (Iceberg data files carry all
        columns — partition inference would shadow them)."""
        if listing is None:
            listing = list_data_files(self.spark, path)
        current = {f: (size, mtime) for f, size, mtime in listing}
        known = self.validated_files(model)
        removed = sorted(set(known) - set(current))
        # a manifest row "covers" a spec when the key is in its metrics or
        # recorded as unevaluated; a contract that GAINS a check must
        # revalidate fingerprint-unchanged files too, else the new metric
        # folds as a partial sum over only later files (silent undercount)
        spec_keys = {s.key for s in specs
                     if s.metric is not MetricType.ROW_COUNT}
        spec_fps = {s.key: spec_param_fingerprint(s) for s in specs}

        def _covers(v: FileVerdict) -> bool:
            if v.lane != LANE_VERSION:
                return False  # older evaluation semantics: revalidate once
            have = set(v.metrics) | set(v.unevaluated or [])
            if not (spec_keys <= have):
                return False
            # same key, edited rule (new enum set, different regex, moved
            # bounds): the stored counts were computed against the OLD rule
            stored = v.params or {}
            return all(stored.get(k) == spec_fps[k]
                       for k in spec_keys if k in v.metrics)

        todo = [f for f, (size, mtime) in current.items()
                if f not in known
                or known[f].size != size
                or abs(known[f].mtime - mtime) > 1e-6
                or not _covers(known[f])]

        # basePath preserves hive-partition directory columns even though
        # we hand the reader leaf FILES — without it a check on a
        # partition column would be unevaluable on every file. Only valid
        # when the data path is a directory (a single-file table has no
        # partition dirs and Spark rejects a file basePath)
        reader = self.spark.read
        if base_path == "auto":
            jvm = self.spark._jvm
            hp = jvm.org.apache.hadoop.fs.Path(path)
            if hp.getFileSystem(self.spark._jsc.hadoopConfiguration()) \
                    .getFileStatus(hp).isDirectory():
                reader = reader.option("basePath", path)
        elif base_path is not None:
            reader = reader.option("basePath", base_path)
        inferred, stored = schema is None, None
        if not inferred:
            reader = reader.schema(schema)
        elif not todo and current:
            # nothing to scan: a no-op poll stays listing-only by reusing
            # the schema the files were last read with
            stored = self._stored_schema(model)
            schema = stored or reader.parquet(min(current)).schema

        new_verdicts: List[FileVerdict] = []
        if todo:
            df = reader.parquet(*sorted(todo))
            schema = df.schema
            batch, _ = compile_aggregates(
                df, [s for s in specs if s.metric in _COUNT_METRICS])
            # a spec the batch does not evaluate (absent column, or outside
            # the count metrics) is recorded unevaluated on every file
            skipped = sorted(spec_keys - {s.key for s, _ in batch.evaluators})
            rows = batch.frame(df.withColumn(_FILE, F.input_file_name()),
                               [_FILE]).collect()
            by_file = {_norm_uri(r[_FILE]): r for r in rows}
            now = datetime.now(timezone.utc).isoformat()
            for f in sorted(todo):
                row = by_file.get(f)
                size, mtime = current[f]
                metrics: Dict[str, Any] = {}
                n = int(row[_ROW_COUNT_ALIAS]) if row is not None else 0
                for spec, alias in batch.evaluators:
                    v = row[alias] if row is not None else 0
                    metrics[spec.key] = int(v) if v is not None else 0
                new_verdicts.append(FileVerdict(
                    file=f, size=size, mtime=mtime, row_count=n,
                    metrics=metrics, validated_at=now,
                    unevaluated=skipped or None, lane=LANE_VERSION,
                    params={k: spec_fps[k] for k in metrics}))
            os.makedirs(self.checkpoint_dir, exist_ok=True)
            with open(self._manifest_path(model), "a", encoding="utf-8") as fh:
                for v in new_verdicts:
                    fh.write(v.to_json() + "\n")

        if inferred and schema is not None and schema != stored:
            self._store_schema(model, schema)
        known.update({v.file: v for v in new_verdicts})
        live = {f: v for f, v in known.items() if f in current}

        folded: Dict[str, Any] = {"row_count": sum(v.row_count
                                                   for v in live.values())}
        unevaluated: set = set()
        for v in live.values():
            unevaluated.update(v.unevaluated or [])
            for k, val in v.metrics.items():
                if k == "row_count":
                    continue
                folded[k] = folded.get(k, 0) + val
        # a spec key no live file evaluated (e.g. empty todo on a stale
        # manifest) is unevaluated, never a passing zero
        unevaluated.update(k for k in spec_keys
                           if k not in folded and k not in unevaluated)
        return {
            "files": live,
            "new_files": sorted(v.file for v in new_verdicts),
            "removed_files": removed,
            "folded": folded,
            "unevaluated": sorted(unevaluated),
            "schema": schema if schema is not None else StructType([]),
        }

    # ------------------------------------------------------------------
    # table-format lanes: the snapshot/log IS the listing
    # ------------------------------------------------------------------

    def run_iceberg(self, table_path: str, specs: List[CheckSpec],
                    model: str,
                    snapshot_id: Optional[int] = None) -> Dict[str, Any]:
        """Snapshot-incremental validation of an Iceberg table: the file
        set comes from manifest planning, so validating snapshot N after
        snapshot N-1 scans EXACTLY the appended data files (Iceberg files
        are immutable — fingerprints are path+recorded size), and
        snapshot-expired/rewritten files drop out of the fold as
        ``removed_files``. The result dict gains ``snapshot_id``."""
        from datacontract_cli_spark.sources.iceberg_table import (
            plan_scan_entries,
            schema_struct,
        )

        meta, entries = plan_scan_entries(table_path, snapshot_id)
        listing = [
            (_norm_uri("file://" + e["data_file"]["file_path"]),
             int(e["data_file"].get("file_size_in_bytes", 0)), 0.0)
            for e in entries]
        out = self.run(table_path, specs, model,
                       schema=schema_struct(meta), listing=listing,
                       base_path=None)  # data files carry all columns
        out["snapshot_id"] = (snapshot_id
                              if snapshot_id is not None
                              else meta.get("current-snapshot-id"))
        return out

    def run_delta(self, table_path: str, specs: List[CheckSpec],
                  model: str,
                  version: Optional[int] = None) -> Dict[str, Any]:
        """Log-incremental validation of a Delta table: live files from
        checkpoint+commit replay; partition columns resolve from the
        hive-style directory layout via basePath (delta data files do not
        store them). Removed (vacuum/rewrite) files leave the fold."""
        from datacontract_cli_spark.sources.delta_table import (
            _strip_scheme,
            plan_delta,
        )

        state, live_adds = plan_delta(table_path, version)
        from datacontract_cli_spark.sources.delta_table import _mapping_mode
        if _mapping_mode(state["metadata"]) != "none":
            # the incremental lane reads raw parquet with the LOGICAL
            # schema; a column-mapped table stores PHYSICAL
            # (col-<uuid>) names, so every column would silently read
            # as NULL — refuse, same honesty as the DV guard (the batch
            # read_delta handles the mapping)
            raise NotImplementedError(
                "delta table uses column mapping; file-incremental "
                "validation reads raw parquet by logical name — "
                "validate via the batch engine")
        for a in live_adds:
            dv = a.get("deletionVector")
            if dv and isinstance(dv, dict) and dv.get("storageType"):
                # file-granular fingerprints assume immutable file
                # CONTENTS; a deletion vector changes a file's live rows
                # without changing its bytes, so per-file metrics would
                # silently count deleted rows. Refuse honestly — the
                # batch engine (read_delta applies DVs) or a compaction
                # (materializes them) are the correct lanes.
                raise NotImplementedError(
                    "delta table has deletion vectors; file-incremental "
                    "validation needs copy-on-write files — compact the "
                    "table (materialize its deletion vectors) first or "
                    "validate via the batch engine")
        root = _strip_scheme(table_path)
        listing = [
            (_norm_uri("file://" + os.path.join(root, a["path"])),
             int(a.get("size", 0)),
             float(a.get("modificationTime", 0)) / 1000.0)
            for a in live_adds]
        from datacontract_cli_spark.sources.delta_table import delta_schema
        out = self.run(table_path, specs, model,
                       schema=delta_schema(state["metadata"]),
                       listing=listing, base_path=root)
        out["delta_version"] = state["version"]
        return out


class SnapshotTailer:
    """CDC-style validation of an append-mostly Iceberg or Delta table:
    each call to :meth:`poll` / :meth:`poll_delta` (one loop,
    :meth:`_tail`) validates every snapshot or version that landed since
    the last validated one, IN ORDER, and emits a per-snapshot verdict whose
    metric deltas cover exactly that snapshot's appended rows (count
    metrics fold linearly, so snapshot N's delta is fold(N) −
    fold(N−1) — no rescan of earlier data ever happens, the underlying
    run_iceberg scans only the snapshot's new files).

    State (last validated snapshot id + its fold) lives next to the file
    manifest in the checkpoint dir, so a crashed tailer resumes at the
    first unvalidated snapshot — the north rule's "resume mid-run with
    per-partition lineage + metrics" applied at snapshot granularity.
    This is the batch dual of Structured Streaming's source offsets: the
    snapshot log is the offset log."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.iv = IncrementalValidator(spark, checkpoint_dir)
        self.checkpoint_dir = checkpoint_dir

    def _state_path(self, model: str) -> str:
        return os.path.join(self.checkpoint_dir, f"{model}.snapshots.json")

    def _load_state(self, model: str) -> Dict[str, Any]:
        p = self._state_path(model)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"validated": [], "last_fold": {}}

    def _save_state(self, model: str, state: Dict[str, Any]) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = self._state_path(model) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._state_path(model))

    def _tail(self, model: str, id_key: str, versions: List[Any],
              validate: Callable[[Any], Dict[str, Any]],
              data_change: Callable[[Any], bool]) -> List[Dict[str, Any]]:
        """Validate every version not yet validated, in log order; one
        result per version: {``id_key``, folded (cumulative), delta (this
        version's counts: fold − previous fold), new_files,
        removed_files, unevaluated, schema, data_change}. The state is
        saved after each version, so a crash resumes at the first
        unvalidated one. A version that raises gets one error result; if
        its files are gone for good it is marked validated, otherwise the
        poll stops there and the version retries on the next one."""
        state = self._load_state(model)
        seen = set(state["validated"])
        prev_fold = dict(state["last_fold"])
        out: List[Dict[str, Any]] = []
        for vid in versions:
            if vid in seen:
                continue
            try:
                r = validate(vid)
            except Exception as e:  # noqa: BLE001 — verdicts must surface
                msg = str(e)
                out.append({id_key: vid, "error": msg,
                            "folded": dict(prev_fold), "delta": {},
                            "new_files": [], "removed_files": [],
                            "unevaluated": [], "data_change": False})
                # permanent: vacuumed or manually deleted files never come
                # back, and a DV / MoR-delete / column-mapping refusal holds
                # for that version forever — marking it validated keeps a
                # fresh checkpoint on a vacuumed table from re-failing the
                # same version every poll. Anything else is transient:
                # surface the verdicts already computed and retry later.
                gone = (isinstance(e, (FileNotFoundError,
                                       NotImplementedError))
                        or "PATH_NOT_FOUND" in msg
                        or "does not exist" in msg)
                if not gone:
                    break
                state["validated"].append(vid)
                self._save_state(model, state)
                continue
            delta = {k: v - prev_fold.get(k, 0)
                     for k, v in r["folded"].items()
                     if isinstance(v, (int, float))}
            out.append({id_key: vid, "folded": dict(r["folded"]),
                        "delta": delta, "new_files": r["new_files"],
                        "removed_files": r["removed_files"],
                        "unevaluated": r["unevaluated"],
                        "schema": r["schema"],
                        "data_change": data_change(vid)})
            prev_fold = dict(r["folded"])
            state["validated"].append(vid)
            state["last_fold"] = prev_fold
            self._save_state(model, state)  # crash-safe per version
        return out

    def poll(self, table_path: str, specs: List[CheckSpec],
             model: str) -> List[Dict[str, Any]]:
        """Validate all pending snapshots (:meth:`_tail`); each result
        also carries the snapshot's ``operation``. A ``replace``
        (compaction/rewrite: same rows, new files) is no data change."""
        from datacontract_cli_spark.sources.iceberg_table import snapshots

        ops = {s["snapshot_id"]: s.get("operation")
               for s in snapshots(table_path)}
        out = self._tail(
            model, "snapshot_id", list(ops),
            lambda sid: self.iv.run_iceberg(table_path, specs, model,
                                            snapshot_id=sid),
            lambda sid: ops[sid] != "replace")
        for r in out:
            r["operation"] = ops[r["snapshot_id"]]
        return out

    def poll_dir(self, path: str, specs: List[CheckSpec],
                 model: str) -> List[Dict[str, Any]]:
        """Landing-zone tailer: plain parquet files arriving in a
        directory (no table format, so no versions — each POLL batch that
        found new/changed files is one verdict whose delta covers exactly
        those files). The underlying file-incremental run scans only the
        new files; the poll index is recorded so resumes line up."""
        state = self._load_state(model)
        prev_fold = dict(state["last_fold"])
        poll_idx = len(state["validated"])
        try:
            r = self.iv.run(path, specs, model)
        except Exception as e:  # noqa: BLE001 — same parity as poll()
            # a corrupt/half-written file in the landing zone must emit
            # an error verdict, not crash every subsequent --follow poll
            return [{"poll": poll_idx, "error": str(e),
                     "folded": dict(prev_fold), "delta": {},
                     "new_files": [], "removed_files": [],
                     "unevaluated": [], "data_change": False}]
        numeric_fold = {k: v for k, v in r["folded"].items()
                        if isinstance(v, (int, float))}
        if not r["new_files"] and not r["removed_files"]:
            # crash recovery: the file manifest advanced but the tailer
            # state did not (died between iv.run's manifest append and
            # our _save_state) — the fold mismatch re-emits the lost
            # batch's verdict as a catch-up delta instead of dropping it
            caught_up = all(prev_fold.get(k, 0) == v
                            for k, v in numeric_fold.items())
            if caught_up or not r["files"]:
                return []
        delta = {k: v - prev_fold.get(k, 0)
                 for k, v in numeric_fold.items()}
        out = {"poll": poll_idx, "folded": dict(r["folded"]),
               "delta": delta, "new_files": r["new_files"],
               "removed_files": r["removed_files"],
               "unevaluated": r["unevaluated"], "schema": r["schema"],
               "data_change": True}
        state["validated"].append(poll_idx)
        state["last_fold"] = dict(numeric_fold)
        self._save_state(model, state)
        return [out]

    def poll_delta(self, table_path: str, specs: List[CheckSpec],
                   model: str) -> List[Dict[str, Any]]:
        """The Delta twin of :meth:`poll`: each unvalidated log VERSION
        gets an in-order per-version verdict with cumulative fold + delta.
        The commit log is the offset log; rewrites/compactions drop files
        from the fold (their rows leave the cumulative counts, so a
        version's delta can be negative — e.g. OPTIMIZE after a DV
        delete). State file is shared-shape with the Iceberg tailer."""
        from datacontract_cli_spark.sources.delta_table import (
            commit_data_change,
            delta_versions,
        )

        return self._tail(
            model, "delta_version", delta_versions(table_path),
            lambda ver: self.iv.run_delta(table_path, specs, model,
                                          version=ver),
            lambda ver: commit_data_change(table_path, ver))
