"""Pure-Python Iceberg table support (no iceberg-spark runtime jar).

The north-star input is "an Iceberg table of multi-turn transcripts"; this
sandbox has neither the iceberg-spark runtime nor pyiceberg, but Iceberg's
METADATA plane is just JSON + Avro — formats this repo already speaks
(:mod:`datacontract_cli_spark.sources.avro_ocf`). This module plans scans
exactly the way Iceberg itself does:

``metadata/version-hint.text`` → ``v{N}.metadata.json`` → current (or
time-travel) snapshot → manifest-list (Avro OCF) → manifest files (Avro
OCF) → live data-file entries (status != DELETED) → pruned parquet paths
→ ``spark.read.schema(...).parquet(*paths)``.

Scale notes (10^12-turn table):
- Planning is metadata-bound, not data-bound — manifests are KB–MB files
  summarizing thousands of data files each; this is the same driver-side
  planning the real Iceberg DataSource performs. Manifest reads fan out
  over a thread pool (I/O bound).
- Partition pruning happens at TWO levels, mirroring Iceberg: manifest
  level via ``partitions`` field summaries (skip whole manifests), then
  file level via identity/truncate/bucket partition values and per-file
  column lower/upper bounds (Appendix D single-value serialization).
  Bucket pruning uses the spec-exact Murmur3 bucket function
  (:mod:`datacontract_cli_spark.sources.iceberg_transforms`) so it is
  correct against tables written by any Iceberg engine; the monotonic
  transforms (truncate and year/month/day/hour) additionally prune RANGE
  predicates — ``ts >= X`` keeps only partitions with
  ``day(partition) >= day(X)`` — which is the access pattern that makes
  ``day(ts)`` the canonical layout for time-ordered transcript tables.
- The data plane is untouched Spark: explicit file list + explicit schema,
  so Catalyst still gets parquet predicate pushdown and column pruning
  inside each file.

Row-level deletes (v2 merge-on-read: positional and equality delete
files) are applied at read time via broadcast left-anti joins with
spec-exact sequence-number scoping — see :func:`_apply_mor_deletes`.
Schema evolution resolves columns by FIELD ID (the Iceberg contract):
each data file is read with the schema current when it was written, then
projected to the table's current schema — renames map by id, added
columns backfill null, drops disappear, int→long / float→double
promotions cast.

The writer half produces spec-shaped v2 table layouts (deterministic
snapshot ids / sequence numbers) so contracts, fixtures and the oracle
gate can exercise the reader without any Iceberg runtime; reference
parity: datacontract/imports/iceberg_importer.py (schema JSON),
engines/datacontract/check_that_datacontract_contains_valid_servers (the
reference reads Iceberg through pyiceberg's identical planning walk).
"""

from __future__ import annotations

import glob
import json
import os
import struct
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacontract_cli_spark.sources.avro_ocf import read_ocf

STATUS_DELETED = 2
CONTENT_DATA = 0
CONTENT_POS_DELETES = 1
CONTENT_EQ_DELETES = 2


# ---------------------------------------------------------------------------
# metadata discovery
# ---------------------------------------------------------------------------

def _strip_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file:"):].replace("///", "/", 1) \
            if path.startswith("file:///") else path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def load_table_metadata(table_path: str) -> Dict[str, Any]:
    """Resolve the current metadata JSON of a Hadoop-layout Iceberg table:
    ``version-hint.text`` when present, else the highest-versioned
    ``*.metadata.json`` in ``metadata/``."""
    meta_dir = os.path.join(_strip_scheme(table_path), "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        cand = os.path.join(meta_dir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            with open(cand) as f:
                return json.load(f)
    files = sorted(glob.glob(os.path.join(meta_dir, "*.metadata.json")))
    if not files:
        raise FileNotFoundError(
            f"no Iceberg metadata under {meta_dir!r} "
            "(expected vN.metadata.json or NNNNN-uuid.metadata.json)")

    def _version(p: str) -> Tuple[int, str]:
        base = os.path.basename(p)
        head = base.split(".", 1)[0].lstrip("v").split("-", 1)[0]
        return (int(head) if head.isdigit() else -1, base)

    with open(max(files, key=_version)) as f:
        return json.load(f)


def _select_snapshot(meta: Dict[str, Any],
                     snapshot_id: Optional[int]) -> Optional[Dict[str, Any]]:
    snaps = meta.get("snapshots") or []
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            return None  # empty table, no snapshot yet
    for s in snaps:
        if s.get("snapshot-id") == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not found "
                     f"(have {[s.get('snapshot-id') for s in snaps]})")


def _rebase(path: str, recorded_location: str, actual_root: str) -> str:
    """Metadata stores absolute URIs from write time; tables get moved
    (fixtures, test dirs). Rebase any recorded-location prefix onto the
    directory the table actually lives in now."""
    p = _strip_scheme(path)
    rec = _strip_scheme(recorded_location or "").rstrip("/")
    root = _strip_scheme(actual_root).rstrip("/")
    if rec and p.startswith(rec + "/"):
        return root + p[len(rec):]
    if not os.path.isabs(p):
        return os.path.join(root, p)
    return p


# ---------------------------------------------------------------------------
# Iceberg schema JSON -> Spark StructType
# ---------------------------------------------------------------------------

def _iceberg_to_spark_type(t: Any) -> T.DataType:
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return T.StructType([
                T.StructField(f["name"], _iceberg_to_spark_type(f["type"]),
                              not f.get("required", False))
                for f in t.get("fields", [])])
        if kind == "list":
            return T.ArrayType(_iceberg_to_spark_type(t["element"]),
                               not t.get("element-required", False))
        if kind == "map":
            return T.MapType(_iceberg_to_spark_type(t["key"]),
                             _iceberg_to_spark_type(t["value"]),
                             not t.get("value-required", False))
        raise ValueError(f"unsupported Iceberg complex type: {t!r}")
    s = str(t)
    if s.startswith("decimal("):
        p, sc = s[len("decimal("):-1].split(",")
        return T.DecimalType(int(p), int(sc))
    if s.startswith("fixed["):
        return T.BinaryType()
    prim = {"boolean": T.BooleanType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "date": T.DateType(),
            "timestamp": T.TimestampNTZType(),
            "timestamptz": T.TimestampType(),
            "string": T.StringType(), "uuid": T.StringType(),
            "binary": T.BinaryType(),
            "time": T.LongType()}  # time-of-day: micros since midnight
    if s not in prim:
        raise ValueError(f"unsupported Iceberg type: {s!r}")
    return prim[s]


def _schema_dict(meta: Dict[str, Any],
                 schema_id: Optional[int] = None) -> Dict[str, Any]:
    """The schema dict for ``schema_id`` (default: the current schema)."""
    sid = meta.get("current-schema-id", 0) if schema_id is None \
        else schema_id
    schemas = meta.get("schemas")
    if schemas:
        return next((s for s in schemas if s.get("schema-id") == sid),
                    schemas[-1])
    return meta["schema"]  # v1 inline schema


def schema_struct(meta: Dict[str, Any],
                  schema_id: Optional[int] = None) -> T.StructType:
    sch = _schema_dict(meta, schema_id)
    return _iceberg_to_spark_type(
        {"type": "struct", "fields": sch["fields"]})


def _schema_id_by_snapshot(meta: Dict[str, Any]) -> Dict[Any, int]:
    return {s.get("snapshot-id"): s.get("schema-id", 0)
            for s in meta.get("snapshots", [])}


def _entry_schema_id(meta: Dict[str, Any], entry: Dict[str, Any],
                     sid_by_snap: Optional[Dict[Any, int]] = None) -> int:
    """The schema id a manifest entry's data file was written under —
    resolved through the snapshot that added it (Iceberg records
    ``schema-id`` per snapshot; files never change schema after write).
    Callers iterating many entries pass a prebuilt ``sid_by_snap`` so
    planning stays O(entries + snapshots), not O(entries × snapshots)."""
    if sid_by_snap is None:
        sid_by_snap = _schema_id_by_snapshot(meta)
    return sid_by_snap.get(entry.get("snapshot_id"),
                           meta.get("current-schema-id", 0))


def _project_to_schema(df: DataFrame, write_sch: Dict[str, Any],
                       cur_sch: Dict[str, Any],
                       extra_cols: Sequence[str] = ()) -> DataFrame:
    """Field-id projection from a file's write-time schema to the current
    schema: same id under a new name → rename; id absent from the file →
    null backfill; type changed (int→long / float→double promotion) →
    cast. Pure column expressions — Catalyst still prunes and pushes
    down into the parquet scan underneath. ``extra_cols`` (e.g. row
    position helpers) pass through unchanged."""
    by_id = {f["id"]: f for f in write_sch.get("fields", [])}
    cols = []
    for f in cur_sch.get("fields", []):
        cur_t = _iceberg_to_spark_type(f["type"])
        w = by_id.get(f["id"])
        if w is None:
            cols.append(F.lit(None).cast(cur_t).alias(f["name"]))
        elif w["name"] == f["name"] and w["type"] == f["type"]:
            cols.append(F.col(w["name"]))
        else:
            cols.append(F.col(w["name"]).cast(cur_t).alias(f["name"]))
    return df.select(*cols, *[F.col(c) for c in extra_cols])


# ---------------------------------------------------------------------------
# Appendix-D single-value (de)serialization for bounds
# ---------------------------------------------------------------------------

def encode_bound(type_str: str, value: Any) -> Optional[bytes]:
    if value is None:
        return None
    s = str(type_str)
    if s == "boolean":
        return b"\x01" if value else b"\x00"
    if s in ("int", "date"):
        return struct.pack("<i", int(value))
    if s in ("long", "timestamp", "timestamptz", "time"):
        return struct.pack("<q", int(value))
    if s == "float":
        return struct.pack("<f", float(value))
    if s == "double":
        return struct.pack("<d", float(value))
    if s == "string":
        return str(value).encode("utf-8")
    if s == "uuid":
        # spec Appendix D: uuid bounds are the 16 raw big-endian bytes,
        # not the hyphenated string
        from .iceberg_transforms import uuid_bytes
        return uuid_bytes(value)
    if s == "binary" or s.startswith("fixed["):
        return bytes(value)
    if s.startswith("decimal("):
        # minimal two's-complement (Java BigInteger.toByteArray parity)
        from .iceberg_transforms import min_twos_complement
        return min_twos_complement(int(value))
    return None  # unknown: no bound (never wrong, just unpruned)


def decode_bound(type_str: str, data: Optional[bytes]) -> Any:
    if data is None:
        return None
    s = str(type_str)
    if s == "boolean":
        return data == b"\x01"
    if s in ("int", "date"):
        return struct.unpack("<i", data)[0]
    if s in ("long", "timestamp", "timestamptz", "time"):
        return struct.unpack("<q", data)[0]
    if s == "float":
        return struct.unpack("<f", data)[0]
    if s == "double":
        return struct.unpack("<d", data)[0]
    if s == "string":
        return data.decode("utf-8", errors="replace")
    if s == "uuid":
        import uuid as _uuid
        return str(_uuid.UUID(bytes=data))
    if s == "binary" or s.startswith("fixed["):
        return data
    if s.startswith("decimal("):
        return int.from_bytes(data, "big", signed=True)
    return None


# ---------------------------------------------------------------------------
# predicate pruning
# ---------------------------------------------------------------------------

_OPS = ("=", "<", "<=", ">", ">=", "in")


def _range_may_match(lo: Any, hi: Any, op: str, value: Any) -> bool:
    """Can any x in [lo, hi] satisfy (x op value)? None bound = unknown."""
    try:
        if op == "=":
            return ((lo is None or lo <= value)
                    and (hi is None or value <= hi))
        if op == "in":
            return any(_range_may_match(lo, hi, "=", v) for v in value)
        if op == "<":
            return lo is None or lo < value
        if op == "<=":
            return lo is None or lo <= value
        if op == ">":
            return hi is None or hi > value
        if op == ">=":
            return hi is None or hi >= value
    except TypeError:
        return True  # incomparable types: keep the file
    return True


def _identity_value_matches(part_value: Any, op: str, value: Any) -> bool:
    if part_value is None:
        return True  # null partition: only residual filter can decide
    try:
        if op == "=":
            return part_value == value
        if op == "in":
            return part_value in value
        if op == "<":
            return part_value < value
        if op == "<=":
            return part_value <= value
        if op == ">":
            return part_value > value
        if op == ">=":
            return part_value >= value
    except TypeError:
        return True
    return True


def _truncate(w: int, value: Any) -> Any:
    if isinstance(value, bool):
        return None  # not a truncatable type
    if isinstance(value, str):
        return value[:w]
    if isinstance(value, int):
        return value - (value % w)
    return None  # decimal/other: no pruning (correct, unpruned)


def _monotonic_value_matches(pv: Any, op: str, tvals: List[Any]) -> bool:
    """Can a row in partition ``pv`` satisfy (x op val), where ``tvals``
    are the TRANSFORMED filter values of a monotonic (non-decreasing)
    transform (truncate / year / month / day / hour)? Monotonicity gives:
    x < val ⇒ t(x) <= t(val) and x > val ⇒ t(x) >= t(val), so range
    predicates prune by comparing partition values directly."""
    if pv is None or not tvals or any(t is None for t in tvals):
        return True  # null partition / untransformable value: keep
    try:
        if op == "=":
            return pv == tvals[0]
        if op == "in":
            return pv in tvals
        if op in ("<", "<="):
            return pv <= tvals[0]
        if op in (">", ">="):
            return pv >= tvals[0]
    except TypeError:
        return True
    return True


_RELAXED_OP = {"<": "<=", ">": ">=", "<=": "<=", ">=": ">=",
               "=": "=", "in": "in"}


class _Planner:
    def __init__(self, meta: Dict[str, Any], table_path: str):
        self.meta = meta
        self.root = _strip_scheme(table_path)
        self.location = meta.get("location", "")
        if meta.get("schemas"):
            sid = meta.get("current-schema-id", 0)
            sch = next((s for s in meta["schemas"]
                        if s.get("schema-id") == sid), meta["schemas"][-1])
        else:  # v1 inline schema
            sch = meta.get("schema", {"fields": []})
        self.fields_by_id = {f["id"]: f for f in sch.get("fields", [])}
        self.id_by_name = {f["name"]: fid
                           for fid, f in self.fields_by_id.items()}
        specs = meta.get("partition-specs") or (
            [{"spec-id": 0, "fields": meta.get("partition-spec", [])}])
        self.specs = {s["spec-id"]: s.get("fields", []) for s in specs}

    # -- manifest-level pruning ------------------------------------------
    def _manifest_may_match(self, mf: Dict[str, Any],
                            filters: Sequence[Tuple[str, str, Any]]) -> bool:
        summaries = mf.get("partitions")
        if not summaries or not filters:
            return True
        spec = self.specs.get(mf.get("partition_spec_id", 0), [])
        for i, pf in enumerate(spec):
            if i >= len(summaries):
                continue
            src = self.fields_by_id.get(pf.get("source-id"))
            if src is None:
                continue
            col, typ = src["name"], src["type"]
            transform = pf.get("transform", "identity")
            if transform == "identity":
                lo = decode_bound(typ, summaries[i].get("lower_bound"))
                hi = decode_bound(typ, summaries[i].get("upper_bound"))
                for (fcol, op, val) in filters:
                    if fcol == col and not (
                            summaries[i].get("contains_null") and op == "=") \
                            and not _range_may_match(lo, hi, op, val):
                        return False
            elif transform.startswith("bucket["):
                # equality filters prune by the spec bucket of the value
                # (a null source row can never satisfy = / in, so bucket
                # bounds alone decide)
                from datacontract_cli_spark.sources.iceberg_transforms \
                    import bucket_value

                nb = int(transform[len("bucket["):-1])
                lo = decode_bound("int", summaries[i].get("lower_bound"))
                hi = decode_bound("int", summaries[i].get("upper_bound"))
                for (fcol, op, val) in filters:
                    if fcol != col or op not in ("=", "in"):
                        continue
                    vals = list(val) if op == "in" else [val]
                    buckets = [bucket_value(v, nb, typ) for v in vals]
                    if not any(_range_may_match(lo, hi, "=", b)
                               for b in buckets):
                        return False
            elif (transform in ("year", "month", "day", "hour")
                  or transform.startswith("truncate[")):
                # monotonic transforms: partition-value bounds prune range
                # predicates too, with < / > relaxed to <= / >= (x < val
                # only implies t(x) <= t(val))
                if transform.startswith("truncate["):
                    w = int(transform[len("truncate["):-1])
                    tx = lambda v: _truncate(w, v)  # noqa: E731
                    btyp = typ
                else:
                    from datacontract_cli_spark.sources \
                        .iceberg_transforms import temporal_value
                    tx = lambda v: temporal_value(v, transform, typ)  # noqa: E731,B023
                    btyp = "int"
                lo = decode_bound(btyp, summaries[i].get("lower_bound"))
                hi = decode_bound(btyp, summaries[i].get("upper_bound"))
                for (fcol, op, val) in filters:
                    if fcol != col:
                        continue
                    vals = list(val) if op == "in" else [val]
                    try:
                        tvals = [tx(v) for v in vals]
                    except ValueError:
                        continue
                    if any(t is None for t in tvals):
                        continue
                    rop = _RELAXED_OP[op]
                    if rop == "in":
                        if not any(_range_may_match(lo, hi, "=", t)
                                   for t in tvals):
                            return False
                    elif not _range_may_match(lo, hi, rop, tvals[0]):
                        return False
        return True

    # -- file-level pruning ----------------------------------------------
    def _file_may_match(self, entry: Dict[str, Any], spec_id: int,
                        filters: Sequence[Tuple[str, str, Any]]) -> bool:
        df_ = entry["data_file"]
        part = df_.get("partition") or {}
        spec = self.specs.get(spec_id, [])
        part_cols: Dict[str, Tuple[str, Any, Any]] = {}
        for pf in spec:
            src = self.fields_by_id.get(pf.get("source-id"))
            if src is None:
                continue
            part_cols[src["name"]] = (pf.get("transform", "identity"),
                                      part.get(pf.get("name", src["name"])),
                                      src["type"])
        lowers = {b["key"]: b["value"] for b in (df_.get("lower_bounds") or [])}
        uppers = {b["key"]: b["value"] for b in (df_.get("upper_bounds") or [])}
        for (col, op, val) in filters:
            # partition transform pruning
            if col in part_cols:
                transform, pv, styp = part_cols[col]
                if transform == "identity":
                    if not _identity_value_matches(pv, op, val):
                        return False
                elif transform.startswith("truncate["):
                    # truncate is monotonic: range ops prune too
                    w = int(transform[len("truncate["):-1])
                    vals = list(val) if op == "in" else [val]
                    if not _monotonic_value_matches(
                            pv, op, [_truncate(w, v) for v in vals]):
                        return False
                elif transform in ("year", "month", "day", "hour"):
                    from datacontract_cli_spark.sources.iceberg_transforms \
                        import temporal_value

                    vals = list(val) if op == "in" else [val]
                    try:
                        tvals = [temporal_value(v, transform, styp)
                                 for v in vals]
                    except ValueError:
                        tvals = []  # untransformable filter value: keep
                    if not _monotonic_value_matches(pv, op, tvals):
                        return False
                elif transform.startswith("bucket[") and op in ("=", "in"):
                    from datacontract_cli_spark.sources.iceberg_transforms \
                        import bucket_value

                    nb = int(transform[len("bucket["):-1])
                    vals = list(val) if op == "in" else [val]
                    if pv is not None and all(
                            bucket_value(v, nb, styp) != pv for v in vals):
                        return False
            # column-stats pruning
            fid = self.id_by_name.get(col)
            if fid is not None and (fid in lowers or fid in uppers):
                typ = self.fields_by_id[fid]["type"]
                try:
                    lo = decode_bound(typ, lowers.get(fid))
                    hi = decode_bound(typ, uppers.get(fid))
                except (struct.error, ValueError):
                    # bounds written under a pre-promotion type (e.g. a
                    # 4-byte int bound on a now-long column): keep the file
                    continue
                if not _range_may_match(lo, hi, op, val):
                    return False
        return True

    def plan_files(self, snapshot: Dict[str, Any],
                   filters: Sequence[Tuple[str, str, Any]] = (),
                   with_deletes: bool = False):
        """Live, pruned data-file entries for a snapshot. Mirrors Iceberg
        scan planning: manifest list -> per-manifest summary pruning ->
        parallel manifest reads -> entry status + stats pruning.

        ``with_deletes=True`` additionally reads content=1 (delete)
        manifests and returns ``(data_entries, delete_entries)`` — the
        merge-on-read planning surface. Delete entries are NEVER pruned by
        query filters: a pruned delete file would resurrect deleted rows
        (the query predicate bounds the rows you see, not the deletes
        that apply to them)."""
        ml = snapshot.get("manifest-list")
        if ml:
            _, manifests = read_ocf(_rebase(ml, self.location, self.root))
        else:  # ancient v1: inline manifests
            manifests = [{"manifest_path": p, "content": 0}
                         for p in snapshot.get("manifests", [])]
        delete_manifests = [mf for mf in manifests
                            if mf.get("content", 0) == 1]
        if delete_manifests and not with_deletes:
            raise NotImplementedError(
                "Iceberg v2 row-level DELETE manifests present; this "
                "planning surface supports copy-on-write tables only "
                "(read_iceberg applies merge-on-read deletes)")
        manifests = [mf for mf in manifests if mf.get("content", 0) == 0
                     and self._manifest_may_match(mf, filters)]

        def _read_manifest(mf: Dict[str, Any]) -> List[Dict[str, Any]]:
            path = _rebase(mf["manifest_path"], self.location, self.root)
            _, entries = read_ocf(path)
            spec_id = mf.get("partition_spec_id", 0)
            out = []
            for e in entries:
                if e.get("status") == STATUS_DELETED:
                    continue
                if e["data_file"].get("content", CONTENT_DATA) != CONTENT_DATA:
                    raise NotImplementedError(
                        "delete file entry inside a content=0 manifest")
                if e.get("sequence_number") is None:
                    # spec: null entry sequence number inherits the
                    # manifest's (needed for MoR delete scoping)
                    e["sequence_number"] = mf.get("sequence_number", 0)
                if e.get("snapshot_id") is None:
                    # spec: ADDED entries written by real engines leave
                    # snapshot_id null, inherited from the manifest's
                    # added_snapshot_id — without this, schema-id
                    # resolution falls back to the CURRENT schema and a
                    # renamed column reads all-NULL from old files
                    e["snapshot_id"] = mf.get("added_snapshot_id")
                if self._file_may_match(e, spec_id, filters):
                    e["_spec_id"] = spec_id
                    out.append(e)
            return out

        if len(manifests) <= 1:
            chunks = [_read_manifest(mf) for mf in manifests]
        else:
            with ThreadPoolExecutor(max_workers=min(8, len(manifests))) as ex:
                chunks = list(ex.map(_read_manifest, manifests))
        data_entries = [e for chunk in chunks for e in chunk]
        if not with_deletes:
            return data_entries

        delete_entries: List[Dict[str, Any]] = []
        for mf in delete_manifests:
            path = _rebase(mf["manifest_path"], self.location, self.root)
            _, entries = read_ocf(path)
            for e in entries:
                if e.get("status") == STATUS_DELETED:
                    continue
                if e.get("sequence_number") is None:
                    # inherited from the manifest per spec
                    e["sequence_number"] = mf.get("sequence_number", 0)
                if e.get("snapshot_id") is None:
                    e["snapshot_id"] = mf.get("added_snapshot_id")
                delete_entries.append(e)
        return data_entries, delete_entries


def plan_scan_entries(table_path: str, snapshot_id: Optional[int] = None,
                      filters: Sequence[Tuple[str, str, Any]] = ()
                      ) -> Tuple[Dict[str, Any], List[Dict[str, Any]]]:
    """(metadata, pruned live manifest entries) with data_file paths
    rebased to the actual table root — the planning surface for
    incremental validation (per-file sizes/record counts come along)."""
    meta = load_table_metadata(table_path)
    snap = _select_snapshot(meta, snapshot_id)
    if snap is None:
        return meta, []
    planner = _Planner(meta, table_path)
    entries = planner.plan_files(snap, filters)
    root = _strip_scheme(table_path)
    loc = meta.get("location", "")
    for e in entries:
        d = e["data_file"]
        fmt = str(d.get("file_format", "PARQUET")).upper()
        if fmt != "PARQUET":
            raise NotImplementedError(f"Iceberg {fmt} data files unsupported")
        d["file_path"] = _rebase(d["file_path"], loc, root)
    return meta, entries


def plan_scan_with_deletes(table_path: str,
                           snapshot_id: Optional[int] = None,
                           filters: Sequence[Tuple[str, str, Any]] = ()):
    """(metadata, data_entries, delete_entries) — the merge-on-read
    planning surface. Paths in both entry lists are rebased to the actual
    table root."""
    meta = load_table_metadata(table_path)
    snap = _select_snapshot(meta, snapshot_id)
    if snap is None:
        return meta, [], []
    planner = _Planner(meta, table_path)
    data_entries, delete_entries = planner.plan_files(snap, filters,
                                                      with_deletes=True)
    root = _strip_scheme(table_path)
    loc = meta.get("location", "")
    for e in data_entries + delete_entries:
        d = e["data_file"]
        fmt = str(d.get("file_format", "PARQUET")).upper()
        if fmt != "PARQUET":
            raise NotImplementedError(f"Iceberg {fmt} files unsupported")
        d["file_path"] = _rebase(d["file_path"], loc, root)
    return meta, data_entries, delete_entries


def _decoded_file_path() -> Column:
    """``_metadata.file_path`` as a RAW filesystem path: scheme stripped
    and percent-decoding applied (the metadata column is a URI — space is
    %20 — while manifests/delete files record raw paths; joining the two
    must agree). Literal '+' is shielded first because url_decode does
    form decoding ('+' → space)."""
    return F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
        r"\+", "%2B"))


def _rebase_pathcol(df: DataFrame, col: str, location: str,
                    root: str) -> DataFrame:
    """Normalize a parquet-recorded file-path column: strip any file:
    scheme, then rebase the table's recorded location prefix onto the
    directory the table actually lives in now (mirrors :func:`_rebase`,
    but as a Column expression over positional-delete rows)."""
    c = F.regexp_replace(F.col(col), "^file:(//)?", "")
    rec = _strip_scheme(location or "").rstrip("/")
    actual = _strip_scheme(root).rstrip("/")
    if rec and rec != actual:
        c = F.when(
            c.startswith(rec + "/"),
            F.concat(F.lit(actual), F.substring(c, len(rec) + 1, 1 << 30))
        ).otherwise(c)
    return df.withColumn(col, c)


def _apply_mor_deletes(spark: SparkSession, meta: Dict[str, Any],
                       data_entries: List[Dict[str, Any]],
                       delete_entries: List[Dict[str, Any]],
                       location: str, root: str,
                       keep_position: bool = False) -> DataFrame:
    """Merge-on-read: scan data files and anti-join away deleted rows.

    Spark-first design (scales to 10^12 rows): the data side is never
    shuffled — positional deletes join on the hidden
    (``_metadata.file_path``, ``_metadata.row_index``) pair and equality
    deletes on their key columns, both via **broadcast left-anti joins**
    (delete files are a tiny fraction of the table; Spark's own Iceberg
    source applies them the same way, as does Delta's deletion-vector
    read path). Sequence-number scoping per the Iceberg spec: a
    positional delete applies to data files with seq <= delete seq, an
    equality delete only to STRICTLY older data files — implemented by
    grouping data files by their applicable delete-file set (driver-side,
    O(files), same as Iceberg's planner) so each group is one clean scan
    and appended-after rows never anti-join against older deletes."""
    def _seq(e) -> int:
        return e.get("sequence_number") or 0

    pos = [e for e in delete_entries
           if e["data_file"].get("content") == CONTENT_POS_DELETES]
    eq = [e for e in delete_entries
          if e["data_file"].get("content") == CONTENT_EQ_DELETES]
    cur_sch = _schema_dict(meta)
    cur_sid = meta.get("current-schema-id", 0)
    sid_by_snap = _schema_id_by_snapshot(meta)

    groups: Dict[Tuple, List[str]] = {}
    for e in data_entries:
        dseq = _seq(e)
        pk = tuple(sorted(p["data_file"]["file_path"] for p in pos
                          if _seq(p) >= dseq))
        ek = tuple(sorted(
            (q["data_file"]["file_path"],
             tuple(q["data_file"].get("equality_ids") or ()),
             _entry_schema_id(meta, q, sid_by_snap))
            for q in eq if _seq(q) > dseq))
        wsid = _entry_schema_id(meta, e, sid_by_snap)
        groups.setdefault((pk, ek, wsid), []).append(
            e["data_file"]["file_path"])

    parts: List[DataFrame] = []
    for (pk, ek, wsid), paths in sorted(groups.items()):
        write_sch = _schema_dict(meta, wsid)
        data_name_by_id = {f["id"]: f["name"]
                           for f in write_sch.get("fields", [])}
        df = spark.read.schema(
            _iceberg_to_spark_type(
                {"type": "struct",
                 "fields": write_sch["fields"]})).parquet(*paths)
        if pk or keep_position:
            df = (df
                  .withColumn("__icb_file", _decoded_file_path())
                  .withColumn("__icb_pos", F.col("_metadata.row_index")))
        if pk:
            dels = spark.read.parquet(*pk).select("file_path", "pos")
            dels = _rebase_pathcol(dels, "file_path", location, root)
            df = df.join(
                F.broadcast(dels),
                (df["__icb_file"] == dels["file_path"])
                & (df["__icb_pos"] == dels["pos"]),
                "left_anti")
            if not keep_position:
                df = df.drop("__icb_file", "__icb_pos")
        if ek:
            by_ids: Dict[Tuple[Tuple[int, ...], int], List[str]] = {}
            for (path, ids, del_sid) in ek:
                if not ids:
                    raise NotImplementedError(
                        "equality delete file without equality_ids")
                by_ids.setdefault((ids, del_sid), []).append(path)
            for (ids, del_sid), epaths in sorted(by_ids.items()):
                # join on the DATA side's write-time names; the delete
                # parquet's columns carry the names current when the
                # delete committed — field ids reconcile both.
                del_name_by_id = {
                    f["id"]: f["name"]
                    for f in _schema_dict(meta, del_sid).get("fields", [])}
                try:
                    cols = [data_name_by_id[fid] for fid in ids]
                    del_cols = [del_name_by_id[fid] for fid in ids]
                except KeyError as exc:
                    raise ValueError(
                        f"equality delete field id {exc} not in the "
                        "data file's or delete file's schema") from None
                dels = (spark.read.parquet(*epaths)
                        .select(*[F.col(dc).alias(c)
                                  for dc, c in zip(del_cols, cols)])
                        .dropDuplicates())
                cond = None
                for c in cols:
                    e_ = df[c].eqNullSafe(dels[c])
                    cond = e_ if cond is None else (cond & e_)
                df = df.join(F.broadcast(dels), cond, "left_anti")
        if wsid != cur_sid or write_sch is not cur_sch:
            df = _project_to_schema(
                df, write_sch, cur_sch,
                extra_cols=("__icb_file", "__icb_pos")
                if keep_position else ())
        parts.append(df)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_iceberg(spark: SparkSession, table_path: str,
                 snapshot_id: Optional[int] = None,
                 filters: Sequence[Tuple[str, str, Any]] = (),
                 with_position: bool = False) -> DataFrame:
    """Scan an Iceberg table (optionally time-travelled to ``snapshot_id``)
    into a DataFrame. ``filters`` — (column, op, value) with op in
    ``= < <= > >= in`` — prune manifests and files, then are RE-APPLIED to
    the DataFrame so results are exact regardless of pruning coverage.
    Merge-on-read tables (v2 positional/equality delete files) are applied
    via broadcast anti-joins — see :func:`_apply_mor_deletes`.
    ``with_position=True`` appends ``__icb_file`` / ``__icb_pos`` columns
    (the row's data file and ordinal) — the handle row-level DELETE and
    quarantine commits address rows by."""
    meta, data_entries, delete_entries = plan_scan_with_deletes(
        table_path, snapshot_id, filters)
    st = schema_struct(meta)
    if with_position:
        st = T.StructType(list(st.fields) + [
            T.StructField("__icb_file", T.StringType(), True),
            T.StructField("__icb_pos", T.LongType(), True)])
    paths = [e["data_file"]["file_path"] for e in data_entries]
    if not paths:
        df = spark.createDataFrame([], st)
    elif delete_entries:
        df = _apply_mor_deletes(spark, meta, data_entries,
                                delete_entries, meta.get("location", ""),
                                _strip_scheme(table_path),
                                keep_position=with_position)
    else:
        # group files by write-time schema (field-id evolution): each
        # group is one clean parquet scan projected to the current schema
        cur_sid = meta.get("current-schema-id", 0)
        sid_by_snap = _schema_id_by_snapshot(meta)
        by_sid: Dict[int, List[str]] = {}
        for e in data_entries:
            by_sid.setdefault(
                _entry_schema_id(meta, e, sid_by_snap), []).append(
                e["data_file"]["file_path"])
        parts = []
        cur_sch = _schema_dict(meta)
        for wsid, ps in sorted(by_sid.items()):
            part = spark.read.schema(schema_struct(meta, wsid)).parquet(*ps)
            if with_position:
                part = (part
                        .withColumn("__icb_file", _decoded_file_path())
                        .withColumn("__icb_pos",
                                    F.col("_metadata.row_index")))
            if wsid != cur_sid:
                part = _project_to_schema(
                    part, _schema_dict(meta, wsid), cur_sch,
                    extra_cols=("__icb_file", "__icb_pos")
                    if with_position else ())
            parts.append(part)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
    for (col, op, val) in filters:
        c = F.col(col)
        if op == "=":
            df = df.filter(c == F.lit(val))
        elif op == "in":
            df = df.filter(c.isin(list(val)))
        elif op == "<":
            df = df.filter(c < F.lit(val))
        elif op == "<=":
            df = df.filter(c <= F.lit(val))
        elif op == ">":
            df = df.filter(c > F.lit(val))
        elif op == ">=":
            df = df.filter(c >= F.lit(val))
        else:
            raise ValueError(f"unsupported filter op {op!r} (use {_OPS})")
    return df


def snapshots(table_path: str) -> List[Dict[str, Any]]:
    """Snapshot log (id, sequence number, timestamp, summary) — the
    time-travel surface for table_diff across versions."""
    meta = load_table_metadata(table_path)
    return [{"snapshot_id": s.get("snapshot-id"),
             "sequence_number": s.get("sequence-number", 0),
             "timestamp_ms": s.get("timestamp-ms", 0),
             "operation": (s.get("summary") or {}).get("operation"),
             "is_current": s.get("snapshot-id")
             == meta.get("current-snapshot-id")}
            for s in meta.get("snapshots", [])]
