"""Iceberg v2 table WRITER (pure Python, fixture/test scale).

Produces a spec-shaped Hadoop-layout Iceberg table — parquet data files
plus the full metadata plane (manifest Avro, manifest-list Avro,
``vN.metadata.json``, ``version-hint.text``) — so the pure-Python reader
(:mod:`datacontract_cli_spark.sources.iceberg_table`), contract servers
and the oracle gate can exercise real Iceberg planning without the
iceberg-spark runtime jar.

Deliberately test-scale in ONE place: partition groups are enumerated
driver-side (``collect()`` of distinct partition tuples) because Spark's
``partitionBy`` writer drops partition columns from the data files while
Iceberg keeps full rows. At production scale writing goes through the real
Iceberg committer; READING (the engine's job) has no such limit.

Everything is deterministic — snapshot ids and sequence numbers count up
from 1, Avro sync markers derive from content — so fixtures are
byte-stable across runs. Per-file column bounds come from the parquet
footers (pyarrow), giving the reader's stats pruning real data to chew on.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacontract_cli_spark.sources.avro_ocf import write_ocf
from datacontract_cli_spark.sources.iceberg_table import (
    _strip_scheme,
    encode_bound,
    load_table_metadata,
)
from datacontract_cli_spark.sources.avro_ocf import read_ocf

_PARTITION_FIELD_ID_START = 1000


# ---------------------------------------------------------------------------
# Spark -> Iceberg schema JSON (with field ids)
# ---------------------------------------------------------------------------

def _spark_to_iceberg_type(dt: T.DataType, next_id: List[int]) -> Any:
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append({"id": fid, "name": f.name,
                           "required": not f.nullable,
                           "type": _spark_to_iceberg_type(f.dataType,
                                                          next_id)})
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {"type": "list", "element-id": eid,
                "element-required": not dt.containsNull,
                "element": _spark_to_iceberg_type(dt.elementType, next_id)}
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {"type": "map", "key-id": kid, "value-id": vid,
                "value-required": not dt.valueContainsNull,
                "key": _spark_to_iceberg_type(dt.keyType, next_id),
                "value": _spark_to_iceberg_type(dt.valueType, next_id)}
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    mapping = {T.BooleanType: "boolean", T.IntegerType: "int",
               T.ShortType: "int", T.ByteType: "int",
               T.LongType: "long", T.FloatType: "float",
               T.DoubleType: "double", T.DateType: "date",
               T.TimestampType: "timestamptz",
               T.TimestampNTZType: "timestamp",
               T.StringType: "string", T.BinaryType: "binary"}
    for k, v in mapping.items():
        if isinstance(dt, k):
            return v
    raise ValueError(f"cannot map Spark type {dt} to Iceberg")


def _iceberg_schema_json(df: DataFrame) -> Tuple[Dict[str, Any], int]:
    counter = [1]
    struct = _spark_to_iceberg_type(df.schema, counter)
    return ({"type": "struct", "schema-id": 0,
             "fields": struct["fields"]}, counter[0] - 1)


def _avro_prim_for(type_str: str) -> Any:
    s = str(type_str)
    prim = {"boolean": "boolean", "int": "int", "long": "long",
            "float": "float", "double": "double", "string": "string",
            "date": {"type": "int", "logicalType": "date"},
            "timestamp": {"type": "long",
                          "logicalType": "timestamp-micros"},
            "timestamptz": {"type": "long",
                            "logicalType": "timestamp-micros"}}
    if s not in prim:
        raise ValueError(
            f"partition column type {s!r} unsupported by the fixture "
            "writer (use int/long/float/double/string/date/timestamp)")
    return prim[s]


# ---------------------------------------------------------------------------
# Avro record schemas for the metadata plane (spec field names)
# ---------------------------------------------------------------------------

_FIELD_SUMMARY = {
    "type": "record", "name": "field_summary", "fields": [
        {"name": "contains_null", "type": "boolean"},
        {"name": "contains_nan", "type": ["null", "boolean"],
         "default": None},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
    ]}

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {"name": "partitions",
         "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
         "default": None},
    ]}

_BOUND_KV = {
    "type": "record", "name": "k_v", "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "bytes"},
    ]}


def _manifest_entry_schema(partition_fields: List[Dict[str, Any]]) -> Dict:
    part_record = {"type": "record", "name": "r102",
                   "fields": [{"name": f["name"],
                               "type": ["null", _avro_prim_for(f["_type"])],
                               "default": None}
                              for f in partition_fields]}
    data_file = {
        "type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part_record},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {"name": "lower_bounds",
             "type": ["null", {"type": "array", "items": _BOUND_KV}],
             "default": None},
            # full definition again (name k_v2): the pure-Python codec
            # resolves schemas structurally, not by named-type reference
            {"name": "upper_bounds",
             "type": ["null", {"type": "array",
                               "items": dict(_BOUND_KV, name="k_v2")}],
             "default": None},
            # v2 equality deletes: schema field ids the delete rows match on
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int"}],
             "default": None},
        ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "data_file", "type": data_file},
    ]}


# ---------------------------------------------------------------------------
# parquet footer stats
# ---------------------------------------------------------------------------

_BOUNDABLE = ("boolean", "int", "long", "float", "double", "string",
              "date", "timestamp", "timestamptz")


def _file_stats(path: str, fields: List[Dict[str, Any]]
                ) -> Tuple[int, int, List[Dict], List[Dict]]:
    """(record_count, file_size, lower_bounds, upper_bounds) from the
    parquet footer — real stats so the reader's pruning is tested against
    what parquet actually recorded."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in fields
               if str(f["type"]) in _BOUNDABLE}
    md = pq.ParquetFile(path).metadata
    mins: Dict[str, Any] = {}
    maxs: Dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if name not in by_name or st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)

    def _enc(v: Any, typ: str) -> Optional[bytes]:
        s = str(typ)
        if s in ("timestamp", "timestamptz") and hasattr(v, "timestamp"):
            import datetime
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            epoch = datetime.datetime(1970, 1, 1,
                                      tzinfo=datetime.timezone.utc)
            v = (v - epoch) // datetime.timedelta(microseconds=1)
        elif s == "date" and hasattr(v, "toordinal"):
            import datetime
            v = (v - datetime.date(1970, 1, 1)).days
        if isinstance(v, bytes) and s == "string":
            v = v.decode("utf-8", errors="replace")
        return encode_bound(s, v)

    lowers, uppers = [], []
    for name, v in mins.items():
        b = _enc(v, by_name[name]["type"])
        if b is not None:
            lowers.append({"key": by_name[name]["id"], "value": b})
    for name, v in maxs.items():
        b = _enc(v, by_name[name]["type"])
        if b is not None:
            uppers.append({"key": by_name[name]["id"], "value": b})
    return md.num_rows, os.path.getsize(path), lowers, uppers


# ---------------------------------------------------------------------------
# the writer
# ---------------------------------------------------------------------------

def _render_part_dir(name: str, value: Any) -> str:
    if value is None:
        return f"{name}=null"
    return f"{name}={value}"


# ---------------------------------------------------------------------------
# partition-spec parsing
# (identity / bucket[N] / truncate[W] / year / month / day / hour)
# ---------------------------------------------------------------------------

_PART_RE = re.compile(
    r"^\s*(?:(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)"
    r"|(year|month|day|hour|identity)\s*\(\s*(\w+)\s*\)|(\w+))\s*$")

# partition value types on the wire: all four temporal transforms are
# int-encoded (day is logically date-typed in the spec, but a date IS an
# int of days since epoch in Avro — declaring plain int keeps the
# partition record round-trip exact)
_TEMPORAL_VALUE_TYPE = {"year": "int", "month": "int",
                        "day": "int", "hour": "int"}


def _parse_partition_spec(partition_by: Sequence[str],
                          by_name: Dict[str, Dict[str, Any]]) -> List[Dict]:
    """Parse ``["conv_id", "bucket(8, doc_id)", "truncate(4, lang)",
    "day(ts)"]`` into [{transform, source, name, value_type}] — Iceberg
    naming convention (identity keeps the column name; everything else
    suffixes it with the transform)."""
    out = []
    for spec in partition_by:
        m = _PART_RE.match(spec)
        if not m:
            raise ValueError(f"cannot parse partition spec {spec!r} "
                             "(use col, identity(col), bucket(N, col), "
                             "truncate(W, col), year|month|day|hour(col))")
        fn, param, col = m.group(1), m.group(2), m.group(3)
        if fn is None and m.group(4):
            fn = m.group(4) if m.group(4) != "identity" else None
            col = m.group(5)
        if col is None:
            col = m.group(5) or m.group(6)
        if col not in by_name:
            raise ValueError(f"partition column {col!r} not in DataFrame")
        src_type = by_name[col]["type"]
        if fn in ("year", "month", "day", "hour"):
            from datacontract_cli_spark.sources.iceberg_transforms import (
                temporal_value,
            )
            # validate unit/type compatibility up front (raises for e.g.
            # hour(date) or day(string))
            temporal_value(0, fn, src_type)
            out.append({"transform": fn, "source": col,
                        "name": f"{col}_{fn}",
                        "value_type": _TEMPORAL_VALUE_TYPE[fn],
                        "src_type": src_type, "param": None})
        elif fn == "bucket":
            out.append({"transform": f"bucket[{param}]", "source": col,
                        "name": f"{col}_bucket", "value_type": "int",
                        "src_type": src_type, "param": int(param)})
        elif fn == "truncate":
            out.append({"transform": f"truncate[{param}]", "source": col,
                        "name": f"{col}_trunc", "value_type": src_type,
                        "src_type": src_type, "param": int(param)})
        else:
            out.append({"transform": "identity", "source": col,
                        "name": col, "value_type": src_type,
                        "src_type": src_type, "param": None})
    return out


def _partition_expr(p: Dict[str, Any]):
    """Spark Column computing the partition value of one parsed spec."""
    from datacontract_cli_spark.sources.iceberg_transforms import (
        bucket_column,
        temporal_column,
    )

    t = p["transform"]
    if t == "identity":
        return F.col(p["source"])
    if t in ("year", "month", "day", "hour"):
        return temporal_column(p["source"], t, p["src_type"])
    if t.startswith("bucket["):
        return bucket_column(p["source"], p["param"], p["src_type"])
    # truncate[W]
    w = p["param"]
    s = str(p["src_type"])
    if s == "string":
        return F.substring(F.col(p["source"]), 1, w)
    if s in ("int", "long"):
        # spec: v - (((v % W) + W) % W) — floors toward -inf for negatives
        c = F.col(p["source"])
        return (c - (((c % w) + w) % w)).cast("long" if s == "long"
                                              else "int")
    raise ValueError(f"truncate transform unsupported for type {s!r}")


def _write_data_files(df: DataFrame, data_dir: str,
                      parts: List[Dict[str, Any]],
                      files_per_group: int) -> List[Tuple[Dict, List[str]]]:
    """[(partition_values, parquet paths)] — full rows in every file
    (Iceberg keeps partition source columns in the data, unlike Hive).
    ``parts`` are parsed transform specs; grouping runs on derived
    transform columns (identity/bucket/truncate) that are dropped before
    the rows hit parquet."""
    os.makedirs(data_dir, exist_ok=True)
    groups: List[Tuple[Dict, DataFrame, str]] = []
    if parts:
        tmp_cols = [f"__part_{i}" for i in range(len(parts))]
        dfp = df
        for tmp, p in zip(tmp_cols, parts):
            dfp = dfp.withColumn(tmp, _partition_expr(p))
        tuples = [r.asDict() for r in
                  dfp.select(*tmp_cols).distinct().collect()]
        tuples.sort(key=lambda d: tuple(str(d[c]) for c in tmp_cols))
        for tv in tuples:
            cond = None
            for c in tmp_cols:
                e = (F.col(c).isNull() if tv[c] is None
                     else F.col(c) == F.lit(tv[c]))
                cond = e if cond is None else (cond & e)
            sub = dfp.filter(cond).drop(*tmp_cols)
            pv = {p["name"]: tv[tmp]
                  for p, tmp in zip(parts, tmp_cols)}
            subdir = os.path.join(
                data_dir, *[_render_part_dir(p["name"], pv[p["name"]])
                            for p in parts])
            groups.append((pv, sub, subdir))
    else:
        groups.append(({}, df, data_dir))

    out: List[Tuple[Dict, List[str]]] = []
    for pv, sub, subdir in groups:
        sub.repartition(files_per_group).write.mode("overwrite").parquet(subdir)
        files = sorted(
            os.path.join(subdir, f) for f in os.listdir(subdir)
            if f.endswith(".parquet"))
        out.append((pv, files))
    return out


def write_iceberg_table(df: DataFrame, table_path: str,
                        partition_by: Optional[Sequence[str]] = None,
                        files_per_group: int = 1,
                        properties: Optional[Dict[str, str]] = None) -> int:
    """Create a new Iceberg v2 table at ``table_path`` from ``df``
    (identity partitioning on ``partition_by``). Returns the snapshot id
    (1)."""
    return _commit(df, table_path, partition_by or [], files_per_group,
                   properties or {}, base_meta=None)


def _spec_to_partition_by(meta: Dict[str, Any]) -> List[str]:
    """Render a table's partition spec back into the writer's
    ``partition_by`` strings (so appends follow the existing layout)."""
    spec = (meta.get("partition-specs") or [{"fields": []}])[0]
    fields_by_id = {}
    for s in meta.get("schemas", []):
        if s.get("schema-id") == meta.get("current-schema-id", 0):
            fields_by_id = {f["id"]: f for f in s["fields"]}
    partition_by = []
    for pf in spec.get("fields", []):
        if pf.get("source-id") not in fields_by_id:
            continue
        src = fields_by_id[pf["source-id"]]["name"]
        t = pf.get("transform", "identity")
        if t == "identity":
            partition_by.append(src)
        elif t.startswith("bucket["):
            partition_by.append(f"bucket({t[len('bucket['):-1]}, {src})")
        elif t.startswith("truncate["):
            partition_by.append(f"truncate({t[len('truncate['):-1]}, {src})")
        elif t in ("year", "month", "day", "hour"):
            partition_by.append(f"{t}({src})")
        else:
            raise NotImplementedError(
                f"write into a table partitioned by {t!r}")
    return partition_by


def append_iceberg(df: DataFrame, table_path: str,
                   files_per_group: int = 1) -> int:
    """Append ``df`` as a new snapshot (previous snapshots stay readable
    via time travel). Partitioning follows the table's existing spec."""
    meta = load_table_metadata(table_path)
    return _commit(df, table_path, _spec_to_partition_by(meta),
                   files_per_group, dict(meta.get("properties") or {}),
                   base_meta=meta)


def upsert_iceberg(df: DataFrame, table_path: str,
                   key_cols: Sequence[str],
                   files_per_group: int = 1) -> int:
    """MERGE-style upsert in ONE snapshot: rows of ``df`` replace current
    rows with matching ``key_cols``; unmatched keys are inserts.

    The commit carries two manifests at the SAME sequence number — an
    equality-delete manifest (content=2 on ``key_cols``) and the new data
    manifest. Spec sequence-number scoping does the merge: equality
    deletes apply only to data files with a STRICTLY OLDER sequence
    number, so the new rows survive their own delete and every older row
    with a matching key drops. This is exactly how Iceberg's
    merge-on-read MERGE INTO commits, and it is atomic — a reader sees
    either the old snapshot or the fully-merged one, never the
    deleted-but-not-yet-inserted state that a delete+append pair exposes.

    At 10^12-row scale this writes only ``df``-sized data plus one tiny
    key file — no data-file rewrite, no table scan (the delete file is
    pure keys; matching happens lazily at read time via the broadcast
    anti-join in the scan's merge-on-read application)."""
    meta = load_table_metadata(table_path)
    sch = next((s for s in meta.get("schemas", [])
                if s.get("schema-id") == meta.get("current-schema-id", 0)),
               None) or {"fields": []}
    id_by_name = {f["name"]: f["id"] for f in sch["fields"]}
    missing = [c for c in key_cols if c not in id_by_name]
    if missing:
        raise ValueError(f"upsert key columns not in table schema: "
                         f"{missing}")
    # same ids _commit will derive — the delete manifest must share them
    snapshot_id = max((s["snapshot-id"] for s in meta.get("snapshots", [])),
                      default=0) + 1
    seq = meta.get("last-sequence-number", 0) + 1
    keys = df.select(*key_cols).dropDuplicates().orderBy(*key_cols)
    delete_manifest, _ = _build_delete_manifest(
        table_path, meta, keys, content=2,
        equality_ids=[id_by_name[c] for c in key_cols],
        snapshot_id=snapshot_id, seq=seq)
    return _commit(df, table_path, _spec_to_partition_by(meta),
                   files_per_group, dict(meta.get("properties") or {}),
                   base_meta=meta, extra_manifests=[delete_manifest],
                   operation="overwrite")


_ALLOWED_PROMOTIONS = {("int", "long"), ("float", "double")}


def evolve_schema_iceberg(table_path: str,
                          add: Sequence[Tuple[str, str]] = (),
                          rename: Optional[Dict[str, str]] = None,
                          drop: Sequence[str] = (),
                          promote: Optional[Dict[str, str]] = None) -> int:
    """Metadata-only schema evolution (the Iceberg contract: columns are
    tracked by FIELD ID, names are labels). ``add`` = (name, iceberg type)
    pairs appended as optional columns with fresh ids; ``rename`` keeps
    id+type; ``drop`` removes the field (data files keep the bytes; reads
    stop projecting them); ``promote`` widens int→long / float→double.
    Commits a new schema-id + metadata version — NO snapshot, NO data
    rewrite, O(metadata) regardless of table size. Returns the new
    schema id. Existing snapshots/files stay readable: the reader maps
    every data file from its write-time schema by field id
    (iceberg_table._project_to_schema)."""
    rename = dict(rename or {})
    promote = dict(promote or {})
    drop_set = set(drop)
    meta = load_table_metadata(table_path)
    schemas = list(meta.get("schemas") or [meta["schema"]])
    cur_sid = meta.get("current-schema-id", 0)
    cur = next((s for s in schemas if s.get("schema-id") == cur_sid),
               schemas[-1])
    by_name = {f["name"]: f for f in cur["fields"]}
    for n in (*rename, *promote, *drop_set):
        if n not in by_name:
            raise ValueError(f"column {n!r} not in current schema")
    part_src_ids = {pf.get("source-id")
                    for spec in meta.get("partition-specs", [])
                    for pf in spec.get("fields", [])}
    for n in drop_set:
        if by_name[n]["id"] in part_src_ids:
            raise ValueError(
                f"cannot drop {n!r}: it is a partition source column")
    new_fields: List[Dict[str, Any]] = []
    for f in cur["fields"]:
        if f["name"] in drop_set:
            continue
        g = dict(f)
        if f["name"] in promote:
            pair = (str(f["type"]), promote[f["name"]])
            if pair not in _ALLOWED_PROMOTIONS:
                raise ValueError(
                    f"illegal type promotion {pair[0]}→{pair[1]} for "
                    f"{f['name']!r} (allowed: int→long, float→double)")
            g["type"] = promote[f["name"]]
        if f["name"] in rename:
            g["name"] = rename[f["name"]]
        new_fields.append(g)
    last_col = meta.get("last-column-id",
                        max((f["id"] for s in schemas
                             for f in s["fields"]), default=0))
    taken = {f["name"] for f in new_fields}
    for (name, typ) in add:
        if name in taken:
            raise ValueError(f"column {name!r} already exists")
        taken.add(name)
        last_col += 1
        new_fields.append({"id": last_col, "name": name,
                           "required": False, "type": typ})
    if len(taken) != len(new_fields):
        raise ValueError("schema evolution produced duplicate column names")
    new_sid = max((s.get("schema-id", 0) for s in schemas), default=0) + 1
    new_meta = dict(meta)
    new_meta["schemas"] = schemas + [
        {"type": "struct", "schema-id": new_sid, "fields": new_fields}]
    new_meta["current-schema-id"] = new_sid
    new_meta["last-column-id"] = last_col
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    meta_dir = os.path.join(_strip_scheme(table_path), "metadata")
    version = _current_version(meta_dir) + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"),
              "w") as f:
        json.dump(new_meta, f, indent=2)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return new_sid


def compact_iceberg(spark, table_path: str, files_per_group: int = 1) -> int:
    """Bin-pack compaction (rewrite_data_files + apply pending deletes):
    read the current table state — merge-on-read delete files applied —
    and commit it as a REPLACE snapshot whose manifest list references
    ONLY the rewritten data files. Row-identical to the pre-compaction
    read (asserted by tests); pending positional/equality deletes are
    materialized and no longer carried, so post-compaction scans skip the
    anti-joins entirely. Prior snapshots remain time-travelable — their
    manifest lists still reference the old files. At production scale
    this is Iceberg's rewriteDataFiles/bin-pack action: the table-sized
    rewrite is the point (amortizing small files + delete debt into clean
    scans)."""
    from datacontract_cli_spark.sources.iceberg_table import read_iceberg

    meta = load_table_metadata(table_path)
    df = read_iceberg(spark, table_path)
    return _commit(df, table_path, _spec_to_partition_by(meta),
                   files_per_group, dict(meta.get("properties") or {}),
                   base_meta=meta, operation="replace", replace_prior=True)


def delete_rows_iceberg(spark, table_path: str, predicate: str) -> int:
    """Merge-on-read DELETE: commit a snapshot of **positional delete
    files** (Iceberg v2 content=1) marking every current row that matches
    ``predicate``, without rewriting any data file.

    Spark-first: the matching (file, position) pairs come from the hidden
    ``_metadata.file_path`` / ``_metadata.row_index`` columns of the very
    scan being deleted from — one distributed pass, no driver row
    handling; rows are spec-ordered by (file_path, pos). At production
    scale this is exactly how Spark's Iceberg DELETE planning works; the
    delete parquet is a single small file because deletes are a tiny
    fraction of a 10^12-row table. Reference: datacontract-cli reads MoR
    tables through pyiceberg's identical delete application."""
    from datacontract_cli_spark.sources.iceberg_table import (
        load_table_metadata,
        read_iceberg,
    )

    # Plan through the merge-on-read reader so a second DELETE (or a
    # DELETE after upsert/quarantine) works on a table that already has
    # delete manifests: the predicate is evaluated against the LIVE view
    # and positions come from the reader's __icb_file/__icb_pos handles.
    meta = load_table_metadata(table_path)
    if not meta.get("current-snapshot-id"):
        return 0
    live = read_iceberg(spark, table_path, with_position=True)
    matches = (
        live.filter(predicate)
        .select(F.col("__icb_file").alias("file_path"),
                F.col("__icb_pos").alias("pos"))
        .orderBy("file_path", "pos"))
    return _commit_delete_snapshot(table_path, meta, matches, content=1,
                                   equality_ids=None)


def delete_equality_iceberg(spark, table_path: str, keys_df: DataFrame,
                            equality_cols: Sequence[str]) -> int:
    """Merge-on-read DELETE by key: commit an **equality delete file**
    (Iceberg v2 content=2) removing every row whose ``equality_cols``
    match a row of ``keys_df`` — the streaming-upsert/CDC primitive.
    Sequence-number semantics per spec: the delete applies only to rows
    whose data file has a STRICTLY OLDER sequence number, so rows
    appended after this commit with the same keys survive."""
    meta = load_table_metadata(table_path)
    sch = next((s for s in meta.get("schemas", [])
                if s.get("schema-id") == meta.get("current-schema-id", 0)),
               None) or {"fields": []}
    id_by_name = {f["name"]: f["id"] for f in sch["fields"]}
    missing = [c for c in equality_cols if c not in id_by_name]
    if missing:
        raise ValueError(f"equality columns not in table schema: {missing}")
    rows = keys_df.select(*equality_cols).dropDuplicates() \
                  .orderBy(*equality_cols)
    return _commit_delete_snapshot(
        table_path, meta, rows, content=2,
        equality_ids=[id_by_name[c] for c in equality_cols])


def _build_delete_manifest(table_path: str, meta: Dict[str, Any],
                           rows: DataFrame, content: int,
                           equality_ids: Optional[List[int]],
                           snapshot_id: int, seq: int
                           ) -> Tuple[Dict[str, Any], int]:
    """Write ``rows`` as one parquet delete file plus its manifest
    (manifest content=1, entry data_file content = 1|2). Returns
    ``(manifest_file_record, deleted_row_count)`` for inclusion in a
    snapshot's manifest list."""
    import pyarrow.parquet as pq

    root = _strip_scheme(table_path)
    meta_dir = os.path.join(root, "metadata")
    del_dir = os.path.join(root, "data", f"deletes-snap-{snapshot_id}")
    rows.coalesce(1).write.mode("overwrite").parquet(del_dir)
    files = sorted(os.path.join(del_dir, f) for f in os.listdir(del_dir)
                   if f.endswith(".parquet"))
    if not files:
        raise RuntimeError("delete write produced no parquet file")

    # table partition spec (delete files are committed table-global:
    # partition values null, reader never prunes delete manifests)
    spec = (meta.get("partition-specs") or [{"fields": []}])[0]
    sch = next((s for s in meta.get("schemas", [])
                if s.get("schema-id") == meta.get("current-schema-id", 0)),
               None) or {"fields": []}
    fld_by_id = {f["id"]: f for f in sch["fields"]}
    part_fields_avro = [
        {"name": pf["name"], "_type": fld_by_id[pf["source-id"]]["type"]}
        for pf in spec.get("fields", []) if pf.get("source-id") in fld_by_id]
    entry_schema = _manifest_entry_schema(part_fields_avro)

    entries, n_rows = [], 0
    for path in files:
        n = pq.ParquetFile(path).metadata.num_rows
        n_rows += n
        entries.append({
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": content, "file_path": os.path.abspath(path),
                "file_format": "PARQUET",
                "partition": {f["name"]: None for f in part_fields_avro},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(path),
                "lower_bounds": None, "upper_bounds": None,
                "equality_ids": equality_ids,
            }})
    manifest_path = os.path.join(
        meta_dir,
        f"manifest-{snapshot_id}-"
        f"{uuid.uuid5(uuid.NAMESPACE_URL, 'del' + str(snapshot_id)).hex[:8]}"
        ".avro")
    manifest_bytes = write_ocf(manifest_path, entry_schema, entries)
    new_manifest = {
        "manifest_path": os.path.abspath(manifest_path),
        "manifest_length": len(manifest_bytes),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries), "existing_files_count": 0,
        "deleted_files_count": 0, "added_rows_count": n_rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "partitions": None}
    return new_manifest, n_rows


def _prior_manifests(root: str, base_meta: Dict[str, Any]
                     ) -> List[Dict[str, Any]]:
    """Manifest-file records of the current snapshot, ready to be carried
    into a new snapshot's manifest list. Metadata records absolute URIs
    from write time, so a table that was MOVED since its last commit needs
    two repairs the readers' ``_rebase`` cannot do once we stamp the new
    location into the committed metadata: (a) the manifest-list itself must
    be read at its rebased path, and (b) every carried manifest is
    deep-rewritten into the new metadata dir with its data-file paths
    rebased, so the committed table is self-consistent at its new root.
    The not-moved fast path carries the records untouched (no manifest
    I/O beyond the manifest-list read)."""
    from datacontract_cli_spark.sources.iceberg_table import _rebase
    cur = next((s for s in base_meta.get("snapshots", [])
                if s["snapshot-id"]
                == base_meta.get("current-snapshot-id")), None)
    if not cur or not cur.get("manifest-list"):
        return []
    loc = base_meta.get("location", "")
    ml = _rebase(cur["manifest-list"], loc, root)
    _, manifests = read_ocf(ml)
    moved = _strip_scheme(loc).rstrip("/") != root.rstrip("/")
    if not moved:
        return manifests
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    rewritten = []
    for mf in manifests:
        mp = _rebase(mf["manifest_path"], loc, root)
        schema, entries = read_ocf(mp)
        for e in entries:
            df_rec = e["data_file"]
            path = os.path.abspath(_rebase(df_rec["file_path"], loc, root))
            if df_rec.get("content") == 1:
                # positional delete files reference data files by path IN
                # THEIR ROW DATA — rewrite the parquet too, or the deletes
                # dangle at the new root
                path = _rewrite_pos_delete_file(path, loc, root)
            df_rec["file_path"] = path
        new_mp = os.path.join(meta_dir, "rebased-" + os.path.basename(mp))
        data = write_ocf(new_mp, schema, entries)
        mf = dict(mf)
        mf["manifest_path"] = os.path.abspath(new_mp)
        mf["manifest_length"] = len(data)
        rewritten.append(mf)
    return rewritten


def _rewrite_pos_delete_file(path: str, loc: str, root: str) -> str:
    """Rewrite a positional delete parquet whose ``file_path`` column
    still points at the table's previous location. Delete files are tiny
    (a fraction of the rows of one table), so a driver-side pyarrow
    rewrite is fine. Returns the new file's absolute path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datacontract_cli_spark.sources.iceberg_table import _rebase
    t = pq.read_table(path)
    idx = t.schema.get_field_index("file_path")
    vals = [None if v is None
            else os.path.abspath(_rebase(v, loc, root))
            for v in t.column(idx).to_pylist()]
    t = t.set_column(idx, "file_path", pa.array(vals, pa.string()))
    new_path = os.path.join(os.path.dirname(path),
                            "rebased-" + os.path.basename(path))
    pq.write_table(t, new_path)
    return os.path.abspath(new_path)


def _commit_delete_snapshot(table_path: str, meta: Dict[str, Any],
                            rows: DataFrame, content: int,
                            equality_ids: Optional[List[int]]) -> int:
    """Commit a delete-only snapshot: manifest list = prior manifests +
    one delete manifest."""
    root = _strip_scheme(table_path)
    meta_dir = os.path.join(root, "metadata")
    snapshot_id = max((s["snapshot-id"] for s in meta.get("snapshots", [])),
                      default=0) + 1
    seq = meta.get("last-sequence-number", 0) + 1
    version = _current_version(meta_dir) + 1
    new_manifest, n_rows = _build_delete_manifest(
        table_path, meta, rows, content, equality_ids, snapshot_id, seq)

    prior_manifests = _prior_manifests(root, meta)

    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}-manifest-list.avro")
    write_ocf(ml_path, _MANIFEST_FILE_SCHEMA,
              prior_manifests + [new_manifest])

    now_ms = int(time.time() * 1000)
    snapshot = {"snapshot-id": snapshot_id, "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": os.path.abspath(ml_path),
                "summary": {"operation": "delete",
                            "added-delete-files": "1",
                            "added-position-deletes" if content == 1
                            else "added-equality-deletes": str(n_rows)},
                "schema-id": meta.get("current-schema-id", 0)}
    new_meta = dict(meta)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshots"] = meta.get("snapshots", []) + [snapshot]
    new_meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}]
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(meta_path, "w") as f:
        json.dump(new_meta, f, indent=2)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snapshot_id


def _commit(df: DataFrame, table_path: str, partition_by: Sequence[str],
            files_per_group: int, properties: Dict[str, str],
            base_meta: Optional[Dict[str, Any]],
            extra_manifests: Optional[List[Dict[str, Any]]] = None,
            operation: str = "append",
            replace_prior: bool = False) -> int:
    root = _strip_scheme(table_path)
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    if base_meta is not None:
        # append into an existing table: the table's schema history is
        # authoritative — data files are stamped with the CURRENT schema
        # (field-id evolution resolves old files at read time)
        schemas_list = base_meta.get("schemas") or [base_meta["schema"]]
        cur_sid = base_meta.get("current-schema-id", 0)
        active = next((s for s in schemas_list
                       if s.get("schema-id") == cur_sid), schemas_list[-1])
        fields = active["fields"]
        want = {f["name"] for f in fields}
        have = set(df.columns)
        if have != want:
            raise ValueError(
                f"DataFrame columns {sorted(have)} do not match the "
                f"table's current schema {sorted(want)}; run "
                "evolve_schema_iceberg first")
        from datacontract_cli_spark.sources.iceberg_table import (
            _iceberg_to_spark_type,
        )
        df = df.select(*[
            F.col(f["name"]).cast(_iceberg_to_spark_type(f["type"]))
            for f in fields])
        last_col_id = base_meta.get(
            "last-column-id", max((f["id"] for f in fields), default=0))
    else:
        schema_json, last_col_id = _iceberg_schema_json(df)
        fields = schema_json["fields"]
        schemas_list = [schema_json]
        cur_sid = 0
    by_name = {f["name"]: f for f in fields}
    parts = _parse_partition_spec(partition_by, by_name)
    part_fields_meta = [
        {"name": p["name"], "transform": p["transform"],
         "source-id": by_name[p["source"]]["id"],
         "field-id": _PARTITION_FIELD_ID_START + i}
        for i, p in enumerate(parts)]
    part_fields_avro = [{"name": p["name"], "_type": p["value_type"]}
                        for p in parts]

    if base_meta is not None:
        snapshot_id = max((s["snapshot-id"]
                           for s in base_meta.get("snapshots", [])),
                          default=0) + 1
        seq = base_meta.get("last-sequence-number", 0) + 1
        version = _current_version(meta_dir) + 1
    else:
        snapshot_id, seq, version = 1, 1, 1

    # -- data files + manifest ------------------------------------------
    data_dir = os.path.join(root, "data",
                            f"snap-{snapshot_id}") if base_meta is not None \
        else os.path.join(root, "data")
    written = _write_data_files(df, data_dir, parts, files_per_group)
    entry_schema = _manifest_entry_schema(part_fields_avro)
    entries = []
    added_rows = 0
    for pv, files in written:
        for path in files:
            n, size, lowers, uppers = _file_stats(path, fields)
            added_rows += n
            entries.append({
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0, "file_path": os.path.abspath(path),
                    "file_format": "PARQUET",
                    "partition": {p["name"]: pv.get(p["name"])
                                  for p in parts},
                    "record_count": n, "file_size_in_bytes": size,
                    "lower_bounds": lowers or None,
                    "upper_bounds": uppers or None,
                }})
    manifest_path = os.path.join(
        meta_dir, f"manifest-{snapshot_id}-{uuid.uuid5(uuid.NAMESPACE_URL, str(snapshot_id)).hex[:8]}.avro")
    manifest_bytes = write_ocf(manifest_path, entry_schema, entries)

    # partition summaries for manifest-level pruning
    summaries = None
    if part_fields_avro:
        summaries = []
        for pf in part_fields_avro:
            vals = [e["data_file"]["partition"].get(pf["name"])
                    for e in entries]
            non_null = [v for v in vals if v is not None]
            summaries.append({
                "contains_null": any(v is None for v in vals),
                "contains_nan": None,
                "lower_bound": encode_bound(pf["_type"], min(non_null))
                if non_null else None,
                "upper_bound": encode_bound(pf["_type"], max(non_null))
                if non_null else None})

    new_manifest = {
        "manifest_path": os.path.abspath(manifest_path),
        "manifest_length": len(manifest_bytes),
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries), "existing_files_count": 0,
        "deleted_files_count": 0, "added_rows_count": added_rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "partitions": summaries}

    prior_manifests: List[Dict[str, Any]] = []
    if base_meta is not None and not replace_prior:
        prior_manifests = _prior_manifests(root, base_meta)

    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}-manifest-list.avro")
    write_ocf(ml_path, _MANIFEST_FILE_SCHEMA,
              prior_manifests + list(extra_manifests or []) + [new_manifest])

    # -- metadata json ---------------------------------------------------
    now_ms = int(time.time() * 1000)
    snapshot = {"snapshot-id": snapshot_id, "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": os.path.abspath(ml_path),
                "summary": {"operation": operation,
                            "added-records": str(added_rows)},
                "schema-id": cur_sid}
    snapshots = (base_meta.get("snapshots", []) if base_meta else []) \
        + [snapshot]
    if base_meta is not None and base_meta.get("partition-specs"):
        part_specs = base_meta["partition-specs"]
        last_part_id = base_meta.get(
            "last-partition-id", _PARTITION_FIELD_ID_START - 1)
    else:
        part_specs = [{"spec-id": 0, "fields": part_fields_meta}]
        last_part_id = (_PARTITION_FIELD_ID_START + len(part_fields_meta)
                        - 1) if part_fields_meta \
            else _PARTITION_FIELD_ID_START - 1
    meta = {
        "format-version": 2,
        "table-uuid": (base_meta or {}).get(
            "table-uuid",
            str(uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(root)))),
        "location": os.path.abspath(root),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col_id,
        "current-schema-id": cur_sid,
        "schemas": schemas_list,
        "default-spec-id": 0,
        "partition-specs": part_specs,
        "last-partition-id": last_part_id,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": properties,
        "current-snapshot-id": snapshot_id,
        "snapshots": snapshots,
        "snapshot-log": [{"snapshot-id": s["snapshot-id"],
                          "timestamp-ms": s["timestamp-ms"]}
                         for s in snapshots],
        "metadata-log": [],
    }
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(meta_path, "w") as f:
        json.dump(meta, f, indent=2)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snapshot_id


def _current_version(meta_dir: str) -> int:
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            return int(f.read().strip())
    return 0
