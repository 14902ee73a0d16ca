"""Pure-Python Delta Lake table support (no delta-spark jar).

Delta's transaction log is newline-delimited JSON actions under
``_delta_log/`` plus an optional parquet checkpoint — all metadata-plane,
all readable driver-side, exactly how the delta kernel plans a scan:

``_last_checkpoint`` (if any) → checkpoint parquet + later
``NNN.json`` commits → replay add/remove actions → live file set +
latest ``metaData`` (whose ``schemaString`` IS a Spark StructType JSON)
→ pruned parquet reads.

Delta data files do NOT contain partition columns (Hive-style, unlike
Iceberg): the log's ``partitionValues`` are authoritative. The scan
groups live files by partition tuple and injects the values as typed
literal columns — one ``spark.read.parquet`` per distinct tuple,
``unionByName`` over groups. Pruning happens before any read: partition
values and per-file ``stats`` JSON (minValues/maxValues) filter the file
list with the same predicate algebra the Iceberg lane uses.

Reader protocol support: 1 (base), 2 (column mapping: files carry
PHYSICAL column names — ``delta.columnMapping.physicalName`` field
metadata; the scan reads the physical schema and projects to logical
names by position, which also renames nested struct fields; ``name``
and ``id`` modes both apply, since Delta writes physical names into
the parquet either way), and 3 with ``readerFeatures`` among
{deletionVectors, columnMapping, timestampNtz, v2Checkpoint absent}.
Deletion vectors (see :mod:`delta_dv`) are applied exactly like the
Iceberg merge-on-read lane: a broadcast LEFT ANTI join on the hidden
(``_metadata.file_path``, ``row_index``) pair — the data side is never
shuffled. Unknown reader features still raise an honest
``NotImplementedError`` rather than returning silently-wrong rows.

Scale: replay cost is O(actions since checkpoint) — the same planning
work delta-spark does on the driver; DV decode is O(deleted rows) on
the driver (deletes are a small fraction of a table between
compactions, and each DV is a compressed roaring bitmap).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacontract_cli_spark.sources.iceberg_table import (
    _identity_value_matches,
    _range_may_match,
    _strip_scheme,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")


# ---------------------------------------------------------------------------
# log replay
# ---------------------------------------------------------------------------

def _log_dir(table_path: str) -> str:
    return os.path.join(_strip_scheme(table_path), "_delta_log")


def _read_checkpoint(path: str) -> List[Dict[str, Any]]:
    """Checkpoint rows -> action dicts (add/remove/metaData/protocol)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    actions: List[Dict[str, Any]] = []
    cols = {name: tbl.column(name).to_pylist()
            for name in tbl.schema.names
            if name in ("add", "remove", "metaData", "protocol")}
    n = tbl.num_rows
    for i in range(n):
        for key, vals in cols.items():
            v = vals[i]
            if v is not None:
                actions.append({key: v})
    return actions


def _replay(table_path: str,
            version: Optional[int] = None) -> Dict[str, Any]:
    """Replay the log to ``version`` (default: latest). Returns
    {files: {path: add_action}, metadata, protocol, version}."""
    log = _log_dir(table_path)
    if not os.path.isdir(log):
        raise FileNotFoundError(f"no _delta_log under {table_path!r}")

    commits: Dict[int, str] = {}
    checkpoints: Dict[int, str] = {}
    for name in os.listdir(log):
        m = _COMMIT_RE.match(name)
        if m:
            commits[int(m.group(1))] = os.path.join(log, name)
        m = _CHECKPOINT_RE.match(name)
        if m:
            checkpoints[int(m.group(1))] = os.path.join(log, name)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"empty _delta_log under {table_path!r}")

    latest = max(list(commits) + list(checkpoints))
    target = latest if version is None else version
    if version is not None and version not in commits \
            and version not in checkpoints:
        raise ValueError(f"delta version {version} not in log "
                         f"(have 0..{latest})")

    start = 0
    actions: List[Dict[str, Any]] = []
    usable_cp = [v for v in checkpoints if v <= target]
    if usable_cp:
        cp = max(usable_cp)
        actions.extend(_read_checkpoint(checkpoints[cp]))
        start = cp + 1
    for v in range(start, target + 1):
        if v not in commits:
            if v in checkpoints:  # checkpoint-only version
                continue
            raise FileNotFoundError(
                f"missing delta commit {v:020d}.json (log truncated "
                "without a covering checkpoint)")
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if line:
                    actions.append(json.loads(line))

    files: Dict[str, Dict[str, Any]] = {}
    metadata: Optional[Dict[str, Any]] = None
    protocol: Optional[Dict[str, Any]] = None
    for a in actions:
        if "add" in a and a["add"]:
            add = a["add"]
            files[add["path"]] = add
        elif "remove" in a and a["remove"]:
            files.pop(a["remove"]["path"], None)
        elif "metaData" in a and a["metaData"]:
            metadata = a["metaData"]
        elif "protocol" in a and a["protocol"]:
            protocol = a["protocol"]
    if metadata is None:
        raise ValueError("delta log has no metaData action")
    _check_protocol(protocol)
    return {"files": files, "metadata": metadata,
            "protocol": protocol, "version": target}


_SUPPORTED_READER_FEATURES = {"deletionVectors", "columnMapping",
                              "timestampNtz"}


def _check_protocol(protocol: Optional[Dict[str, Any]]) -> None:
    if not protocol:
        return
    v = protocol.get("minReaderVersion", 1)
    if v <= 2:  # 2 = column mapping, handled via physical names
        return
    if v == 3:
        feats = set(protocol.get("readerFeatures") or [])
        unknown = feats - _SUPPORTED_READER_FEATURES
        if unknown:
            raise NotImplementedError(
                f"delta readerFeatures {sorted(unknown)} unsupported; "
                f"this reader handles {sorted(_SUPPORTED_READER_FEATURES)}")
        return
    raise NotImplementedError(
        f"delta minReaderVersion {v} unsupported (max 3)")


def delta_schema(metadata: Dict[str, Any]) -> T.StructType:
    return T.StructType.fromJson(json.loads(metadata["schemaString"]))


def _mapping_mode(metadata: Dict[str, Any]) -> str:
    return (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")


def _physical_struct(dt: T.DataType) -> T.DataType:
    """Rename every (nested) struct field to its
    ``delta.columnMapping.physicalName`` — the names actually present in
    the parquet files of a column-mapped table."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(
                (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name),
                _physical_struct(f.dataType), f.nullable)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_struct(dt.elementType),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_physical_struct(dt.keyType),
                         _physical_struct(dt.valueType),
                         dt.valueContainsNull)
    return dt


def _schemas(metadata: Dict[str, Any]
             ) -> Tuple[T.StructType, T.StructType, Dict[str, str]]:
    """(logical schema, physical read schema, logical->physical top-level
    name map). Identity when column mapping is off."""
    logical = delta_schema(metadata)
    if _mapping_mode(metadata) == "none":
        return logical, logical, {f.name: f.name for f in logical.fields}
    physical = _physical_struct(logical)
    phys_by_logical = {lf.name: pf.name
                       for lf, pf in zip(logical.fields, physical.fields)}
    return logical, physical, phys_by_logical


def _pv_dict(pv: Any) -> Dict[str, Optional[str]]:
    """partitionValues from a checkpoint parquet MAP column surface as
    [(key, value), ...] through pyarrow's to_pylist; JSON commits give a
    dict. Normalize both."""
    if isinstance(pv, list):
        return dict(pv)
    return pv or {}


def _cast_part(value: Optional[str], dt: T.DataType) -> Any:
    """partitionValues are strings in the log; compare typed."""
    if value is None:
        return None
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dt, T.BooleanType):
        return value.lower() == "true"
    return value


# ---------------------------------------------------------------------------
# pruning + scan
# ---------------------------------------------------------------------------

def plan_delta(table_path: str, version: Optional[int] = None,
               filters: Sequence[Tuple[str, str, Any]] = ()
               ) -> Tuple[Dict[str, Any], List[Dict[str, Any]]]:
    """(state, pruned live add-actions). Partition-value pruning plus
    per-file stats-JSON (minValues/maxValues) pruning. In column-mapping
    mode partitionValues and stats are keyed by PHYSICAL names; filters
    come in logical names and are translated. Files whose deletion
    vector covers every row are pruned outright."""
    from datacontract_cli_spark.sources.delta_dv import normalize_descriptor

    state = _replay(table_path, version)
    st = delta_schema(state["metadata"])
    part_cols = state["metadata"].get("partitionColumns") or []
    types = {f.name: f.dataType for f in st.fields}
    _, _, phys = _schemas(state["metadata"])

    live = []
    for add in state["files"].values():
        keep = True
        pv = _pv_dict(add.get("partitionValues"))
        stats = add.get("stats")
        stats = json.loads(stats) if isinstance(stats, str) and stats else \
            (stats or {})
        n_rec = stats.get("numRecords")
        if n_rec == 0:
            continue  # zero-row file: nothing to scan
        dv = normalize_descriptor(add.get("deletionVector"))
        if dv and n_rec is not None and dv.get("cardinality") == n_rec:
            continue  # every row deleted
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        for (col, op, val) in filters:
            p = phys.get(col, col)
            if col in part_cols:
                typed = _cast_part(pv.get(p), types.get(col,
                                                        T.StringType()))
                if not _identity_value_matches(typed, op, val):
                    keep = False
                    break
            if p in mins or p in maxs:
                # a DV'd file's bounds may be stale for surviving rows
                # (tightBounds=false) — min/max stay CONSERVATIVE (they
                # bound a superset), so pruning with them remains exact
                if not _range_may_match(mins.get(p), maxs.get(p),
                                        op, val):
                    keep = False
                    break
        if keep:
            live.append(add)
    return state, live


def read_delta(spark: SparkSession, table_path: str,
               version: Optional[int] = None,
               filters: Sequence[Tuple[str, str, Any]] = (),
               with_position: bool = False) -> DataFrame:
    """Scan a Delta table (optionally time-travelled to ``version``).
    Filters prune files, then are re-applied so results are exact.
    Column-mapped tables read their physical schema and project to
    logical names; deletion vectors are applied as one broadcast LEFT
    ANTI join on (_metadata.file_path, row_index) — data never shuffles.
    ``with_position=True`` keeps ``__dl_file`` / ``__dl_pos`` (the row
    handle ``delete_rows_delta`` addresses rows by)."""
    from datacontract_cli_spark.sources.delta_dv import (
        deleted_positions,
        normalize_descriptor,
    )

    state, live = plan_delta(table_path, version, filters)
    st = delta_schema(state["metadata"])
    logical, physical, phys = _schemas(state["metadata"])
    part_cols = state["metadata"].get("partitionColumns") or []
    types = {f.name: f.dataType for f in st.fields}
    data_phys = T.StructType(
        [pf for lf, pf in zip(logical.fields, physical.fields)
         if lf.name not in part_cols])
    root = _strip_scheme(table_path)

    # driver-side DV decode: (absolute file path -> deleted row indexes)
    dv_pairs: List[Tuple[str, int]] = []
    for a in live:
        dv = normalize_descriptor(a.get("deletionVector"))
        if dv:
            full = os.path.abspath(os.path.join(root, a["path"]))
            for p in deleted_positions(dv, root).tolist():
                dv_pairs.append((full, int(p)))
    with_pos = bool(dv_pairs) or with_position

    def _scan(paths: List[str]) -> DataFrame:
        g = spark.read.schema(data_phys).parquet(*paths)
        if with_pos:
            # _metadata.file_path is a URI: percent-encoded (space →
            # %20), while the DV/descriptor side carries raw filesystem
            # paths. url_decode after shielding literal '+' (form
            # decoding would turn it into a space) makes the join key
            # the raw path on both sides; URI encoding is injective, so
            # decoding is correct even for names containing literal %XX.
            g = (g.withColumn("__dl_file", F.url_decode(F.regexp_replace(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""),
                    r"\+", "%2B")))
                 .withColumn("__dl_pos", F.col("_metadata.row_index")))
        return g

    helper = ["__dl_file", "__dl_pos"] if with_pos else []

    if not live:
        df = spark.createDataFrame([], T.StructType(
            list(st.fields)
            + [T.StructField("__dl_file", T.StringType(), True),
               T.StructField("__dl_pos", T.LongType(), True)]
            if with_pos else list(st.fields)))
    elif not part_cols:
        df = _scan([os.path.join(root, a["path"]) for a in live])
        # project physical -> logical: positional struct cast renames
        # nested fields too; top-level alias renames the column
        df = df.select(*[
            F.col(pf.name).cast(lf.dataType).alias(lf.name)
            for lf, pf in zip(logical.fields, physical.fields)
            if lf.name not in part_cols], *helper)
    else:
        # group by partition tuple; inject the log's authoritative
        # partitionValues as typed literals (delta data files lack them);
        # partitionValues are keyed by PHYSICAL name in mapping mode
        groups: Dict[Tuple, List[str]] = {}
        for a in live:
            pv = _pv_dict(a.get("partitionValues"))
            key = tuple(pv.get(phys.get(c, c)) for c in part_cols)
            groups.setdefault(key, []).append(
                os.path.join(root, a["path"]))
        parts = []
        for key, paths in sorted(groups.items(),
                                 key=lambda kv: tuple(map(str, kv[0]))):
            g = _scan(paths)
            g = g.select(*[
                F.col(pf.name).cast(lf.dataType).alias(lf.name)
                for lf, pf in zip(logical.fields, physical.fields)
                if lf.name not in part_cols], *helper)
            for c, raw in zip(part_cols, key):
                g = g.withColumn(
                    c, F.lit(_cast_part(raw, types[c])).cast(types[c]))
            parts.append(g.select(*[f.name for f in st.fields], *helper))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)

    if dv_pairs and live:
        deleted = spark.createDataFrame(
            dv_pairs, "__dl_file string, __dl_pos long")
        df = df.join(F.broadcast(deleted), ["__dl_file", "__dl_pos"],
                     "left_anti")
    if with_pos and not with_position:
        df = df.drop("__dl_file", "__dl_pos")

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
            raise ValueError(f"unsupported filter op {op!r}")
    return df


def commit_data_change(table_path: str, version: int) -> bool:
    """Did this commit change table DATA? False for maintenance commits
    whose add/remove actions all carry ``dataChange=false`` (OPTIMIZE /
    compaction) and for metadata-only commits; True when any action
    changes data, and True by default for versions whose commit JSON is
    gone (checkpoint-compacted history — can't tell, assume data)."""
    p = os.path.join(_log_dir(table_path), f"{version:020d}.json")
    if not os.path.exists(p):
        return True
    changed = False
    with open(p) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            a = json.loads(line)
            for k in ("add", "remove"):
                if k in a and a[k].get("dataChange", True):
                    changed = True
    return changed


def delta_versions(table_path: str) -> List[int]:
    log = _log_dir(table_path)
    out = set()
    for name in os.listdir(log):
        m = _COMMIT_RE.match(name) or _CHECKPOINT_RE.match(name)
        if m:
            out.add(int(m.group(1)))
    return sorted(out)


# ---------------------------------------------------------------------------
# writer (fixtures/tests)
# ---------------------------------------------------------------------------

def _file_stats_json(path: str, schema: T.StructType) -> str:
    """Delta-shaped stats JSON from the parquet footer (numRecords +
    min/max for primitive columns) so the reader's pruning has real
    bounds to work with."""
    import pyarrow.parquet as pq

    simple = {f.name for f in schema.fields
              if isinstance(f.dataType,
                            (T.IntegerType, T.LongType, T.DoubleType,
                             T.FloatType, T.StringType, T.BooleanType))}
    md = pq.ParquetFile(path).metadata
    mins: Dict[str, Any] = {}
    maxs: Dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            s = col.statistics
            if name not in simple or s is None or not s.has_min_max:
                continue
            lo, hi = s.min, s.max
            if isinstance(lo, bytes):
                lo = lo.decode("utf-8", errors="replace")
                hi = hi.decode("utf-8", errors="replace")
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return json.dumps({"numRecords": md.num_rows,
                       "minValues": mins, "maxValues": maxs})


def _next_version(table_path: str) -> int:
    try:
        return max(delta_versions(table_path)) + 1
    except FileNotFoundError:
        return 0


def _mapped_schema_json(schema: T.StructType) -> Dict[str, Any]:
    """schemaString JSON with column-mapping field metadata: each field
    gets a stable id and a ``col-<uuid5(name)>`` physical name (the shape
    delta-spark generates), nested fields included."""
    import uuid as _uuid
    next_id = [0]

    def _walk(node: Dict[str, Any]) -> Dict[str, Any]:
        if node.get("type") == "struct":
            return {"type": "struct",
                    "fields": [_field(f) for f in node["fields"]]}
        if isinstance(node.get("type"), dict):
            node = dict(node)
            node["type"] = _walk(node["type"])
        return node

    def _field(f: Dict[str, Any]) -> Dict[str, Any]:
        next_id[0] += 1
        t = f["type"]
        if isinstance(t, dict):
            t = _walk(t)
        return {"name": f["name"], "type": t,
                "nullable": f.get("nullable", True),
                "metadata": {
                    "delta.columnMapping.id": next_id[0],
                    "delta.columnMapping.physicalName":
                        "col-" + str(_uuid.uuid5(_uuid.NAMESPACE_URL,
                                                 f["name"]))}}

    out = _walk(schema.jsonValue())
    out["_max_id"] = next_id[0]
    return out


def write_delta_table(df: DataFrame, table_path: str,
                      partition_by: Optional[Sequence[str]] = None,
                      mode: str = "create",
                      column_mapping: str = "none") -> int:
    """Create (version 0) or append (next version) a Delta table. Data
    files are Hive-style — partition columns live only in the log's
    partitionValues. ``column_mapping='name'`` creates a protocol-2
    column-mapped table: parquet files carry generated physical names and
    the log's partitionValues/stats are keyed by them. Returns the
    committed version. Fixture/test scale: partition tuples enumerate
    driver-side, same caveat as the Iceberg writer."""
    import time
    import uuid as _uuid

    root = _strip_scheme(table_path)
    log = _log_dir(table_path)
    part_cols = list(partition_by or [])
    min_reader, min_writer = 1, 2
    metadata: Dict[str, Any]
    if mode == "append" and os.path.isdir(log):
        state = _replay(table_path)
        metadata = state["metadata"]
        part_cols = metadata.get("partitionColumns") or []
        version = _next_version(table_path)
        meta_action = None
    else:
        version = 0
        if column_mapping == "name":
            mapped = _mapped_schema_json(df.schema)
            max_id = mapped.pop("_max_id")
            schema_string = json.dumps(mapped)
            config = {"delta.columnMapping.mode": "name",
                      "delta.columnMapping.maxColumnId": str(max_id)}
            min_reader, min_writer = 2, 5
        else:
            schema_string = json.dumps(df.schema.jsonValue())
            config = {}
        meta_action = {
            "id": str(_uuid.uuid5(_uuid.NAMESPACE_URL,
                                  os.path.abspath(root))),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": part_cols,
            "configuration": config,
            "createdTime": int(time.time() * 1000)}
        metadata = meta_action
    os.makedirs(log, exist_ok=True)

    # physical rename: data files of a column-mapped table carry the
    # physical names; the frame comes in with logical names
    _, physical, phys = _schemas(metadata)
    logical_schema = delta_schema(metadata)
    rename = {f.name: phys.get(f.name, f.name)
              for f in logical_schema.fields}
    if any(k != v for k, v in rename.items()):
        df = df.select(*[
            F.col(lf.name).cast(pf.dataType).alias(pf.name)
            for lf, pf in zip(logical_schema.fields, physical.fields)])
        part_cols_phys = [rename.get(c, c) for c in part_cols]
    else:
        part_cols_phys = part_cols
    part_cols = part_cols_phys

    schema = df.schema
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols])
    groups: List[Tuple[Dict[str, Optional[str]], DataFrame, str]] = []
    if part_cols:
        tuples = [r.asDict() for r in
                  df.select(*part_cols).distinct().collect()]
        tuples.sort(key=lambda d: tuple(str(d[c]) for c in part_cols))
        for pv in tuples:
            cond = None
            for c in part_cols:
                e = (F.col(c).isNull() if pv[c] is None
                     else F.col(c) == F.lit(pv[c]))
                cond = e if cond is None else (cond & e)
            sub = df.filter(cond).drop(*part_cols)
            rel = "/".join(f"{c}={'__HIVE_DEFAULT_PARTITION__' if pv[c] is None else pv[c]}"
                           for c in part_cols)
            groups.append(({c: None if pv[c] is None else str(pv[c])
                            for c in part_cols}, sub, rel))
    else:
        groups.append(({}, df, ""))

    adds = []
    for pv, sub, rel in groups:
        outdir = os.path.join(root, rel, f"v{version}") if rel \
            else os.path.join(root, f"v{version}")
        sub.write.mode("overwrite").parquet(outdir)
        for name in sorted(os.listdir(outdir)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(outdir, name)
            stats = _file_stats_json(full, data_schema)
            if json.loads(stats)["numRecords"] == 0:
                os.remove(full)  # Spark emits empty part files for
                continue         # empty task partitions; don't log them
            relpath = os.path.relpath(full, root)
            adds.append({"add": {
                "path": relpath, "partitionValues": pv,
                "size": os.path.getsize(full),
                "modificationTime": int(os.path.getmtime(full) * 1000),
                "dataChange": True,
                "stats": stats}})

    commit_path = os.path.join(log, f"{version:020d}.json")
    with open(commit_path, "w") as f:
        if version == 0:
            f.write(json.dumps(
                {"protocol": {"minReaderVersion": min_reader,
                              "minWriterVersion": min_writer}}) + "\n")
        if meta_action is not None:
            f.write(json.dumps({"metaData": meta_action}) + "\n")
        f.write(json.dumps({"commitInfo": {
            "operation": "WRITE" if version == 0 else "APPEND",
            "timestamp": int(time.time() * 1000)}}) + "\n")
        for a in adds:
            f.write(json.dumps(a) + "\n")
    return version


def checkpoint_delta(table_path: str) -> int:
    """Write a parquet checkpoint at the current version (reader then
    starts from it instead of replaying every commit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = _replay(table_path)
    v = state["version"]

    # explicit arrow schema with MAP columns, matching real delta
    # checkpoints (and exercising the reader's map-tuple normalization)
    str_map = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct([("storageType", pa.string()),
                      ("pathOrInlineDv", pa.string()),
                      ("offset", pa.int32()),
                      ("sizeInBytes", pa.int32()),
                      ("cardinality", pa.int64())])
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues", str_map),
                       ("size", pa.int64()),
                       ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_()),
                       ("stats", pa.string()),
                       ("deletionVector", dv_t)])
    meta_t = pa.struct([("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string()),
                                              ("options", str_map)])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64())])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32()),
                         ("readerFeatures", pa.list_(pa.string())),
                         ("writerFeatures", pa.list_(pa.string()))])
    schema = pa.schema([("add", add_t), ("metaData", meta_t),
                        ("protocol", proto_t)])

    from datacontract_cli_spark.sources.delta_dv import normalize_descriptor

    def _add_row(add):
        dv = normalize_descriptor(add.get("deletionVector"))
        return {"path": add["path"],
                "partitionValues": list(
                    _pv_dict(add.get("partitionValues")).items()),
                "size": add.get("size", 0),
                "modificationTime": add.get("modificationTime", 0),
                "dataChange": bool(add.get("dataChange", True)),
                "stats": add.get("stats") or "",
                "deletionVector": dv}

    md = dict(state["metadata"])
    md_row = {"id": md.get("id", ""),
              "format": {"provider": (md.get("format") or {}).get(
                  "provider", "parquet"),
                  "options": list(((md.get("format") or {}).get("options")
                                   or {}).items())},
              "schemaString": md["schemaString"],
              "partitionColumns": md.get("partitionColumns") or [],
              "configuration": list((md.get("configuration") or {}).items()),
              "createdTime": md.get("createdTime", 0)}
    proto = state["protocol"] or {"minReaderVersion": 1,
                                  "minWriterVersion": 2}
    rows = [{"add": _add_row(a), "metaData": None, "protocol": None}
            for a in state["files"].values()]
    rows.append({"add": None, "metaData": md_row, "protocol": None})
    rows.append({"add": None, "metaData": None,
                 "protocol": {"minReaderVersion":
                              proto.get("minReaderVersion", 1),
                              "minWriterVersion":
                              proto.get("minWriterVersion", 2),
                              "readerFeatures":
                              proto.get("readerFeatures"),
                              "writerFeatures":
                              proto.get("writerFeatures")}})
    tbl = pa.Table.from_pylist(rows, schema=schema)
    log = _log_dir(table_path)
    pq.write_table(tbl, os.path.join(log, f"{v:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": v, "size": len(rows)}, f)
    return v


def delete_rows_delta(spark: SparkSession, table_path: str,
                      predicate: str) -> int:
    """Merge-on-read DELETE: commit deletion vectors marking every
    current row matching ``predicate`` — no data file rewritten (the
    Delta twin of ``delete_rows_iceberg``).

    Spark-first: matching (file, row_index) pairs come from the hidden
    metadata columns of the live scan (existing DVs already applied, so
    re-deleting is naturally idempotent and a second DELETE composes);
    the per-file position sets group distributed and only the deleted
    fraction reaches the driver, where each file's roaring bitmap is
    serialized into ONE shared ``deletion_vector_<uuid>.bin``. The new
    descriptors supersede the old adds under protocol 3 +
    readerFeatures=[deletionVectors] (columnMapping is carried forward
    when the table uses it). At delta-spark's own scale the bitmap
    build runs inside a per-file task; the driver-side build here is
    bounded by the delete fraction, same caveat as the fixture writers."""
    import time
    import uuid as _uuid

    from datacontract_cli_spark.sources.delta_dv import (
        build_dv_blob,
        deleted_positions,
        make_descriptor_u,
        normalize_descriptor,
        write_dv_file,
    )

    state = _replay(table_path)
    root = _strip_scheme(table_path)
    live = read_delta(spark, table_path, with_position=True)
    hits = (live.filter(predicate)
            .groupBy("__dl_file")
            .agg(F.sort_array(F.collect_list("__dl_pos")).alias("pos"))
            .collect())
    version = _next_version(table_path)
    if not hits:
        return version - 1  # nothing matched: no commit

    import numpy as np
    by_rel: Dict[str, np.ndarray] = {}
    for r in hits:
        rel = os.path.relpath(r["__dl_file"], os.path.abspath(root))
        by_rel[rel] = np.asarray(r["pos"], dtype=np.uint64)

    uid = _uuid.uuid5(_uuid.NAMESPACE_URL,
                      os.path.abspath(root) + f"#dv{version}")
    rels = sorted(by_rel)
    blobs, cards = [], []
    for rel in rels:
        add = state["files"][rel]
        pos = by_rel[rel]
        old = normalize_descriptor(add.get("deletionVector"))
        if old:  # the new DV replaces the old one: union required
            pos = np.union1d(pos, deleted_positions(old, root))
        blobs.append(build_dv_blob(pos))
        cards.append(int(pos.size))
    from datacontract_cli_spark.sources.delta_dv import dv_file_name
    spans = write_dv_file(os.path.join(root, dv_file_name(uid)), blobs)

    proto = state.get("protocol") or {}
    reader_feats = set(proto.get("readerFeatures") or [])
    writer_feats = set(proto.get("writerFeatures") or [])
    reader_feats.add("deletionVectors")
    writer_feats.add("deletionVectors")
    if _mapping_mode(state["metadata"]) != "none":
        reader_feats.add("columnMapping")
        writer_feats.add("columnMapping")

    now_ms = int(time.time() * 1000)
    lines = [json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": sorted(reader_feats),
        "writerFeatures": sorted(writer_feats)}}),
        json.dumps({"commitInfo": {"operation": "DELETE",
                                   "timestamp": now_ms}})]
    for rel, (offset, size), card in zip(rels, spans, cards):
        add = dict(state["files"][rel])
        pv = _pv_dict(add.get("partitionValues"))
        lines.append(json.dumps({"remove": {
            "path": rel, "deletionTimestamp": now_ms,
            "dataChange": True, "partitionValues": pv,
            "size": add.get("size", 0)}}))
        add["partitionValues"] = pv
        add["deletionVector"] = make_descriptor_u(uid, offset, size, card)
        add["dataChange"] = True
        lines.append(json.dumps({"add": add}))

    with open(os.path.join(_log_dir(table_path),
                           f"{version:020d}.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return version


def compact_delta(spark: SparkSession, table_path: str) -> int:
    """Bin-pack compaction (OPTIMIZE + DV materialization): read the
    current table state — deletion vectors applied — rewrite it as clean
    parquet, and commit one version that removes every old add and adds
    the rewritten files with ``dataChange=false`` (the Delta convention:
    compaction rearranges bytes, it does not change data). Post-compaction
    scans carry no DVs, so the anti-join disappears from the plan. Prior
    versions stay time-travelable until :func:`vacuum_delta` reclaims
    their files — exactly Delta's OPTIMIZE/VACUUM split."""
    import time

    state = _replay(table_path)
    root = _strip_scheme(table_path)
    metadata = state["metadata"]
    part_cols = metadata.get("partitionColumns") or []
    logical, physical, phys = _schemas(metadata)
    version = _next_version(table_path)

    df = read_delta(spark, table_path)
    # data files carry PHYSICAL names on mapped tables
    if any(lf.name != pf.name for lf, pf in zip(logical.fields,
                                                physical.fields)):
        df = df.select(*[
            F.col(lf.name).cast(pf.dataType).alias(pf.name)
            for lf, pf in zip(logical.fields, physical.fields)])
    part_phys = [phys.get(c, c) for c in part_cols]
    data_schema = T.StructType(
        [f for f in physical.fields if f.name not in part_phys])

    groups: List[Tuple[Dict[str, Optional[str]], Any, str]] = []
    if part_phys:
        tuples = [r.asDict() for r in
                  df.select(*part_phys).distinct().collect()]
        tuples.sort(key=lambda d: tuple(str(d[c]) for c in part_phys))
        for pv in tuples:
            cond = None
            for c in part_phys:
                e = (F.col(c).isNull() if pv[c] is None
                     else F.col(c) == F.lit(pv[c]))
                cond = e if cond is None else (cond & e)
            rel = "/".join(
                f"{c}={'__HIVE_DEFAULT_PARTITION__' if pv[c] is None else pv[c]}"
                for c in part_phys)
            groups.append(({c: None if pv[c] is None else str(pv[c])
                            for c in part_phys},
                           df.filter(cond).drop(*part_phys), rel))
    else:
        groups.append(({}, df, ""))

    now_ms = int(time.time() * 1000)
    lines = [json.dumps({"commitInfo": {"operation": "OPTIMIZE",
                                        "timestamp": now_ms}})]
    for rel_path, add in state["files"].items():
        lines.append(json.dumps({"remove": {
            "path": rel_path, "deletionTimestamp": now_ms,
            "dataChange": False,
            "partitionValues": _pv_dict(add.get("partitionValues")),
            "size": add.get("size", 0)}}))
    for pv, sub, rel in groups:
        outdir = os.path.join(root, rel, f"v{version}") if rel \
            else os.path.join(root, f"v{version}")
        sub.coalesce(1).write.mode("overwrite").parquet(outdir)
        for name in sorted(os.listdir(outdir)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(outdir, name)
            stats = _file_stats_json(full, data_schema)
            if json.loads(stats)["numRecords"] == 0:
                os.remove(full)
                continue
            lines.append(json.dumps({"add": {
                "path": os.path.relpath(full, root),
                "partitionValues": pv,
                "size": os.path.getsize(full),
                "modificationTime": int(os.path.getmtime(full) * 1000),
                "dataChange": False,
                "stats": stats}}))

    with open(os.path.join(_log_dir(table_path),
                           f"{version:020d}.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return version


def vacuum_delta(table_path: str) -> Dict[str, int]:
    """Delete every data/DV file the CURRENT version does not reference
    (retention 0 — the test/maintenance shape of Delta's VACUUM; older
    versions stop being time-travelable, same trade real VACUUM makes).
    Metadata-bound: one log replay, no data scan. Returns
    ``{"deleted_files": n, "reclaimed_bytes": n}``."""
    from datacontract_cli_spark.sources.delta_dv import (
        dv_file_name,
        normalize_descriptor,
        z85_decode,
    )
    import uuid as _uuid

    state = _replay(table_path)
    root = os.path.abspath(_strip_scheme(table_path))
    referenced = set()
    for rel, add in state["files"].items():
        referenced.add(os.path.abspath(os.path.join(root, rel)))
        dv = normalize_descriptor(add.get("deletionVector"))
        if dv and dv.get("storageType") == "u":
            ref = dv["pathOrInlineDv"]
            uid = _uuid.UUID(bytes=z85_decode(ref[-20:]))
            referenced.add(os.path.abspath(
                os.path.join(root, dv_file_name(uid, ref[:-20]))))
        elif dv and dv.get("storageType") == "p":
            referenced.add(os.path.abspath(dv["pathOrInlineDv"]))

    deleted = reclaimed = 0
    for dirpath, _dirs, names in os.walk(root):
        if "_delta_log" in dirpath:
            continue
        for name in names:
            if not (name.endswith(".parquet") or name.endswith(".bin")):
                continue
            full = os.path.abspath(os.path.join(dirpath, name))
            if full not in referenced:
                reclaimed += os.path.getsize(full)
                os.remove(full)
                deleted += 1
    return {"deleted_files": deleted, "reclaimed_bytes": reclaimed}
