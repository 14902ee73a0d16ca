"""File/blob metadata checks for ``logicalType: blob`` schema objects.

The reference implements this surface Azure-only through the azure SDK
(engines/datacontract/check_azure_blob_file.py:69-446): list blobs under
the server location, then per declared property run required + quality
constraints over the blob metadata, plus file-count thresholds on the
schema object. This is the storage-agnostic Spark re-expression: the
listing goes through the Hadoop FileSystem API bound to the active
SparkSession, so the same code serves file://, hdfs://, s3a://, abfss://,
gs:// — whatever filesystems the cluster is configured for.

Scale note: like the reference, the listing is driver-side METADATA-only
(O(number of files), no data reads). For object stores with millions of
keys, point the location at a prefix, not the bucket root.
"""

from __future__ import annotations

import datetime as dt
import fnmatch
import re
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Optional, Tuple

from datacontract_cli_spark.model.contract import (
    DataContract,
    Property,
    QualityRule,
    Server,
)
from datacontract_cli_spark.model.run import Check, ResultEnum, Run


@dataclass
class FileMeta:
    name: str            # file name (no directory)
    path: str            # full URI
    size: int            # bytes
    lastModified: dt.datetime  # UTC


FILE_EXTRACTORS: Dict[str, Callable[[FileMeta], Any]] = {
    "name": lambda f: f.name,
    "path": lambda f: f.path,
    "size": lambda f: f.size,
    "lastModified": lambda f: f.lastModified,
    "extension": lambda f: (f.name.rsplit(".", 1)[1].lower() if "." in f.name else None),
}


def list_files(spark, location: str, recursive: bool = True,
               pattern: Optional[str] = None) -> List[FileMeta]:
    """All files under ``location`` via the Hadoop FileSystem bound to the
    session (works for every scheme the cluster can reach)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: List[FileMeta] = []
    it = fs.listFiles(jpath, recursive)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if pattern and not fnmatch.fnmatch(name, pattern):
            continue
        out.append(FileMeta(
            name=name,
            path=st.getPath().toString(),
            size=int(st.getLen()),
            lastModified=dt.datetime.fromtimestamp(
                st.getModificationTime() / 1000.0, tz=dt.timezone.utc),
        ))
    out.sort(key=lambda f: f.path)
    return out


def _describe(q: QualityRule) -> str:
    for attr, word in (("must_be", "= {}"), ("must_not_be", "!= {}"),
                       ("must_be_gt", "> {}"), ("must_be_ge", ">= {}"),
                       ("must_be_lt", "< {}"), ("must_be_le", "<= {}")):
        v = getattr(q, attr)
        if v is not None:
            return word.format(v)
    if q.must_be_between:
        return f"between {q.must_be_between[0]} and {q.must_be_between[1]}"
    if q.must_not_be_between:
        return f"not between {q.must_not_be_between[0]} and {q.must_not_be_between[1]}"
    if q.arguments and q.arguments.get("pattern"):
        return f"matching {q.arguments['pattern']}"
    return "constraint"


def _evaluate(q: QualityRule, value: Any) -> Tuple[bool, str]:
    """One constraint against one file's metadata value. Datetime metadata
    compares against ISO-8601 string bounds (the YAML-native spelling);
    both sides normalize to epoch seconds before comparing."""
    def norm(v):
        if isinstance(v, dt.datetime):
            return v.timestamp()
        if isinstance(v, str) and isinstance(value, dt.datetime):
            parsed = dt.datetime.fromisoformat(v)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=dt.timezone.utc)
            return parsed.timestamp()
        return v

    if q.arguments and q.arguments.get("pattern") is not None:
        ok = re.search(q.arguments["pattern"], str(value)) is not None
        return ok, f"'{value}' does not match {q.arguments['pattern']}"
    checks = [
        ("must_be", lambda a, b: a == b, "must be"),
        ("must_not_be", lambda a, b: a != b, "must not be"),
        ("must_be_gt", lambda a, b: a > b, "must be greater than"),
        ("must_be_ge", lambda a, b: a >= b, "must be greater or equal to"),
        ("must_be_lt", lambda a, b: a < b, "must be less than"),
        ("must_be_le", lambda a, b: a <= b, "must be less or equal to"),
    ]
    for attr, op, word in checks:
        bound = getattr(q, attr)
        if bound is not None:
            if not op(norm(value), norm(bound)):
                return False, f"{value} {word} {bound}"
    if q.must_be_between is not None:
        lo, hi = q.must_be_between
        if not (norm(lo) <= norm(value) <= norm(hi)):
            return False, f"{value} must be between {lo} and {hi}"
    if q.must_not_be_between is not None:
        lo, hi = q.must_not_be_between
        if norm(lo) <= norm(value) <= norm(hi):
            return False, f"{value} must not be between {lo} and {hi}"
    return True, ""


def _append(run: Run, **kw) -> None:
    run.checks.append(Check(engine="datacontract-cli-spark",
                            language="introspection", **kw))


def check_blob_files(run: Run, contract: DataContract, server: Optional[Server],
                     spark, schema_name: str = "all") -> None:
    """File-metadata checks for every blob schema object (reference
    check_azure_blob_file.py semantics, storage-agnostic)."""
    blob_schemas = [s for s in contract.schema_objects
                    if (s.logical_type or "").lower() == "blob"
                    and (schema_name == "all" or s.name == schema_name)]
    if not blob_schemas:
        return
    location = (server.location or server.path) if server else None
    if not location:
        _append(run, key="file_configuration", category="schema",
                type="file_configuration", name="File checks — server location",
                result=ResultEnum.failed,
                reason="Server block has no 'location' or 'path'; cannot list files.")
        return
    for schema in blob_schemas:
        key_base = f"{schema.name}__file"
        try:
            files = list_files(spark, location)
        except Exception as e:  # noqa: BLE001
            _append(run, key=f"{key_base}_list", category="schema", type="file_list",
                    name=f"[{schema.name}] File checks — list files",
                    model=schema.name, result=ResultEnum.error,
                    reason=f"Failed to list files at '{location}': {e}")
            continue
        if not files:
            continue
        run.log_info(f"[{schema.name}] Found {len(files)} file(s) under '{location}'")
        for prop in schema.properties or []:
            _check_property(run, schema.name, prop, files)
        if schema.quality:
            _check_file_count(run, schema.name, schema.quality, len(files))


def _check_property(run: Run, schema_name: str, prop: Property,
                    files: List[FileMeta]) -> None:
    extractor = FILE_EXTRACTORS.get(prop.name)
    if extractor is None:
        run.log_warn(f"[{schema_name}] No file-metadata extractor for property "
                     f"'{prop.name}' — skipped")
        return
    key_base = f"{schema_name}__{prop.name}"
    if prop.required:
        missing = [f.path for f in files if extractor(f) is None]
        _append(run, key=f"{key_base}__file_required", category="schema",
                type="file_property_required",
                name=f"Check schema[{schema_name}].properties[{prop.name}] is required",
                model=schema_name, field=prop.name,
                result=ResultEnum.failed if missing else ResultEnum.passed,
                reason=(f"{len(missing)} file(s) have no value for '{prop.name}'."
                        if missing else
                        f"All {len(files)} file(s) have a value for '{prop.name}'."))
    for i, q in enumerate(prop.quality or []):
        violations = []
        try:
            for f in files:
                value = extractor(f)
                if value is None:
                    continue  # required: true catches missing
                ok, why = _evaluate(q, value)
                if not ok:
                    violations.append((f.name, why))
        except Exception as e:  # noqa: BLE001 — bad constraint: error, not crash
            _append(run, key=f"{key_base}__file_quality_{i}", category="quality",
                    type="file_property_quality",
                    name=f"Check schema[{schema_name}].properties[{prop.name}] "
                         f"has {_describe(q)}",
                    model=schema_name, field=prop.name, result=ResultEnum.error,
                    reason=f"Constraint could not be evaluated: {e}")
            continue
        desc = _describe(q)
        details = "; ".join(f"{n}: {w}" for n, w in violations[:5])
        if len(violations) > 5:
            details += f" … and {len(violations) - 5} more"
        _append(run, key=f"{key_base}__file_quality_{i}", category="quality",
                type="file_property_quality",
                name=f"Check schema[{schema_name}].properties[{prop.name}] has {desc}",
                model=schema_name, field=prop.name,
                result=ResultEnum.failed if violations else ResultEnum.passed,
                reason=(f"{len(violations)} file(s) violate '{prop.name} {desc}'. {details}"
                        if violations else
                        f"All {len(files)} file(s) satisfy '{prop.name} {desc}'."))


def _check_file_count(run: Run, schema_name: str, quality: List[QualityRule],
                      file_count: int) -> None:
    for i, q in enumerate(quality):
        if (q.metric or "") not in ("fileCount", "rowCount", "count"):
            continue
        ok, why = _evaluate(q, file_count)
        desc = _describe(q)
        _append(run, key=f"{schema_name}__file_count_{i}", category="quality",
                type="file_count_quality",
                name=f"Check schema[{schema_name}] file count {desc}",
                model=schema_name,
                result=ResultEnum.passed if ok else ResultEnum.failed,
                reason=(f"File count {file_count} satisfies '{desc}'." if ok
                        else f"File count {why}."))
