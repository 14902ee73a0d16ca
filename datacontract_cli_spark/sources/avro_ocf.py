"""Avro Object Container File (OCF) reader/writer, pure Python.

Iceberg's metadata layer (manifest lists and manifest files) is stored as
Avro OCF — the `Obj\\x01` container format: a header with a file-metadata
map (``avro.schema`` JSON + ``avro.codec``) and a 16-byte sync marker,
then data blocks of ``(record_count, byte_length, payload, sync)`` where
the payload is the concatenated schemaless binary encoding, optionally
deflate-compressed (raw DEFLATE, no zlib header, per the Avro spec).

Built on the pure-Python binary codec of
:mod:`datacontract_cli_spark.sources.kafka_avro` (no fastavro
dependency). This is a METADATA-plane reader: Iceberg manifests are
small (KBs–MBs) and read driver-side during planning, exactly as the
Iceberg library itself plans scans; the data plane stays
``spark.read.parquet`` on executors.

Reference parity: the reference CLI reads Iceberg through pyiceberg
(datacontract/imports/iceberg_importer.py) which performs the identical
OCF decode internally.
"""

from __future__ import annotations

import io
import json
import os
import zlib
from typing import Any, Dict, List, Optional, Tuple

from datacontract_cli_spark.sources.kafka_avro import (
    _read_long,
    _write_long,
    schemaless_read,
    schemaless_write,
)

MAGIC = b"Obj\x01"

_HEADER_META_SCHEMA = {"type": "map", "values": "bytes"}


def _read_header(buf: io.BytesIO) -> Tuple[Any, str, bytes]:
    """Returns (writer_schema, codec, sync_marker). Map keys decode as str
    (the codec's map reader), values as bytes."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: Dict[str, bytes] = schemaless_read(buf, _HEADER_META_SCHEMA) or {}
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("ascii")
    sync = buf.read(16)
    if len(sync) != 16:
        raise ValueError("truncated Avro header (sync marker)")
    return schema, codec, sync


def read_ocf(source: "bytes | str") -> Tuple[Any, List[Dict[str, Any]]]:
    """Read every record of an OCF file. ``source`` is a path or raw bytes.
    Returns ``(writer_schema, records)``."""
    if isinstance(source, (bytes, bytearray)):
        data = bytes(source)
    else:
        with open(source, "rb") as f:
            data = f.read()
    buf = io.BytesIO(data)
    schema, codec, sync = _read_header(buf)
    records: List[Dict[str, Any]] = []
    while buf.tell() < len(data):
        try:
            count = _read_long(buf)
        except ValueError:
            break  # clean EOF
        size = _read_long(buf)
        payload = buf.read(size)
        if len(payload) != size:
            raise ValueError("truncated Avro data block")
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec != "null":
            raise NotImplementedError(
                f"Avro codec {codec!r} not supported (null/deflate only)")
        block = io.BytesIO(payload)
        for _ in range(count):
            records.append(schemaless_read(block, schema))
        if buf.read(16) != sync:
            raise ValueError("Avro sync marker mismatch (corrupt block)")
    return schema, records


def write_ocf(path: Optional[str], schema: Any,
              records: List[Dict[str, Any]], codec: str = "deflate",
              sync: Optional[bytes] = None) -> bytes:
    """Write records as one OCF block. Returns the bytes (and writes to
    ``path`` when given). The sync marker is derived deterministically from
    the schema+record count unless supplied — reproducible fixtures beat
    os.urandom here (nothing in the format requires randomness, only that
    the marker not appear in the payload, which the length-prefixed block
    framing already guarantees structurally)."""
    if sync is None:
        import hashlib
        sync = hashlib.md5(
            json.dumps(schema, sort_keys=True).encode()
            + str(len(records)).encode()).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("ascii")}
    schemaless_write(out, _HEADER_META_SCHEMA, meta)
    out.write(sync)

    block = io.BytesIO()
    for rec in records:
        schemaless_write(block, schema, rec)
    payload = block.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    elif codec != "null":
        raise NotImplementedError(f"Avro codec {codec!r} not supported")
    _write_long(out, len(records))
    _write_long(out, len(payload))
    out.write(payload)
    out.write(sync)

    data = out.getvalue()
    if path is not None:
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    return data
