"""Pure-Python Avro binary codec (no fastavro dependency).

Zigzag varints, IEEE floats, length-prefixed bytes/strings, records/
arrays/maps/unions/enums/fixed, and the date / timestamp-millis /
timestamp-micros / decimal logical types. :mod:`.avro_ocf` builds the
Avro object-container files of Iceberg manifests on it; it follows the
schemaless codec of the reference's Avro lane (datacontract/engines/ibis/
connections/kafka.py:42-56)."""

from __future__ import annotations

import datetime
import decimal
import io
import struct
from typing import Any, Dict, List

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


# ---------------------------------------------------------------------------
# Avro binary codec (pure Python)
# ---------------------------------------------------------------------------

def _read_long(buf: io.BytesIO) -> int:
    """Zigzag-encoded variable-length integer."""
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise ValueError("truncated Avro varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_long(out: io.BytesIO, value: int) -> None:
    # zigzag: Python's arithmetic >> sign-extends, so the 64-bit formula
    # holds as-is (negative n: (n<<1)^(n>>63) == ~(n<<1) == -2n-1)
    value = (value << 1) ^ (value >> 63)
    while True:
        byte = value & 0x7F
        value >>= 7
        if value:
            out.write(bytes((byte | 0x80,)))
        else:
            out.write(bytes((byte,)))
            break


def _logical(schema: Dict[str, Any], value: Any) -> Any:
    lt = schema.get("logicalType")
    if lt == "date":
        return _EPOCH_DATE + datetime.timedelta(days=value)
    if lt == "timestamp-millis":
        return _EPOCH + datetime.timedelta(milliseconds=value)
    if lt == "timestamp-micros":
        return _EPOCH + datetime.timedelta(microseconds=value)
    if lt == "local-timestamp-millis":
        return (datetime.datetime(1970, 1, 1)
                + datetime.timedelta(milliseconds=value))
    if lt == "decimal":
        scale = int(schema.get("scale", 0))
        unscaled = int.from_bytes(value, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-scale)
    return value


def schemaless_read(buf: io.BytesIO, schema: Any) -> Any:
    """Decode one Avro value written with `schema` (no container framing)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: long index, then value
        idx = _read_long(buf)
        if idx < 0 or idx >= len(schema):
            raise ValueError(f"Avro union index {idx} out of range")
        return schemaless_read(buf, schema[idx])
    else:
        t = schema["type"]

    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        v = _read_long(buf)
        return _logical(schema, v) if isinstance(schema, dict) else v
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        n = _read_long(buf)
        v = buf.read(n)
        return _logical(schema, v) if isinstance(schema, dict) else v
    if t == "string":
        n = _read_long(buf)
        return buf.read(n).decode("utf-8")
    if t == "record":
        return {f["name"]: schemaless_read(buf, f["type"])
                for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "fixed":
        v = buf.read(int(schema["size"]))
        return _logical(schema, v)
    if t == "array":
        out: List[Any] = []
        while True:
            count = _read_long(buf)
            if count == 0:
                break
            if count < 0:  # negative count: block byte-size follows
                count = -count
                _read_long(buf)
            for _ in range(count):
                out.append(schemaless_read(buf, schema["items"]))
        return out
    if t == "map":
        m: Dict[str, Any] = {}
        while True:
            count = _read_long(buf)
            if count == 0:
                break
            if count < 0:
                count = -count
                _read_long(buf)
            for _ in range(count):
                n = _read_long(buf)
                key = buf.read(n).decode("utf-8")
                m[key] = schemaless_read(buf, schema["values"])
        return m
    raise ValueError(f"unsupported Avro type: {t!r}")


def _branch_matches(s: Any, value: Any, lenient: bool = False) -> bool:
    """Does this union branch's Avro type accept this Python value?"""
    t = s if isinstance(s, str) else s.get("type")
    lt = s.get("logicalType") if isinstance(s, dict) else None
    if value is None:
        return t == "null"
    if t == "null":
        return False
    if isinstance(value, bool):  # bool before int: bool is an int subclass
        return t == "boolean"
    if isinstance(value, datetime.datetime):
        return t == "long" and (lt or "").startswith(("timestamp",
                                                      "local-timestamp"))
    if isinstance(value, datetime.date):
        return t == "int" and lt == "date"
    if isinstance(value, decimal.Decimal):
        return t in ("bytes", "fixed") and lt == "decimal"
    if isinstance(value, int):
        if t in ("int", "long") and lt is None:
            return True
        return lenient and t in ("float", "double")
    if isinstance(value, float):
        return t in ("float", "double")
    if isinstance(value, str):
        if t == "string":
            return True
        return t == "enum" and value in s.get("symbols", ())
    if isinstance(value, (bytes, bytearray)):
        return t in ("bytes", "fixed") and lt != "decimal"
    if isinstance(value, dict):
        if t == "record":
            # strict: field names must match exactly (disambiguates a
            # union of record + map); lenient: any dict may be a record
            return lenient or set(value) == {f["name"] for f in s["fields"]}
        return t == "map"
    if isinstance(value, (list, tuple)):
        return t == "array"
    return False


def _union_branch(branches: List[Any], value: Any) -> int:
    """Index of the union branch whose type matches the value — by
    Python-type-to-Avro-type matching, not null-vs-non-null (a
    ["null","int","string"] union must route "x" to the string branch,
    never corrupt it under the first non-null branch)."""
    for lenient in (False, True):
        for i, s in enumerate(branches):
            if _branch_matches(s, value, lenient):
                return i
    raise ValueError(
        f"no union branch in {branches!r} accepts {type(value).__name__} "
        f"value {value!r}")


def schemaless_write(out: io.BytesIO, schema: Any, value: Any) -> None:
    """Encode one value (inverse of :func:`schemaless_read`; used for
    round-trip tests and synthetic topics)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        idx = _union_branch(schema, value)
        _write_long(out, idx)
        schemaless_write(out, schema[idx], value)
        return
    else:
        t = schema["type"]

    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        if isinstance(schema, dict):
            lt = schema.get("logicalType")
            if lt == "date":
                value = (value - _EPOCH_DATE).days
            elif lt in ("timestamp-millis", "timestamp-micros"):
                # exact integer datetime arithmetic: float .timestamp()
                # has ~0.5µs resolution at current epochs (truncation
                # flips microseconds) and interprets naive datetimes in
                # LOCAL time while the reader returns UTC — treat naive
                # as UTC instead
                if value.tzinfo is None:
                    value = value.replace(tzinfo=datetime.timezone.utc)
                unit = (datetime.timedelta(milliseconds=1)
                        if lt == "timestamp-millis"
                        else datetime.timedelta(microseconds=1))
                value = (value - _EPOCH) // unit
            elif lt == "local-timestamp-millis":
                value = int((value - datetime.datetime(1970, 1, 1))
                            / datetime.timedelta(milliseconds=1))
        _write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", value))
    elif t == "double":
        out.write(struct.pack("<d", value))
    elif t == "bytes":
        if isinstance(schema, dict) and schema.get("logicalType") == "decimal":
            scale = int(schema.get("scale", 0))
            unscaled = int(value.scaleb(scale))
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            value = unscaled.to_bytes(nbytes, "big", signed=True)
        _write_long(out, len(value))
        out.write(value)
    elif t == "string":
        data = value.encode("utf-8")
        _write_long(out, len(data))
        out.write(data)
    elif t == "record":
        for f in schema["fields"]:
            schemaless_write(out, f["type"], value.get(f["name"]))
    elif t == "enum":
        _write_long(out, schema["symbols"].index(value))
    elif t == "fixed":
        out.write(value)
    elif t == "array":
        if value:
            _write_long(out, len(value))
            for item in value:
                schemaless_write(out, schema["items"], item)
        _write_long(out, 0)
    elif t == "map":
        if value:
            _write_long(out, len(value))
            for k, v in value.items():
                schemaless_write(out, "string", k)
                schemaless_write(out, schema["values"], v)
        _write_long(out, 0)
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")
