"""Pure-Python Avro binary codec: round-trips, unions, logical types and
positional misreads.

Reference: datacontract/engines/ibis/connections/kafka.py:42-56.
"""

import datetime
import decimal
import io

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datacontract_cli_spark.sources import kafka_avro as ka

def _encode(schema, record) -> bytes:
    out = io.BytesIO()
    ka.schemaless_write(out, schema, record)
    return out.getvalue()


def _roundtrip(schema, value):
    return ka.schemaless_read(io.BytesIO(_encode(schema, value)), schema)


# --- codec -------------------------------------------------------------------

@pytest.mark.parametrize("schema,value", [
    ("long", 0), ("long", -1), ("long", 2**62), ("long", -(2**62)),
    ("int", 42), ("boolean", True), ("boolean", False),
    ("string", "héllo ✓"), ("bytes", b"\x00\xff"),
    ("double", 3.141592653589793), ("null", None),
    (["null", "string"], None), (["null", "string"], "x"),
    ({"type": "array", "items": "long"}, [1, -2, 3]),
    ({"type": "array", "items": "long"}, []),
    ({"type": "map", "values": "string"}, {"a": "1", "b": "2"}),
    ({"type": "enum", "name": "e", "symbols": ["A", "B"]}, "B"),
    ({"type": "fixed", "name": "f", "size": 3}, b"abc"),
])
def test_scalar_roundtrip(schema, value):
    assert _roundtrip(schema, value) == value


def test_float_roundtrip():
    assert _roundtrip("float", 1.5) == 1.5


def test_logical_types_roundtrip():
    assert _roundtrip({"type": "int", "logicalType": "date"},
                      datetime.date(2024, 2, 29)) == datetime.date(2024, 2, 29)
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 123000,
                           tzinfo=datetime.timezone.utc)
    assert _roundtrip({"type": "long", "logicalType": "timestamp-millis"}, ts) == ts
    tsu = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456,
                            tzinfo=datetime.timezone.utc)
    assert _roundtrip({"type": "long", "logicalType": "timestamp-micros"}, tsu) == tsu
    dec = {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 3}
    assert _roundtrip(dec, decimal.Decimal("-12.345")) == decimal.Decimal("-12.345")


@pytest.mark.parametrize("value", [None, 42, "forty-two", True, 1.5,
                                   b"\x01", [7], {"k": 9}])
def test_multi_branch_union_routes_by_python_type(value):
    # ADVICE r4: unions with several non-null branches must pick the branch
    # whose TYPE matches the value, not the first non-null branch
    schema = ["null", "boolean", "long", "double", "string", "bytes",
              {"type": "array", "items": "long"},
              {"type": "map", "values": "long"}]
    assert _roundtrip(schema, value) == value


def test_union_no_matching_branch_raises():
    with pytest.raises(ValueError, match="no union branch"):
        _roundtrip(["null", "long"], "not-a-long")


def test_union_record_vs_map_disambiguation():
    rec_schema = {"type": "record", "name": "r",
                  "fields": [{"name": "x", "type": "long"}]}
    schema = ["null", rec_schema, {"type": "map", "values": "long"}]
    assert _roundtrip(schema, {"x": 5}) == {"x": 5}          # exact fields: record
    assert _roundtrip(schema, {"y": 5, "z": 6}) == {"y": 5, "z": 6}  # map


def test_record_with_union_and_nesting():
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"]},
        {"name": "c", "type": {"type": "record", "name": "inner", "fields": [
            {"name": "x", "type": "double"}]}},
    ]}
    rec = {"a": 7, "b": None, "c": {"x": 0.5}}
    assert _roundtrip(schema, rec) == rec


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_zigzag_long_property(n):
    out = io.BytesIO()
    ka._write_long(out, n)
    assert ka._read_long(io.BytesIO(out.getvalue())) == n


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                          st.text(max_size=20),
                          st.booleans()), max_size=10))
def test_record_roundtrip_property(rows):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "i", "type": "int"}, {"name": "s", "type": "string"},
        {"name": "b", "type": "boolean"}]}
    for i, s, b in rows:
        rec = {"i": i, "s": s, "b": b}
        assert _roundtrip(schema, rec) == rec


def test_positional_misread_detected():
    # reading with the wrong schema must raise, not silently succeed
    # (Avro is positional — the reference's core correctness concern, #1347)
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "s", "type": "string"}]}
    payload = _encode(schema, {"s": "x" * 3})
    wrong = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": "string"}, {"name": "t", "type": "string"}]}
    with pytest.raises(ValueError):
        ka.schemaless_read(io.BytesIO(payload), wrong)


def test_timestamp_micros_exact_and_naive_is_utc():
    # integer datetime arithmetic: no float truncation at any microsecond
    for us in (1, 2, 3, 999999):
        ts = datetime.datetime(2026, 6, 1, 0, 0, 0, us,
                               tzinfo=datetime.timezone.utc)
        assert _roundtrip({"type": "long", "logicalType": "timestamp-micros"},
                          ts) == ts
    # a naive datetime is treated as UTC, not host-local time
    naive = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    got = _roundtrip({"type": "long", "logicalType": "timestamp-micros"}, naive)
    assert got == naive.replace(tzinfo=datetime.timezone.utc)
