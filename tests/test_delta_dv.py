"""Delta protocol-3 surface: roaring bitmap codec (spec-pinned bytes +
hypothesis round-trips), Z85, deletion-vector files and descriptors,
merge-on-read DELETE commits, column mapping, and their composition
(checkpoint carries DVs; a mapped table takes DV deletes).

Reference parity: datacontract-cli binds Delta through delta-spark /
deltalake, which implement the identical DV format (Delta protocol,
"Deletion Vectors") and column-mapping metadata."""

import json
import os
import struct
import uuid as _uuid

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datacontract_cli_spark.sources.delta_dv import (
    build_dv_blob,
    deleted_positions,
    make_descriptor_u,
    read_dv_blob,
    write_dv_file,
    z85_decode,
    z85_encode,
)
from datacontract_cli_spark.sources.delta_table import (
    checkpoint_delta,
    delete_rows_delta,
    plan_delta,
    read_delta,
    write_delta_table,
)
from datacontract_cli_spark.sources.roaring import (
    SERIAL_COOKIE,
    deserialize_rbm64_portable,
    deserialize_roaring32,
    serialize_rbm64_portable,
    serialize_roaring32,
)


# ---------------------------------------------------------------------------
# roaring codec
# ---------------------------------------------------------------------------

def test_roaring32_pinned_bytes():
    # {1,2,3}: cookie 12346, 1 container, key 0 card 3, offset 16, values
    assert serialize_roaring32(np.array([1, 2, 3])).hex() == (
        "3a300000" "01000000" "0000" "0200" "10000000" "010002000300")


def test_roaring32_bitset_container():
    vals = np.arange(10, 6000, dtype=np.uint32)  # card > 4096 -> bitset
    data = serialize_roaring32(vals)
    assert len(data) >= 8192
    got, _ = deserialize_roaring32(data)
    assert np.array_equal(got, vals)


def test_roaring32_run_container_decode():
    # hand-crafted cookie-12347 stream with one run container (5-8, 100-105)
    raw = struct.pack("<I", SERIAL_COOKIE | (0 << 16))
    raw += b"\x01"                      # run-flag bitset
    raw += struct.pack("<HH", 0, 9)     # key 0, cardinality 10
    raw += struct.pack("<H", 2)         # 2 runs (n<4: no offset header)
    raw += struct.pack("<HH", 5, 3) + struct.pack("<HH", 100, 5)
    got, _ = deserialize_roaring32(raw)
    assert got.tolist() == [5, 6, 7, 8, 100, 101, 102, 103, 104, 105]


def test_rbm64_magic_and_empty_highword():
    vals = np.array([7, (2 << 32) + 3], dtype=np.uint64)  # high word 1 empty
    blob = serialize_rbm64_portable(vals)
    assert blob[:4] == struct.pack("<i", 1681511377)
    assert np.array_equal(deserialize_rbm64_portable(blob), vals)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 40) - 1),
                max_size=300))
def test_rbm64_roundtrip_property(xs):
    vals = np.array(sorted(set(xs)), dtype=np.uint64)
    assert np.array_equal(
        deserialize_rbm64_portable(serialize_rbm64_portable(vals)), vals)


def test_z85_spec_vector():
    b = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(b) == "HelloWorld"
    assert z85_decode("HelloWorld") == b


# ---------------------------------------------------------------------------
# DV files + descriptors
# ---------------------------------------------------------------------------

def test_dv_file_roundtrip_and_crc(tmp_path):
    root = str(tmp_path)
    blobs = [build_dv_blob(np.array([1, 5, 9], dtype=np.uint64)),
             build_dv_blob(np.array([0], dtype=np.uint64))]
    uid = _uuid.uuid4()
    from datacontract_cli_spark.sources.delta_dv import dv_file_name
    path = os.path.join(root, dv_file_name(uid))
    spans = write_dv_file(path, blobs)
    assert open(path, "rb").read(1) == b"\x01"  # format version byte
    for blob, (off, size) in zip(blobs, spans):
        assert read_dv_blob(path, off, size) == blob
    d0 = make_descriptor_u(uid, *spans[0], cardinality=3)
    assert len(d0["pathOrInlineDv"]) == 20  # z85 uuid
    assert deleted_positions(d0, root).tolist() == [1, 5, 9]
    # corrupt one byte -> checksum failure
    data = bytearray(open(path, "rb").read())
    data[spans[0][0] + 5] ^= 0xFF
    open(path, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="checksum"):
        read_dv_blob(path, *spans[0])


def test_inline_descriptor(tmp_path):
    blob = build_dv_blob(np.array([2, 4], dtype=np.uint64))
    d = {"storageType": "i", "pathOrInlineDv": z85_encode(blob),
         "sizeInBytes": len(blob), "cardinality": 2}
    assert d["storageType"] == "i"
    assert deleted_positions(d, str(tmp_path)).tolist() == [2, 4]


# ---------------------------------------------------------------------------
# merge-on-read DELETE over a live table
# ---------------------------------------------------------------------------

def _doc_df(spark, n=200):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("grp"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"))


def test_delete_rows_delta_exact(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark), root, partition_by=["grp"])
    v = delete_rows_delta(spark, root, "doc_id % 7 = 0")
    assert v == 1
    got = read_delta(spark, root)
    expect = [i for i in range(200) if i % 7 != 0]
    assert sorted(r["doc_id"] for r in got.collect()) == expect
    # time travel predates the delete
    assert read_delta(spark, root, version=0).count() == 200


def test_second_delete_unions_dv(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark), root)
    delete_rows_delta(spark, root, "doc_id % 7 = 0")
    delete_rows_delta(spark, root, "doc_id % 11 = 0")
    expect = [i for i in range(200) if i % 7 != 0 and i % 11 != 0]
    assert sorted(r["doc_id"]
                  for r in read_delta(spark, root).collect()) == expect
    # exactly one live add per original file, DV descriptor present
    state, live = plan_delta(root)
    assert all(a.get("deletionVector") for a in live)


def test_fully_deleted_file_pruned(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark, 40), root, partition_by=["grp"])
    _, before = plan_delta(root)
    n_g2 = sum(1 for a in before
               if dict(a["partitionValues"]).get("grp") == "2")
    assert n_g2 > 0
    delete_rows_delta(spark, root, "grp = 2")
    _, after = plan_delta(root)
    # every grp=2 file is fully deleted (DV cardinality == numRecords)
    # and pruned from planning outright
    assert len(after) == len(before) - n_g2
    assert read_delta(spark, root).filter("grp = 2").count() == 0


def test_checkpoint_preserves_dv(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark), root)
    delete_rows_delta(spark, root, "doc_id < 50")
    checkpoint_delta(root)
    # drop the JSON commits: reader must recover DVs from the checkpoint
    log = os.path.join(root, "_delta_log")
    for f in os.listdir(log):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    got = read_delta(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(50, 200))


def test_delete_nothing_is_a_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark, 20), root)
    v = delete_rows_delta(spark, root, "doc_id > 999")
    assert v == 0  # no new version committed
    assert read_delta(spark, root).count() == 20


# ---------------------------------------------------------------------------
# column mapping
# ---------------------------------------------------------------------------

def test_column_mapping_roundtrip(spark, tmp_path):
    root = str(tmp_path / "m")
    df = _doc_df(spark, 60)
    write_delta_table(df, root, partition_by=["grp"], column_mapping="name")
    # parquet files carry PHYSICAL names, not logical ones
    import pyarrow.parquet as pq
    pfile = next(os.path.join(dp, f)
                 for dp, _, fs in os.walk(root) for f in fs
                 if f.endswith(".parquet") and "_delta_log" not in dp)
    names = set(pq.read_schema(pfile).names)
    assert "doc_id" not in names and any(n.startswith("col-") for n in names)
    # logical read round-trips exactly, filters prune by physical keys
    got = read_delta(spark, root)
    assert sorted(got.columns) == ["doc_id", "grp", "text"]
    assert got.count() == 60
    _, pruned = plan_delta(root, filters=[("grp", "=", 1)])
    _, allf = plan_delta(root)
    assert 0 < len(pruned) < len(allf)
    assert read_delta(spark, root,
                      filters=[("grp", "=", 1)]).count() == 15


def test_column_mapping_with_dv_delete(spark, tmp_path):
    root = str(tmp_path / "m")
    write_delta_table(_doc_df(spark, 80), root, column_mapping="name")
    delete_rows_delta(spark, root, "doc_id % 5 = 0")
    got = read_delta(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == \
        [i for i in range(80) if i % 5 != 0]
    # protocol lists BOTH features
    state, _ = plan_delta(root)
    feats = set(state["protocol"]["readerFeatures"])
    assert {"deletionVectors", "columnMapping"} <= feats


def test_mapped_append_keeps_physical_names(spark, tmp_path):
    root = str(tmp_path / "m")
    write_delta_table(_doc_df(spark, 30), root, column_mapping="name")
    write_delta_table(_doc_df(spark, 10).withColumn(
        "doc_id", F.col("doc_id") + 1000), root, mode="append")
    got = read_delta(spark, root)
    assert got.count() == 40
    assert got.filter("doc_id >= 1000").count() == 10


# ---------------------------------------------------------------------------
# lifecycle: compaction materializes DVs; vacuum reclaims
# ---------------------------------------------------------------------------

def test_compact_materializes_dvs(spark, tmp_path):
    from datacontract_cli_spark.sources.delta_table import compact_delta

    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark), root, partition_by=["grp"])
    delete_rows_delta(spark, root, "doc_id % 3 = 0")
    before = sorted(r["doc_id"]
                    for r in read_delta(spark, root).collect())
    v = compact_delta(spark, root)
    # row-identical, no DV left in planning, old version still readable
    after = sorted(r["doc_id"] for r in read_delta(spark, root).collect())
    assert after == before
    _, live = plan_delta(root)
    assert all(not a.get("deletionVector") for a in live)
    assert read_delta(spark, root, version=0).count() == 200
    assert read_delta(spark, root, version=v - 1).count() == len(before)


def test_compact_mapped_table(spark, tmp_path):
    from datacontract_cli_spark.sources.delta_table import compact_delta

    root = str(tmp_path / "m")
    write_delta_table(_doc_df(spark, 50), root, column_mapping="name")
    delete_rows_delta(spark, root, "doc_id < 10")
    compact_delta(spark, root)
    got = read_delta(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(10, 50))
    # rewritten files still carry physical names
    import pyarrow.parquet as pq
    state, live = plan_delta(root)
    pfile = os.path.join(root, live[0]["path"])
    assert all(n.startswith("col-") for n in pq.read_schema(pfile).names)


def test_vacuum_reclaims_unreferenced(spark, tmp_path):
    from datacontract_cli_spark.sources.delta_table import (
        compact_delta,
        vacuum_delta,
    )

    root = str(tmp_path / "t")
    write_delta_table(_doc_df(spark), root)
    delete_rows_delta(spark, root, "doc_id % 2 = 0")
    compact_delta(spark, root)
    expect = sorted(r["doc_id"] for r in read_delta(spark, root).collect())
    out = vacuum_delta(root)
    assert out["deleted_files"] > 0 and out["reclaimed_bytes"] > 0
    # current version unaffected; DV bin removed with the old files
    assert sorted(r["doc_id"]
                  for r in read_delta(spark, root).collect()) == expect
    assert not [f for f in os.listdir(root) if f.endswith(".bin")]
