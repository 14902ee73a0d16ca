"""Pure-Python Iceberg table layer: OCF codec, write/read round-trip,
manifest+file pruning, time travel, delete-file guard, and the contract
server binding (north-star input: an Iceberg table of transcripts)."""

import os

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources.avro_ocf import read_ocf, write_ocf
from datacontract_cli_spark.sources.iceberg_table import (
    decode_bound,
    encode_bound,
    load_table_metadata,
    plan_scan_entries,
    read_iceberg,
    snapshots,
)
from datacontract_cli_spark.sources.iceberg_write import (
    _MANIFEST_FILE_SCHEMA,
    append_iceberg,
    write_iceberg_table,
)
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts


def _rows(df):
    return sorted(str(sorted(r.asDict().items())) for r in df.collect())


# ---------------------------------------------------------------------------
# Avro OCF
# ---------------------------------------------------------------------------

OCF_SCHEMA = {"type": "record", "name": "t", "fields": [
    {"name": "s", "type": "string"},
    {"name": "n", "type": "long"},
    {"name": "opt", "type": ["null", "string"], "default": None},
    {"name": "b", "type": ["null", {"type": "map", "values": "bytes"}],
     "default": None},
]}

OCF_RECORDS = [
    {"s": "a/b", "n": 5, "opt": None, "b": {"1": b"\x01\x02"}},
    {"s": "", "n": -(2 ** 40), "opt": "x", "b": None},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_round_trip(tmp_path, codec):
    path = str(tmp_path / "t.avro")
    write_ocf(path, OCF_SCHEMA, OCF_RECORDS, codec=codec)
    schema, records = read_ocf(path)
    assert schema == OCF_SCHEMA
    assert records == OCF_RECORDS


def test_ocf_rejects_garbage(tmp_path):
    with pytest.raises(ValueError, match="magic"):
        read_ocf(b"PAR1not-avro-at-all")


def test_ocf_sync_mismatch_detected():
    data = bytearray(write_ocf(None, OCF_SCHEMA, OCF_RECORDS, codec="null"))
    data[-1] ^= 0xFF  # corrupt trailing sync marker
    with pytest.raises(ValueError, match="sync"):
        read_ocf(bytes(data))


def test_bound_codec_round_trip():
    cases = [("int", -7), ("long", 2 ** 40), ("float", 1.5),
             ("double", -2.25), ("string", "héllo"), ("boolean", True),
             ("date", 19500), ("timestamp", 1_700_000_000_000_000)]
    for typ, v in cases:
        assert decode_bound(typ, encode_bound(typ, v)) == v
    assert encode_bound("int", None) is None
    assert decode_bound("string", None) is None


# ---------------------------------------------------------------------------
# table write / read / prune / time-travel
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("iceberg") / "transcripts")
    df = synthesize_transcripts(spark, n_convs=40, turns_per_conv=5,
                                defect_rate=0.1)
    write_iceberg_table(df, root, partition_by=["role"], files_per_group=2)
    return root, df


def test_round_trip_exact(spark, table):
    root, df = table
    assert _rows(read_iceberg(spark, root)) == _rows(df)


def test_metadata_shape(table):
    root, _ = table
    meta = load_table_metadata(root)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == 1
    spec = meta["partition-specs"][0]["fields"]
    assert [f["transform"] for f in spec] == ["identity"]
    assert os.path.exists(os.path.join(root, "metadata",
                                       "version-hint.text"))


def test_partition_pruning(spark, table):
    root, df = table
    _, all_paths = plan_scan_entries(root)
    _, pruned = plan_scan_entries(root, filters=[("role", "=", "assistant")])
    assert 0 < len(pruned) < len(all_paths)
    got = read_iceberg(spark, root, filters=[("role", "=", "assistant")])
    assert got.count() == df.filter(F.col("role") == "assistant").count()


def test_stats_pruning_skips_all_files(table):
    root, _ = table
    # turn_idx max is 4; stats bounds from the parquet footers prune all
    _, pruned = plan_scan_entries(root, filters=[("turn_idx", ">", 100)])
    assert pruned == []


def test_in_and_range_filters(spark, table):
    root, df = table
    got = read_iceberg(spark, root,
                       filters=[("role", "in", ("user", "tool")),
                                ("turn_idx", ">=", 2)])
    exp = df.filter(F.col("role").isin("user", "tool")
                    & (F.col("turn_idx") >= 2))
    assert _rows(got) == _rows(exp)


def test_append_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "tt")
    df1 = synthesize_transcripts(spark, n_convs=10, turns_per_conv=4)
    df2 = synthesize_transcripts(spark, n_convs=5, turns_per_conv=4, seed=7)
    write_iceberg_table(df1, root, partition_by=["role"])
    append_iceberg(df2, root)
    log = snapshots(root)
    assert [s["snapshot_id"] for s in log] == [1, 2]
    assert log[1]["is_current"]
    assert read_iceberg(spark, root, snapshot_id=1).count() == df1.count()
    assert _rows(read_iceberg(spark, root)) == _rows(df1.unionByName(df2))
    with pytest.raises(ValueError, match="snapshot 99"):
        read_iceberg(spark, root, snapshot_id=99)


def test_unpartitioned_table(spark, tmp_path):
    root = str(tmp_path / "flat")
    df = synthesize_transcripts(spark, n_convs=8, turns_per_conv=3)
    write_iceberg_table(df, root)
    assert _rows(read_iceberg(spark, root)) == _rows(df)
    meta = load_table_metadata(root)
    assert meta["partition-specs"][0]["fields"] == []


def test_delete_manifest_guard(spark, tmp_path):
    """v2 merge-on-read (content=1 delete manifests) must be an honest
    NotImplementedError, never silently-wrong rows."""
    root = str(tmp_path / "mor")
    df = synthesize_transcripts(spark, n_convs=4, turns_per_conv=3)
    write_iceberg_table(df, root)
    meta = load_table_metadata(root)
    ml = meta["snapshots"][-1]["manifest-list"]
    schema, manifests = read_ocf(ml)
    fake = dict(manifests[0], content=1)
    write_ocf(ml, _MANIFEST_FILE_SCHEMA, manifests + [fake])
    with pytest.raises(NotImplementedError, match="copy-on-write"):
        plan_scan_entries(root)


def test_moved_table_rebases_paths(spark, tmp_path):
    """Metadata records write-time absolute paths; a moved table (fixtures,
    CI checkouts) must still read via location rebasing."""
    import shutil
    src = str(tmp_path / "orig")
    dst = str(tmp_path / "relocated")
    df = synthesize_transcripts(spark, n_convs=6, turns_per_conv=3)
    write_iceberg_table(df, src, partition_by=["role"])
    shutil.move(src, dst)
    assert _rows(read_iceberg(spark, dst)) == _rows(df)


# ---------------------------------------------------------------------------
# contract server binding
# ---------------------------------------------------------------------------

ICEBERG_CONTRACT = """
id: transcripts-iceberg
version: 1.0.0
servers:
  - server: lake
    type: iceberg
    path: "{path}"
schema:
  - name: transcripts
    properties:
      - name: conv_id
        logicalType: string
        required: true
      - name: turn_idx
        logicalType: integer
        required: true
      - name: role
        logicalType: string
        quality:
          - metric: invalidValues
            arguments:
              validValues: [system, user, assistant, tool]
            mustBe: 0
      - name: text
        logicalType: string
      - name: tool
        logicalType: string
      - name: ts
        logicalType: timestamp
"""


def test_contract_engine_over_iceberg_server(spark, table):
    root, df = table
    contract = load_contract_str(ICEBERG_CONTRACT.format(path=root))
    run = SparkContractEngine(spark).test(contract)
    chk = run.check("transcripts__role__field_invalid_values")
    # defect_rate=0.1 injects bad roles: the check must COUNT them exactly,
    # proving the engine's aggregate ran over the Iceberg-planned frame
    n_bad = df.filter(
        ~F.col("role").isin("system", "user", "assistant", "tool")
        & F.col("role").isNotNull()).count()
    assert chk is not None
    assert chk.diagnostics["value"] == n_bad
    assert chk.result is (ResultEnum.failed if n_bad else ResultEnum.passed)
    # schema checks ran against the Iceberg-planned frame too
    assert run.check("transcripts__ts__field_type").result is ResultEnum.passed


def test_contract_snapshot_option(spark, tmp_path):
    root = str(tmp_path / "snapopt")
    df1 = synthesize_transcripts(spark, n_convs=6, turns_per_conv=3)
    df2 = synthesize_transcripts(spark, n_convs=3, turns_per_conv=3, seed=3)
    write_iceberg_table(df1, root, partition_by=["role"])
    append_iceberg(df2, root)
    contract = load_contract_str(
        ICEBERG_CONTRACT.format(path=root).replace(
            "path: \"" + root + "\"",
            "path: \"" + root + "\"\n    snapshotId: 1"))
    from datacontract_cli_spark.sources.readers import bind_server_with_raw
    tables, _raw = bind_server_with_raw(spark, contract, contract.servers[0])
    assert tables["transcripts"].count() == df1.count()


# ---------------------------------------------------------------------------
# contract import from a table directory
# ---------------------------------------------------------------------------

def test_import_contract_from_table_dir(spark, table):
    from datacontract_cli_spark.sources.importers import import_iceberg_table

    root, _ = table
    contract = import_iceberg_table(root, table_name="transcripts")
    obj = contract.schema_objects[0]
    props = {p.name: p for p in obj.properties}
    assert set(props) == {"conv_id", "turn_idx", "role", "text", "tool",
                          "ts"}
    assert props["turn_idx"].logical_type == "integer"
    # reference parity: ODCS logicalType "date" covers timestamps
    # (reference iceberg_importer.py:152-158), physical keeps the detail
    assert props["ts"].logical_type == "date"
    assert props["ts"].physical_type == "timestamptz"
    srv = contract.servers[0]
    assert srv.type == "iceberg" and srv.path == root
    # the imported contract runs against its own table end-to-end
    # (physicalType is set, so the dialect-exact physical check fires)
    run = SparkContractEngine(spark).test(contract)
    assert run.check("transcripts__ts__field_physical_type").result \
        is ResultEnum.passed


def test_import_cli_table_dir(table, tmp_path, capsys):
    from datacontract_cli_spark.cli import main

    root, _ = table
    out = str(tmp_path / "imported.yaml")
    rc = main(["import", "--format", "iceberg", "--source", root,
               "--output", out])
    assert rc == 0
    import yaml
    doc = yaml.safe_load(open(out))
    names = [p["name"] for p in doc["schema"][0]["properties"]]
    assert "conv_id" in names and "ts" in names


def test_scan_keeps_catalyst_pushdown(spark, table):
    """The metadata plane is Python, but the DATA plane must stay fully
    Catalyst: filters push into the parquet scan of the planned files and
    projection prunes the read schema."""
    import contextlib
    import io

    root, _ = table
    q = (read_iceberg(spark, root, filters=[("turn_idx", ">=", 2)])
         .select("conv_id", "turn_idx"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(turn_idx" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "conv_id" in read_schema and "turn_idx" in read_schema
    assert "text" not in read_schema  # column pruning reached the scan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
