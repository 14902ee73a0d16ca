"""Iceberg v2 merge-on-read: positional + equality delete files.

Writer commits delete snapshots (content=1|2 entries in a content=1
manifest); the reader applies them with broadcast LEFT ANTI joins over
the hidden (_metadata.file_path, _metadata.row_index) pair — the same
application strategy Spark's own Iceberg source uses, so the data side
is never shuffled. Sequence-number scoping per the Iceberg spec:
positional deletes hit data files with seq <= delete seq, equality
deletes only STRICTLY older files (rows appended after an equality
delete survive it).

Reference parity: the reference CLI reads Iceberg via pyiceberg, which
performs the identical positional/equality delete application
(datacontract/imports/iceberg_importer.py binds the table; deletes are
applied inside pyiceberg's scan)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.sources.iceberg_table import (
    load_table_metadata,
    plan_scan_entries,
    plan_scan_with_deletes,
    read_iceberg,
    snapshots,
)
from datacontract_cli_spark.sources.iceberg_write import (
    append_iceberg,
    delete_equality_iceberg,
    delete_rows_iceberg,
    write_iceberg_table,
)


def _base_df(spark):
    return spark.range(0, 600).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("int").alias("grp"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def mor_table(spark, tmp_path_factory):
    """Table with the full delete lifecycle:
    snap 1  append 600 rows (doc_id 0..599) in 4 files
    snap 2  positional delete of doc_id % 7 == 0
    snap 3  equality delete of grp == 2
    snap 4  append 10 fresh grp==2 rows (doc_id 2000..2009)"""
    root = str(tmp_path_factory.mktemp("icb") / "mor")
    df = _base_df(spark)
    write_iceberg_table(df, root, files_per_group=4)
    delete_rows_iceberg(spark, root, "doc_id % 7 = 0")
    delete_equality_iceberg(
        spark, root, spark.createDataFrame([(2,)], "grp int"), ["grp"])
    append_iceberg(
        spark.range(2000, 2010).select(
            F.col("id").alias("doc_id"),
            F.lit(2).cast("int").alias("grp"),
            F.concat(F.lit("new-"), F.col("id")).alias("text")),
        root)
    return root


def test_positional_delete_exact(spark, mor_table):
    got = read_iceberg(spark, mor_table, snapshot_id=2)
    exp = _base_df(spark).filter("doc_id % 7 != 0")
    assert _rows(got) == _rows(exp)


def test_equality_delete_exact(spark, mor_table):
    got = read_iceberg(spark, mor_table, snapshot_id=3)
    exp = _base_df(spark).filter("doc_id % 7 != 0 AND grp != 2")
    assert _rows(got) == _rows(exp)


def test_time_travel_predates_deletes(spark, mor_table):
    assert read_iceberg(spark, mor_table, snapshot_id=1).count() == 600


def test_appended_rows_survive_older_equality_delete(spark, mor_table):
    """THE sequence-scoping semantics: grp==2 rows appended AFTER the
    equality delete are not deleted by it, while old grp==2 rows stay
    gone and old positional deletes still apply."""
    got = read_iceberg(spark, mor_table)
    assert got.filter("doc_id >= 2000").count() == 10
    assert got.filter("grp = 2 AND doc_id < 2000").count() == 0
    assert got.filter("doc_id % 7 = 0 AND doc_id < 2000").count() == 0
    exp = (_base_df(spark)
           .filter("doc_id % 7 != 0 AND grp != 2").count() + 10)
    assert got.count() == exp


def test_filters_compose_with_deletes(spark, mor_table):
    got = read_iceberg(spark, mor_table, filters=[("grp", "=", 1)])
    exp = _base_df(spark).filter("doc_id % 7 != 0 AND grp = 1")
    assert _rows(got) == _rows(exp)


def test_snapshot_log_operations(mor_table):
    ops = [s["operation"] for s in snapshots(mor_table)]
    assert ops == ["append", "delete", "delete", "append"]


def test_plan_broadcast_anti_no_data_shuffle(spark, mor_table):
    """The MoR plan the design demands: every delete application is a
    BroadcastHashJoin LeftAnti; the data side reaches the joins without
    any Exchange (the only allowed Exchange is the tiny equality-keys
    dropDuplicates on the broadcast side)."""
    plan = (read_iceberg(spark, mor_table)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("LeftAnti") >= 2
    assert "SortMergeJoin" not in plan
    data_side_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "grp" not in ln]
    assert data_side_exchanges == []


def test_plan_scan_with_deletes_surface(mor_table):
    meta, data_entries, delete_entries = plan_scan_with_deletes(mor_table)
    assert len(data_entries) >= 5  # 4 original + appended
    contents = sorted(e["data_file"]["content"] for e in delete_entries)
    assert contents == [1, 2]
    eq = next(e for e in delete_entries
              if e["data_file"]["content"] == 2)
    assert eq["data_file"]["equality_ids"] == [2]  # grp is field id 2
    assert all(os.path.exists(e["data_file"]["file_path"])
               for e in data_entries + delete_entries)


def test_incremental_surface_still_refuses_mor(mor_table):
    """plan_scan_entries (the incremental-validation planning surface)
    must keep its honest refusal: silently ignoring delete files would
    fold deleted rows into incremental metrics."""
    with pytest.raises(NotImplementedError, match="merge-on-read|copy-on-write"):
        plan_scan_entries(mor_table)


def test_moved_table_rebases_delete_paths(spark, mor_table, tmp_path):
    """Copy the whole table elsewhere: positional delete rows carry
    absolute write-time paths; the reader must rebase BOTH the manifest
    entries and the file_path VALUES inside the delete parquet."""
    dst = str(tmp_path / "relocated")
    shutil.copytree(mor_table, dst)
    got = read_iceberg(spark, dst, snapshot_id=2)
    exp = _base_df(spark).filter("doc_id % 7 != 0")
    assert _rows(got) == _rows(exp)


def test_delete_then_contract_engine(spark, mor_table):
    """A contract check suite over a MoR table sees post-delete rows —
    uniqueness/row counts reflect the logical table, not raw files."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str

    contract = load_contract_str("""
dataContractSpecification: 1.1.0
id: mor
info: {title: mor, version: 1.0.0}
models:
  docs:
    type: table
    fields:
      doc_id: {type: long, required: true, unique: true}
      grp: {type: int}
      text: {type: string}
""")
    run = SparkContractEngine(spark).test(
        contract, tables={"docs": read_iceberg(spark, mor_table)})
    assert run.result.value == "passed"


def test_equality_delete_unknown_column_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark).limit(10), root)
    with pytest.raises(ValueError, match="equality columns"):
        delete_equality_iceberg(
            spark, root, spark.createDataFrame([(1,)], "nope int"),
            ["nope"])


def test_positional_delete_empty_predicate_noop(spark, tmp_path):
    """A delete matching nothing still commits a snapshot with an empty
    delete file, and the read is unchanged — idempotent pipelines
    re-running a purge must not corrupt the table."""
    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark).limit(20), root, files_per_group=2)
    delete_rows_iceberg(spark, root, "doc_id > 10000")
    assert read_iceberg(spark, root).count() == 20


def test_multi_column_equality_delete(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark).limit(100), root, files_per_group=2)
    keys = spark.createDataFrame([(3, 3), (8, 3)], "doc_id long, grp int")
    delete_equality_iceberg(spark, root, keys, ["doc_id", "grp"])
    got = read_iceberg(spark, root)
    assert got.count() == 98
    assert got.filter("doc_id IN (3, 8)").count() == 0


# ---------------------------------------------------------------------------
# upsert (single-snapshot MERGE)
# ---------------------------------------------------------------------------

def test_upsert_single_snapshot_merge(spark, tmp_path):
    """One upsert commit = updates + inserts, atomically: matched keys
    take the new row values, unmatched keys insert, and the snapshot
    count grows by exactly ONE (not a delete+append pair)."""
    from datacontract_cli_spark.sources.iceberg_write import upsert_iceberg

    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark), root, files_per_group=2)
    n_before = len(load_table_metadata(root)["snapshots"])
    up = spark.createDataFrame(
        [(10, 99, "updated-10"), (11, 99, "updated-11"),
         (9000, 99, "inserted-9000")],
        "doc_id long, grp int, text string")
    upsert_iceberg(up, root, key_cols=["doc_id"])
    meta = load_table_metadata(root)
    assert len(meta["snapshots"]) == n_before + 1
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"
    got = read_iceberg(spark, root)
    assert got.count() == 601  # 600 - 2 replaced + 2 new + 1 insert
    by_id = {r.doc_id: r for r in got.filter(
        "doc_id in (10, 11, 12, 9000)").collect()}
    assert by_id[10].text == "updated-10" and by_id[10].grp == 99
    assert by_id[11].text == "updated-11"
    assert by_id[12].text == "text-12"       # untouched neighbor
    assert by_id[9000].text == "inserted-9000"


def test_upsert_time_travel_sees_pre_merge(spark, tmp_path):
    from datacontract_cli_spark.sources.iceberg_write import upsert_iceberg

    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark), root)
    up = spark.createDataFrame([(0, 7, "changed")],
                               "doc_id long, grp int, text string")
    upsert_iceberg(up, root, key_cols=["doc_id"])
    old = read_iceberg(spark, root, snapshot_id=1)
    assert old.filter("doc_id = 0").collect()[0].text == "text-0"
    new = read_iceberg(spark, root)
    assert new.filter("doc_id = 0").collect()[0].text == "changed"


def test_upsert_follows_partition_spec(spark, tmp_path):
    """Upserted data files land in the table's partition layout, so
    pruning stays exact after a merge."""
    from datacontract_cli_spark.sources.iceberg_write import upsert_iceberg

    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark), root, partition_by=["grp"])
    up = spark.createDataFrame(
        [(3, 3, "revised-3"), (7777, 4, "fresh")],
        "doc_id long, grp int, text string")
    upsert_iceberg(up, root, key_cols=["doc_id"])
    _, data_all, _ = plan_scan_with_deletes(root)
    _, data_g3, _ = plan_scan_with_deletes(root, filters=[("grp", "=", 3)])
    assert len(data_g3) == 2  # original grp=3 file + upserted grp=3 file
    assert len(data_all) == 5 + 2
    got = read_iceberg(spark, root, filters=[("grp", "=", 3)])
    exp_ids = {i for i in range(600) if i % 5 == 3}
    rows = {r.doc_id: r.text for r in got.collect()}
    assert set(rows) == exp_ids
    assert rows[3] == "revised-3"
    assert read_iceberg(spark, root).count() == 601


def test_upsert_composes_with_prior_deletes(spark, mor_table, tmp_path):
    """Upsert over the full lifecycle table: prior positional/equality
    deletes keep applying; the merge only touches its own keys."""
    import shutil as _sh

    from datacontract_cli_spark.sources.iceberg_write import upsert_iceberg

    root = str(tmp_path / "t")
    _sh.copytree(mor_table, root)
    before = _rows(read_iceberg(spark, root))
    up = spark.createDataFrame(
        [(2000, 2, "rewritten-2000"), (1, 1, "rewritten-1")],
        "doc_id long, grp int, text string")
    upsert_iceberg(up, root, key_cols=["doc_id"])
    got = {r.doc_id: r.text for r in read_iceberg(spark, root).collect()}
    assert got[2000] == "rewritten-2000"
    assert got[1] == "rewritten-1"
    assert len(got) == len(before)  # both keys existed: pure update
    # a doc deleted by the old positional delete stays deleted
    assert 7 not in got and 0 not in got


def test_upsert_key_not_in_schema_raises(spark, tmp_path):
    from datacontract_cli_spark.sources.iceberg_write import upsert_iceberg

    root = str(tmp_path / "t")
    write_iceberg_table(_base_df(spark), root)
    with pytest.raises(ValueError, match="not in table schema"):
        upsert_iceberg(_base_df(spark).limit(1), root, key_cols=["nope"])
