"""Iceberg schema evolution + table maintenance (pure-Python layer).

Evolution is the field-id contract: add/rename/drop/promote commit a new
schema-id as a METADATA-ONLY version bump (no snapshot, no data rewrite);
the reader maps each data file from its write-time schema to the current
one by field id. Maintenance: compact_iceberg (bin-pack rewrite that
materializes pending merge-on-read deletes).

Reference parity: the reference CLI reads evolved Iceberg tables through
pyiceberg, which performs the identical field-id projection
(datacontract/imports/iceberg_importer.py walks schema JSON by field id).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.sources.iceberg_table import (
    plan_scan_entries,
    read_iceberg,
)
from datacontract_cli_spark.sources.iceberg_write import (
    append_iceberg,
    compact_iceberg,
    delete_equality_iceberg,
    delete_rows_iceberg,
    evolve_schema_iceberg,
    upsert_iceberg,
    write_iceberg_table,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("grp"),
        F.concat(F.lit("t-"), F.col("id")).alias("text"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------

def test_add_column_backfills_null(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 40), root, files_per_group=2)
    evolve_schema_iceberg(root, add=[("score", "double")])
    up = spark.createDataFrame([(1000, 1, "new", 0.5)],
                               "doc_id long, grp int, text string, "
                               "score double")
    append_iceberg(up, root)
    got = read_iceberg(spark, root)
    assert got.columns == ["doc_id", "grp", "text", "score"]
    assert got.count() == 41
    # old files backfill null, new file carries the value
    assert got.filter("score is not null").count() == 1
    assert got.filter("doc_id = 1000").first().score == 0.5


def test_rename_keeps_old_files_readable(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 40), root, files_per_group=2)
    evolve_schema_iceberg(root, rename={"text": "body"})
    append_iceberg(
        spark.createDataFrame([(1000, 1, "fresh")],
                              "doc_id long, grp int, body string"), root)
    got = read_iceberg(spark, root)
    assert got.columns == ["doc_id", "grp", "body"]
    assert got.count() == 41
    # rows written under the OLD name surface under the new one
    assert got.filter("doc_id = 7").first().body == "t-7"
    # filters on the renamed column still prune via the stable field id
    assert read_iceberg(spark, root,
                        filters=[("body", "=", "t-7")]).count() == 1


def test_drop_column_disappears_without_rewrite(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 40), root, files_per_group=2)
    n_data_files = len(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                                 recursive=True))
    evolve_schema_iceberg(root, drop=["grp"])
    got = read_iceberg(spark, root)
    assert got.columns == ["doc_id", "text"]
    assert got.count() == 40
    # metadata-only: zero data files rewritten
    assert len(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                         recursive=True)) == n_data_files


def test_promote_int_to_long(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 40), root, files_per_group=2)
    evolve_schema_iceberg(root, promote={"grp": "long"})
    append_iceberg(
        spark.createDataFrame([(1000, 2**40, "big")],
                              "doc_id long, grp long, text string"), root)
    got = read_iceberg(spark, root)
    assert dict(got.dtypes)["grp"] == "bigint"
    assert got.filter(F.col("grp") == 2**40).count() == 1
    assert got.filter("doc_id = 7").first().grp == 1  # old int data casts


def test_evolution_guards(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 10), root, partition_by=["grp"])
    with pytest.raises(ValueError, match="partition source"):
        evolve_schema_iceberg(root, drop=["grp"])
    with pytest.raises(ValueError, match="not in current schema"):
        evolve_schema_iceberg(root, rename={"nope": "x"})
    with pytest.raises(ValueError, match="illegal type promotion"):
        evolve_schema_iceberg(root, promote={"text": "long"})
    with pytest.raises(ValueError, match="already exists"):
        evolve_schema_iceberg(root, add=[("text", "string")])
    with pytest.raises(ValueError, match="evolve_schema_iceberg first"):
        append_iceberg(spark.createDataFrame([(1, "x")],
                                             "doc_id long, text string"),
                       root)


def test_chained_evolution_and_mor(spark, tmp_path):
    """rename + add + positional/equality deletes + upsert compose: every
    file group resolves through its own write-time schema."""
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 60), root, files_per_group=3)
    delete_rows_iceberg(spark, root, "doc_id % 10 = 0")      # -6 rows
    evolve_schema_iceberg(root, rename={"text": "body"},
                          add=[("lang", "string")])
    append_iceberg(
        spark.createDataFrame([(100, 0, "after", "en")],
                              "doc_id long, grp int, body string, "
                              "lang string"), root)
    delete_equality_iceberg(
        spark, root, spark.createDataFrame([(2,)], "grp int"), ["grp"])
    got = read_iceberg(spark, root)
    assert got.columns == ["doc_id", "grp", "body", "lang"]
    # 60 - 6 (pos) - 18 (grp=2 minus the 2 already pos-deleted: 20-2) + 1
    assert got.count() == 60 - 6 - 18 + 1
    assert got.filter("lang is not null").count() == 1
    assert got.filter("doc_id = 13").first().body == "t-13"
    # upsert against the evolved schema
    upsert_iceberg(
        spark.createDataFrame([(13, 9, "upserted", "de")],
                              "doc_id long, grp int, body string, "
                              "lang string"), root, key_cols=["doc_id"])
    assert read_iceberg(spark, root).filter("doc_id = 13") \
        .first().body == "upserted"


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------

def test_compact_materializes_deletes(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 0, 100), root, files_per_group=5)
    delete_rows_iceberg(spark, root, "doc_id % 4 = 0")
    delete_equality_iceberg(
        spark, root, spark.createDataFrame([(1,)], "grp int"), ["grp"])
    before = _rows(read_iceberg(spark, root))
    snap = compact_iceberg(spark, root, files_per_group=2)
    after = read_iceberg(spark, root)
    assert _rows(after) == before            # row-identical rewrite
    meta, paths = plan_scan_entries(root)
    assert len(paths) == 2                   # bin-packed
    # delete files are materialized: the new snapshot carries none
    from datacontract_cli_spark.sources.iceberg_table import (
        plan_scan_with_deletes,
    )
    _, _, dels = plan_scan_with_deletes(root)
    assert dels == []
    assert meta["snapshots"][-1]["snapshot-id"] == snap
    assert meta["snapshots"][-1]["summary"]["operation"] == "replace"
    # prior snapshots still time-travel to pre-delete states
    first = meta["snapshots"][0]["snapshot-id"]
    assert read_iceberg(spark, root, snapshot_id=first).count() == 100
