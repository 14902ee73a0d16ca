"""Regression tests for the late-round-5 review findings: URI-encoded
_metadata.file_path vs raw DV/delete paths and the column-mapping guard
on the file-incremental lane."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.sources.delta_table import (
    delete_rows_delta,
    read_delta,
    write_delta_table,
)
from datacontract_cli_spark.sources.iceberg_table import read_iceberg
from datacontract_cli_spark.sources.iceberg_write import (
    delete_rows_iceberg,
    write_iceberg_table,
)


def test_delta_dv_in_percent_encoded_path(spark, tmp_path):
    """_metadata.file_path is a URI (space → %20); the DV join and
    delete_rows_delta's relpath math must see the RAW path or deleted
    rows resurface / the delete crashes with KeyError."""
    root = str(tmp_path / "my table")  # space forces percent-encoding
    df = spark.range(20).selectExpr("id", "id % 3 as grp")
    write_delta_table(df, root)
    delete_rows_delta(spark, root, "id % 2 = 0")
    out = read_delta(spark, root)
    assert out.count() == 10
    assert out.filter(F.col("id") % 2 == 0).count() == 0


def test_iceberg_mor_in_plus_path(spark, tmp_path):
    """'+' must survive the decode (url_decode alone would turn it into
    a space and un-match every positional delete)."""
    root = str(tmp_path / "ice+tbl v2")
    df = spark.range(20).selectExpr("id", "id % 3 as grp")
    write_iceberg_table(df, root)
    delete_rows_iceberg(spark, root, "id % 2 = 0")
    out = read_iceberg(spark, root)
    assert out.count() == 10
    assert out.filter(F.col("id") % 2 == 0).count() == 0


def test_incremental_refuses_column_mapping(spark, tmp_path):
    """The file-incremental lane reads raw parquet by LOGICAL name; on a
    column-mapped table (physical col-<uuid> names) every column would
    silently read as NULL — it must refuse instead."""
    from datacontract_cli_spark.checks.spec import (
        CheckSpec,
        MetricType,
        Op,
        Threshold,
    )
    from datacontract_cli_spark.engine.incremental import IncrementalValidator

    root = str(tmp_path / "mapped")
    df = spark.range(10).selectExpr("id", "cast(id as string) as name")
    write_delta_table(df, root, column_mapping="name")
    # sanity: the batch reader handles the mapping fine
    assert read_delta(spark, root).count() == 10
    spec = CheckSpec(key="rows", category="schema", type="t", name="rows",
                     model="m", field=None, metric=MetricType.ROW_COUNT,
                     threshold=Threshold(Op.EQ, 0))
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))
    with pytest.raises(NotImplementedError, match="column mapping"):
        iv.run_delta(root, [spec], "m")


DELTA_P3_CONTRACT = """
id: p3
version: 1.0.0
schema:
  - name: rows
    properties:
      - name: id
        logicalType: integer
        required: true
        unique: true
      - name: grp
        logicalType: integer
        logicalTypeOptions:
          maximum: 2
servers:
  - server: local
    type: delta
    path: "{path}"
"""


def test_contract_engine_over_protocol3_delta_server(spark, tmp_path):
    """The §2 delta-scan row without the jar, protocol 3 edition: a
    COLUMN-MAPPED table with live DELETION VECTORS binds through the
    server switch (pure-Python fallback) and the engine's verdicts see
    the post-delete surviving rows under logical names."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    root = str(tmp_path / "p3tbl")
    df = spark.range(30).selectExpr("cast(id as long) id",
                                    "cast(id % 3 as long) grp")
    write_delta_table(df, root, column_mapping="name")
    delete_rows_delta(spark, root, "id % 2 = 0")  # 15 survivors

    contract = load_contract_str(DELTA_P3_CONTRACT.format(path=root))

    # the binding itself sees the post-delete surviving rows under
    # LOGICAL column names (the table stores physical col-<uuid> names)
    from datacontract_cli_spark.sources.readers import bind_server_with_raw
    tables, _ = bind_server_with_raw(spark, contract, contract.servers[0])
    bound = tables["rows"]
    assert set(bound.columns) >= {"id", "grp"}
    assert bound.count() == 15
    assert bound.filter("id % 2 = 0").count() == 0

    run = SparkContractEngine(spark).test(contract)
    # grp max 2 holds; required/unique pass on the surviving set
    assert run.result in (ResultEnum.passed, ResultEnum.warning), \
        [(c.key, c.result, c.reason) for c in run.checks
         if c.result is ResultEnum.failed]
