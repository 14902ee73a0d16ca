"""Partition pruning + edge cases."""

from pyspark.sql import functions as F

from datacontract_cli_spark.sources.transcripts import synthesize_transcripts


def test_partition_pruning_on_date_partitioned_layout(spark, tmp_path):
    """Iceberg-style day partitioning: a ts filter must prune partitions."""
    path = str(tmp_path / "transcripts_by_day")
    df = synthesize_transcripts(spark, n_convs=400, turns_per_conv=4)
    df.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(path)

    pt = spark.read.parquet(path)
    one_day = pt.select("day").distinct().orderBy("day").first()["day"]
    q = pt.filter(F.col("day") == F.lit(one_day)).select("conv_id")
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "day" in plan
    # pruned scan reads less than the full table
    n_days = pt.select("day").distinct().count()
    assert q.count() < df.count() and n_days > 1


def test_empty_table_run(spark):
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    c = load_contract_str("""
id: empty
version: 0.1.0
schema:
  - name: t
    properties:
      - name: x
        logicalType: integer
        required: true
        quality:
          - metric: nullValues
            mustBeLessOrEqualTo: 5
            unit: percent
""")
    df = spark.createDataFrame([], "x bigint")
    run = SparkContractEngine(spark).test(c, tables={"t": df})
    req = run.check("t__x__field_required")
    assert req.result is ResultEnum.passed
    assert req.diagnostics["value"] == 0
    pct = run.check("t__x__field_null_values")
    assert pct.result is ResultEnum.passed
    assert pct.diagnostics["percent"] == 0.0


def test_multi_model_binding_from_parquet_dir(spark):
    """Server binding of the driver's sf0.001 directory; RI across models."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    c = load_contract_str("""
id: tpch
version: 0.1.0
servers:
  - server: local
    type: local
    format: parquet
    path: /root/testdata/sf0.001
schema:
  - name: orders
    properties:
      - name: o_orderkey
        logicalType: integer
        required: true
        primaryKey: true
      - name: o_custkey
        logicalType: integer
        quality:
          - metric: referentialIntegrity
            mustBe: 0
            arguments:
              ref: customer.c_custkey
  - name: customer
    properties:
      - name: c_custkey
        logicalType: integer
        required: true
""")
    run = SparkContractEngine(spark).test(c)
    assert run.result is ResultEnum.passed
    ri = run.check("orders__o_custkey__referential_integrity")
    assert ri.result is ResultEnum.passed and ri.diagnostics["value"] == 0


# --- metric history control chart --------------------------------------------
