"""Drift-baseline persistence round-trip + partition pruning + edge cases."""

import os

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import baselines
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts


def test_baseline_roundtrip_and_drift(spark, tmp_path):
    ref = synthesize_transcripts(spark, n_convs=300, turns_per_conv=6, seed=42)
    ref = ref.withColumn("text_len", F.length("text").cast("double"))
    b = baselines.compute_baselines(ref, categorical=["role"], numeric=["text_len"])
    path = str(tmp_path / "baselines.json")
    baselines.save_baselines(b, path)
    loaded = baselines.load_baselines(path)

    # same distribution → tiny drift
    same = synthesize_transcripts(spark, n_convs=300, turns_per_conv=6, seed=42) \
        .withColumn("text_len", F.length("text").cast("double"))
    stats = baselines.drift_against_baselines(same, loaded)
    assert stats["role"] < 1e-6
    assert stats["text_len"] < 0.02

    # shifted distribution → visible drift
    shifted = synthesize_transcripts(spark, n_convs=300, turns_per_conv=6,
                                     seed=42, defect_rate=0.5) \
        .withColumn("text_len", (F.length("text") * 3).cast("double"))
    stats2 = baselines.drift_against_baselines(shifted, loaded)
    assert stats2["role"] > stats["role"]
    assert stats2["text_len"] > 0.3


def test_tdigest_baseline_kind(spark, tmp_path):
    """A persisted quantiles baseline — the kind the retired t-digest
    option wrote — still loads and evaluates, exactly."""
    ref = spark.range(0, 20_000).select((F.col("id") % 500).cast("double").alias("v"))
    path = str(tmp_path / "quantiles.json")
    baselines.save_baselines({"v": {"kind": "numeric", "baseline": {
        "quantiles": {"0.01": 4.0, "0.5": 249.0, "0.99": 494.0}}}}, path)
    loaded = baselines.load_baselines(path)
    assert baselines.drift_against_baselines(ref, loaded)["v"] == 0.0
    shifted = ref.select((F.col("v") + 100).alias("v"))
    # F(249) = 0.3 vs 0.5 is the worst point
    assert baselines.drift_against_baselines(shifted, loaded)["v"] == \
        pytest.approx(0.2, abs=1e-12)


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
    """bind_server against the driver's sf0.001 directory; RI across models."""
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

def test_metric_anomaly_detection(tmp_path):
    from datacontract_cli_spark.operators.baselines import (
        append_metric_history,
        detect_metric_anomalies,
        load_metric_history,
    )
    path = str(tmp_path / "history.jsonl")
    for i in range(10):
        append_metric_history(path, {"row_count": 1000 + i % 3,
                                     "missing": 5.0,
                                     "psi": 0.01 + (i % 4) * 0.005},
                              run_id=f"r{i}")
    history = load_metric_history(path)
    assert len(history) == 10 and history[0]["run_id"] == "r0"

    # in-band values pass
    ok = detect_metric_anomalies(history, {"row_count": 1001, "psi": 0.015})
    assert not ok["row_count"]["anomalous"] and not ok["psi"]["anomalous"]
    # a collapse in row count and a psi spike alarm
    bad = detect_metric_anomalies(history, {"row_count": 20, "psi": 0.9})
    assert bad["row_count"]["anomalous"] and bad["psi"]["anomalous"]
    # zero-variance series: exact-match band (43 flags where 42 wouldn't)
    zv = detect_metric_anomalies(history, {"missing": 6.0})
    assert zv["missing"]["anomalous"]
    assert not detect_metric_anomalies(history, {"missing": 5.0})["missing"]["anomalous"]
    # thin history: no verdict
    thin = detect_metric_anomalies(history[:3], {"row_count": 20})
    assert not thin["row_count"]["anomalous"]
    assert thin["row_count"]["n_history"] == 3
