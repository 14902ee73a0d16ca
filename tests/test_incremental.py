"""File-level incremental validation: fingerprint diffing, scan-only-new,
fold equality with global batch counts, removed-file handling."""

import os
import shutil
import time

from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
from datacontract_cli_spark.engine.incremental import IncrementalValidator


def _spec(key, field=None, metric=MetricType.ROW_COUNT, **kw):
    return CheckSpec(key=key, category="schema", type="t", name=key,
                     model="m", field=field, metric=metric,
                     threshold=Threshold(Op.EQ, 0), **kw)


SPECS = [
    _spec("rows"),
    _spec("missing_v", field="v", metric=MetricType.MISSING_COUNT),
    _spec("invalid_v", field="v", metric=MetricType.INVALID_COUNT,
          valid_max=50.0),
]


def _write_batch(spark, path, start, n, nulls=0):
    df = spark.range(start, start + n).select(
        F.col("id"),
        F.when(F.col("id") % 100 < nulls, None)
        .otherwise(F.col("id") % 90).cast("double").alias("v"))
    df.coalesce(1).write.mode("append").parquet(path)


def test_incremental_validates_only_new_files(spark, tmp_path):
    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, data, 0, 1000, nulls=5)
    iv = IncrementalValidator(spark, ckpt)

    r1 = iv.run(data, SPECS, "m")
    assert len(r1["new_files"]) >= 1
    n_first = len(r1["files"])
    assert r1["folded"]["row_count"] == 1000
    assert r1["removed_files"] == []

    # no change -> nothing scanned
    r2 = iv.run(data, SPECS, "m")
    assert r2["new_files"] == []
    assert len(r2["files"]) == n_first

    # append a batch -> ONLY the new file(s) validate; fold covers all
    _write_batch(spark, data, 1000, 500, nulls=20)
    r3 = iv.run(data, SPECS, "m")
    assert r3["new_files"]  # some new
    assert len(r3["files"]) > n_first
    assert set(r3["new_files"]).isdisjoint(set(r1["files"]))
    assert r3["folded"]["row_count"] == 1500

    # folded counts equal a full batch recomputation
    full = spark.read.parquet(data)
    assert r3["folded"]["missing_v"] == full.filter(F.col("v").isNull()).count()
    assert r3["folded"]["invalid_v"] == full.filter(F.col("v") > 50.0).count()


def test_incremental_detects_changed_file(spark, tmp_path):
    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, data, 0, 100)
    iv = IncrementalValidator(spark, ckpt)
    r1 = iv.run(data, SPECS, "m")
    [f1] = r1["new_files"]

    # rewrite the file in place with different content (size changes)
    local = f1[len("file://"):]
    tmp = str(tmp_path / "replacement")
    _write_batch(spark, tmp, 0, 250)
    src = [os.path.join(tmp, p) for p in os.listdir(tmp)
           if p.endswith(".parquet")][0]
    shutil.copyfile(src, local)
    # drop the local-FS checksum sidecar the in-place copy invalidated
    # (real rewrites go through committers that replace it atomically)
    crc = os.path.join(os.path.dirname(local),
                       "." + os.path.basename(local) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    r2 = iv.run(data, SPECS, "m")
    assert r2["new_files"] == [f1]          # revalidated, not duplicated
    assert r2["folded"]["row_count"] == 250  # last write wins in the fold


def test_incremental_reports_removed_files(spark, tmp_path):
    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, data, 0, 100)
    _write_batch(spark, data, 100, 100)
    iv = IncrementalValidator(spark, ckpt)
    r1 = iv.run(data, SPECS, "m")
    assert r1["folded"]["row_count"] == 200
    victim = sorted(r1["files"])[0]
    os.remove(victim[len("file://"):])
    r2 = iv.run(data, SPECS, "m")
    assert r2["removed_files"] == [victim]
    assert victim not in r2["files"]
    assert r2["folded"]["row_count"] == 100  # dropped from the fold


def test_engine_test_incremental_facade(spark, tmp_path):
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    contract = load_contract_str("""
apiVersion: v3.1.0
kind: DataContract
id: inc-test
version: 1.0.0
status: active
schema:
  - name: m
    properties:
      - name: id
        logicalType: integer
        required: true
      - name: v
        logicalType: number
        logicalTypeOptions: {maximum: 50.0}
""")
    data = str(tmp_path / "data")
    _write_batch(spark, data, 0, 400, nulls=0)
    engine = SparkContractEngine(spark)
    run, result = engine.test_incremental(contract, data, "m",
                                          str(tmp_path / "ckpt"))
    assert result["folded"]["row_count"] == 400
    counts = [c for c in run.checks if c.diagnostics["metric"]
              in ("missing_count", "invalid_count")]
    assert counts and all(c.diagnostics["n_files"] >= 1 for c in counts)
    # second run touches nothing but reports the same fold
    run2, result2 = engine.test_incremental(contract, data, "m",
                                            str(tmp_path / "ckpt"))
    assert result2["new_files"] == []
    assert result2["folded"] == result["folded"]


def test_incremental_missing_column_is_error_not_pass(spark, tmp_path):
    """A spec whose column is absent from the scanned files must surface
    as an ERROR check, never a passing zero (review finding: silent false
    pass on schema drift)."""
    data = str(tmp_path / "data")
    spark.range(0, 100).select("id").coalesce(1) \
        .write.mode("append").parquet(data)  # no 'v' column at all
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))
    r = iv.run(data, SPECS, "m")
    assert "missing_v" in r["unevaluated"]
    assert "invalid_v" in r["unevaluated"]
    assert "missing_v" not in r["folded"]

    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    contract = load_contract_str("""
apiVersion: v3.1.0
kind: DataContract
id: inc-err
version: 1.0.0
status: active
schema:
  - name: m
    properties:
      - name: id
        logicalType: integer
      - name: v
        logicalType: number
        required: true
""")
    run, result = SparkContractEngine(spark).test_incremental(
        contract, data, "m", str(tmp_path / "ckpt2"))
    errs = [c for c in run.checks if c.result.value == "error"]
    assert errs and any("not present" in (c.reason or "") for c in errs)
    assert run.result.value == "error"


def test_incremental_new_spec_revalidates_unchanged_files(spark, tmp_path):
    """Adding a check to the contract must revalidate fingerprint-unchanged
    files; otherwise the new metric folds as a partial sum (review
    finding: silent undercount)."""
    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, data, 0, 1000, nulls=10)
    iv = IncrementalValidator(spark, ckpt)
    only_rows = [SPECS[0]]
    r1 = iv.run(data, only_rows, "m")
    assert r1["new_files"]

    # same files, WIDER spec set: files must re-scan to cover the new keys
    r2 = iv.run(data, SPECS, "m")
    assert set(r2["new_files"]) == set(r1["files"])  # revalidated
    full = spark.read.parquet(data)
    assert r2["folded"]["missing_v"] == \
        full.filter(F.col("v").isNull()).count()
    # and a third run with the same specs is again incremental-quiet
    r3 = iv.run(data, SPECS, "m")
    assert r3["new_files"] == []


def test_incremental_hive_partitioned_table(spark, tmp_path):
    """Hive-partition directory columns stay checkable: basePath restores
    them even though the validator scans leaf files directly."""
    data = str(tmp_path / "data")
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 90).cast("double").alias("v"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("part"))
    df.write.partitionBy("part").parquet(data)
    specs = SPECS + [_spec("missing_part", field="part",
                           metric=MetricType.MISSING_COUNT)]
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))
    r = iv.run(data, specs, "m")
    assert r["unevaluated"] == []             # partition column evaluable
    assert r["folded"]["row_count"] == 300
    assert r["folded"]["missing_part"] == 0
    # appending a new partition validates only the new files
    spark.range(300, 400).select(
        F.col("id"), (F.col("id") % 90).cast("double").alias("v"),
        F.lit("c").alias("part")).write.mode("append") \
        .partitionBy("part").parquet(data)
    r2 = iv.run(data, specs, "m")
    assert r2["new_files"] and all("part=c" in f for f in r2["new_files"])
    assert r2["folded"]["row_count"] == 400


def test_incremental_single_file_path(spark, tmp_path):
    """A single-parquet-file data path still validates (basePath is only
    set for directories; Spark rejects a file-valued basePath)."""
    d = str(tmp_path / "onefile")
    _write_batch(spark, d, 0, 50)
    f = [p for p in os.listdir(d) if p.endswith(".parquet")][0]
    single = os.path.join(d, f)
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))
    r = iv.run(single, SPECS, "m")
    assert r["folded"]["row_count"] == 50 and r["unevaluated"] == []


def test_incremental_old_lane_rows_revalidate_once(spark, tmp_path):
    """Manifest rows written under an older lane version revalidate once
    (the basePath fix made previously-unevaluable columns evaluable; a
    pre-fix manifest must not pin a now-spurious permanent error)."""
    import json as _json

    from datacontract_cli_spark.engine import incremental as inc
    data = str(tmp_path / "data")
    _write_batch(spark, data, 0, 100, nulls=4)
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))
    r1 = iv.run(data, SPECS, "m")
    # rewrite the manifest as lane-1 rows with a stale unevaluated claim
    mp = iv._manifest_path("m")
    rows = [_json.loads(l) for l in open(mp) if l.strip()]
    for row in rows:
        row["lane"] = 1
        row["unevaluated"] = ["missing_v", "invalid_v"]
        row["metrics"] = {}
    with open(mp, "w") as f:
        for row in rows:
            f.write(_json.dumps(row) + "\n")
    r2 = iv.run(data, SPECS, "m")
    assert set(r2["new_files"]) == set(r1["files"])  # revalidated once
    assert r2["unevaluated"] == []
    assert r2["folded"]["missing_v"] == r1["folded"]["missing_v"]
    r3 = iv.run(data, SPECS, "m")
    assert r3["new_files"] == []                     # and only once


def test_incremental_edited_rule_revalidates_unchanged_files(spark, tmp_path):
    # ADVICE r4: a contract that EDITS an existing check's rule without
    # changing its key must revalidate fingerprint-unchanged files — their
    # stored counts were computed against the OLD rule.
    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, data, 0, 1000)  # v = id % 90, so values 0..89
    iv = IncrementalValidator(spark, ckpt)

    loose = [_spec("invalid_v", field="v", metric=MetricType.INVALID_COUNT,
                   valid_max=89.0)]
    r1 = iv.run(data, loose, "m")
    assert r1["folded"]["invalid_v"] == 0

    # same key, TIGHTENED bound: every file must re-scan under the new rule
    tight = [_spec("invalid_v", field="v", metric=MetricType.INVALID_COUNT,
                   valid_max=44.0)]
    r2 = iv.run(data, tight, "m")
    assert r2["new_files"]  # fingerprint-unchanged files revalidated anyway
    assert r2["folded"]["invalid_v"] == 1000 // 90 * 45 + \
        max(0, 1000 % 90 - 45)  # v in 45..89 fails

    # unchanged rule on the next run -> nothing re-scanned
    r3 = iv.run(data, tight, "m")
    assert r3["new_files"] == []
    assert r3["folded"]["invalid_v"] == r2["folded"]["invalid_v"]


def test_incremental_noop_run_reads_no_file(spark, tmp_path, monkeypatch):
    """With nothing new to scan, the schema comes from the checkpoint (the
    one the files were last read with), so a no-op run or poll only lists
    the directory."""
    from pyspark.sql.readwriter import DataFrameReader

    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, data, 0, 100)
    iv = IncrementalValidator(spark, ckpt)
    first = iv.run(data, SPECS, "m")

    def no_read(self, *paths, **kw):
        raise AssertionError(f"no-op run read {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    again = iv.run(data, SPECS, "m")
    assert again["new_files"] == []
    assert again["schema"] == first["schema"]
    assert again["folded"] == first["folded"]
