"""Snapshot/log-incremental validation over Iceberg and Delta tables:
the table format's own metadata is the file listing, so validating the
next snapshot scans exactly the appended files."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
from datacontract_cli_spark.engine.incremental import IncrementalValidator
from datacontract_cli_spark.sources.delta_table import write_delta_table
from datacontract_cli_spark.sources.iceberg_write import (
    append_iceberg,
    write_iceberg_table,
)
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts


def _spec(key, field=None, metric=MetricType.ROW_COUNT, **kw):
    return CheckSpec(key=key, category="schema", type="t", name=key,
                     model="transcripts", field=field, metric=metric,
                     threshold=Threshold(Op.EQ, 0), **kw)


SPECS = [
    _spec("rows"),
    _spec("missing_tool", field="tool", metric=MetricType.MISSING_COUNT),
    _spec("invalid_role", field="role", metric=MetricType.INVALID_COUNT,
          valid_values=["system", "user", "assistant", "tool"]),
]


def _expected(df):
    return {
        "rows": df.count(),
        "missing_tool": df.filter(F.col("tool").isNull()).count(),
        "invalid_role": df.filter(
            F.col("role").isNotNull()
            & ~F.col("role").isin("system", "user", "assistant",
                                  "tool")).count(),
    }


def test_iceberg_snapshot_incremental(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df1 = synthesize_transcripts(spark, n_convs=12, turns_per_conv=4,
                                 defect_rate=0.2)
    write_iceberg_table(df1, root, partition_by=["role"],
                        files_per_group=2)
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))

    r1 = iv.run_iceberg(root, SPECS, "transcripts")
    assert r1["snapshot_id"] == 1
    exp1 = _expected(df1)
    assert r1["folded"]["row_count"] == exp1["rows"]
    assert r1["folded"]["missing_tool"] == exp1["missing_tool"]
    assert r1["folded"]["invalid_role"] == exp1["invalid_role"]
    n_first = len(r1["new_files"])
    assert n_first == len(r1["files"]) > 0

    # append a snapshot: ONLY the appended files are scanned
    df2 = synthesize_transcripts(spark, n_convs=5, turns_per_conv=4,
                                 defect_rate=0.0, seed=11)
    append_iceberg(df2, root)
    r2 = iv.run_iceberg(root, SPECS, "transcripts")
    assert r2["snapshot_id"] == 2
    assert len(r2["new_files"]) == len(r2["files"]) - n_first
    assert set(r2["new_files"]).isdisjoint(set(r1["new_files"]))
    both = df1.unionByName(df2)
    exp2 = _expected(both)
    assert r2["folded"]["row_count"] == exp2["rows"]
    assert r2["folded"]["invalid_role"] == exp2["invalid_role"]
    assert r2["removed_files"] == []
    assert r2["unevaluated"] == []

    # third run, nothing new: zero files scanned, fold unchanged
    r3 = iv.run_iceberg(root, SPECS, "transcripts")
    assert r3["new_files"] == []
    assert r3["folded"] == r2["folded"]

    # time-travel validation of snapshot 1 reuses the manifest rows:
    # nothing rescanned, fold matches the first run
    r_old = iv.run_iceberg(root, SPECS, "transcripts", snapshot_id=1)
    assert r_old["new_files"] == []
    assert r_old["folded"] == r1["folded"]


def test_delta_log_incremental(spark, tmp_path):
    root = str(tmp_path / "dtbl")
    df1 = synthesize_transcripts(spark, n_convs=10, turns_per_conv=4,
                                 defect_rate=0.2)
    write_delta_table(df1, root, partition_by=["role"])
    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))

    r1 = iv.run_delta(root, SPECS, "transcripts")
    assert r1["delta_version"] == 0
    exp1 = _expected(df1)
    assert r1["folded"]["row_count"] == exp1["rows"]
    # role is a PARTITION column: resolved from the hive dirs via
    # basePath, so the invalid-count is evaluable per file
    assert r1["unevaluated"] == []
    assert r1["folded"]["invalid_role"] == exp1["invalid_role"]
    assert r1["folded"]["missing_tool"] == exp1["missing_tool"]
    n_first = len(r1["new_files"])

    df2 = synthesize_transcripts(spark, n_convs=4, turns_per_conv=4,
                                 seed=3)
    write_delta_table(df2, root, mode="append")
    r2 = iv.run_delta(root, SPECS, "transcripts")
    assert r2["delta_version"] == 1
    assert len(r2["new_files"]) == len(r2["files"]) - n_first
    exp2 = _expected(df1.unionByName(df2))
    assert r2["folded"]["row_count"] == exp2["rows"]
    assert r2["folded"]["invalid_role"] == exp2["invalid_role"]

    r3 = iv.run_delta(root, SPECS, "transcripts")
    assert r3["new_files"] == [] and r3["folded"] == r2["folded"]


def test_delta_version_tailer(spark, tmp_path):
    """poll_delta: per-version verdicts with exact deltas, resume across
    a fresh tailer instance, idle poll empty — the Delta commit log is
    the offset log (reference binds the same log via delta-spark)."""
    from datacontract_cli_spark.engine.incremental import SnapshotTailer

    root = str(tmp_path / "dtbl")
    ckpt = str(tmp_path / "ckpt")
    df1 = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4,
                                 defect_rate=0.2)
    write_delta_table(df1, root, partition_by=["role"])

    tailer = SnapshotTailer(spark, ckpt)
    r = tailer.poll_delta(root, SPECS, "transcripts")
    assert [x["delta_version"] for x in r] == [0]
    exp1 = _expected(df1)
    assert r[0]["delta"]["row_count"] == exp1["rows"]
    assert r[0]["delta"]["invalid_role"] == exp1["invalid_role"]

    # two more commits land before the next poll
    df2 = synthesize_transcripts(spark, n_convs=3, turns_per_conv=4,
                                 seed=5)
    df3 = synthesize_transcripts(spark, n_convs=2, turns_per_conv=4,
                                 defect_rate=0.5, seed=6)
    write_delta_table(df2, root, mode="append")
    write_delta_table(df3, root, mode="append")

    # fresh instance resumes from the checkpoint dir
    r2 = SnapshotTailer(spark, ckpt).poll_delta(root, SPECS, "transcripts")
    assert [x["delta_version"] for x in r2] == [1, 2]
    assert r2[0]["delta"]["row_count"] == df2.count()
    assert r2[0]["delta"]["invalid_role"] == _expected(df2)["invalid_role"]
    assert r2[1]["delta"]["row_count"] == df3.count()
    assert r2[1]["delta"]["invalid_role"] == _expected(df3)["invalid_role"]
    assert r2[1]["folded"]["row_count"] == (df1.count() + df2.count()
                                            + df3.count())

    # idle poll: nothing pending
    assert SnapshotTailer(spark, ckpt).poll_delta(root, SPECS,
                                                  "transcripts") == []


def test_delta_incremental_refuses_deletion_vectors(spark, tmp_path):
    """A DV changes a file's live rows without changing its bytes, so
    file-granular fingerprints would silently count deleted rows — the
    incremental lane must refuse; after compact_delta (DVs materialized
    into copy-on-write files) it works and the fold excludes deletions."""
    from datacontract_cli_spark.sources.delta_table import (
        compact_delta,
        delete_rows_delta,
    )

    root = str(tmp_path / "dtbl")
    df = synthesize_transcripts(spark, n_convs=10, turns_per_conv=4,
                                defect_rate=0.2)
    write_delta_table(df, root)
    delete_rows_delta(spark, root, "turn_idx % 2 = 0")

    iv = IncrementalValidator(spark, str(tmp_path / "ckpt"))
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        iv.run_delta(root, SPECS, "transcripts")

    compact_delta(spark, root)
    r = iv.run_delta(root, SPECS, "transcripts")
    exp_rows = df.filter(~(F.col("turn_idx") % 2 == 0)).count()
    assert r["folded"]["row_count"] == exp_rows
    assert r["unevaluated"] == []


ICEBERG_INC_CONTRACT = """
id: t
version: 1.0.0
schema:
  - name: transcripts
    properties:
      - name: conv_id
        logicalType: string
        required: true
      - name: role
        logicalType: string
        quality:
          - metric: invalidValues
            arguments:
              validValues: [system, user, assistant, tool]
            mustBe: 0
"""


def _assert_maintenance_gates_counts_only(contract, run):
    """On a maintenance commit the count checks pass ungated; the schema
    checks are evaluated as on any other commit."""
    from datacontract_cli_spark.checks.compile import compile_checks

    counts = {s.key for s in compile_checks(contract, None)
              if s.metric in (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
                              MetricType.INVALID_COUNT)}
    assert counts
    for c in run.checks:
        if c.key in counts:
            assert "maintenance" in (c.reason or ""), c.key
        else:
            assert c.result.value == "passed" and c.reason is None, c.key
            assert c.diagnostics["metric"].startswith("field_"), c.key


def test_engine_incremental_iceberg(spark, tmp_path):
    """engine.test_incremental(table_format='iceberg') end-to-end: the
    contract's compiled count checks fold over snapshot-planned files."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    root = str(tmp_path / "tbl")
    df = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4,
                                defect_rate=0.2)
    write_iceberg_table(df, root, partition_by=["role"])
    contract = load_contract_str(ICEBERG_INC_CONTRACT)
    engine = SparkContractEngine(spark)
    run, result = engine.test_incremental(
        contract, root, "transcripts", str(tmp_path / "ckpt"),
        table_format="iceberg")
    assert result["snapshot_id"] == 1
    chk = next(c for c in run.checks if "invalid_values" in c.key)
    exp = _expected(df)["invalid_role"]
    assert chk.diagnostics["value"] == exp
    assert chk.result is (ResultEnum.failed if exp else ResultEnum.passed)


def test_engine_tail_delta_delta_verdicts(spark, tmp_path):
    """engine.tail: thresholds gate each version's DELTA — a clean append
    after a dirty initial load passes even though the cumulative table
    still holds the bad rows."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum

    root = str(tmp_path / "dtbl")
    dirty = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4,
                                   defect_rate=0.3)
    clean = synthesize_transcripts(spark, n_convs=4, turns_per_conv=4,
                                   defect_rate=0.0, seed=8)
    write_delta_table(dirty, root)
    write_delta_table(clean, root, mode="append")

    contract = load_contract_str(ICEBERG_INC_CONTRACT)
    engine = SparkContractEngine(spark)
    verdicts = engine.tail(contract, root, "transcripts",
                           str(tmp_path / "ckpt"), table_format="delta")
    assert [sid for sid, _, _ in verdicts] == [0, 1]
    n_bad = _expected(dirty)["invalid_role"]
    assert n_bad > 0
    v0 = next(c for c in verdicts[0][1].checks if "invalid" in c.key)
    v1 = next(c for c in verdicts[1][1].checks if "invalid" in c.key)
    assert v0.result is ResultEnum.failed
    assert v0.diagnostics["value"] == n_bad
    # version 1 appended only clean rows: delta verdict passes while the
    # cumulative count still carries the version-0 violations
    assert v1.result is ResultEnum.passed
    assert v1.diagnostics["value"] == 0
    assert v1.diagnostics["cumulative"] == n_bad

    # nothing pending on the next call
    assert engine.tail(contract, root, "transcripts",
                       str(tmp_path / "ckpt"), table_format="delta") == []


def test_cli_tail_iceberg(spark, tmp_path, capsys):
    import json as _json

    from datacontract_cli_spark.cli import main

    root = str(tmp_path / "tbl")
    df = synthesize_transcripts(spark, n_convs=6, turns_per_conv=4,
                                defect_rate=0.0)
    write_iceberg_table(df, root)
    cpath = tmp_path / "contract.yaml"
    cpath.write_text(ICEBERG_INC_CONTRACT)
    ckpt = str(tmp_path / "ckpt")

    assert main(["tail", str(cpath), "--table", root,
                 "--checkpoint-dir", ckpt]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    v = _json.loads(lines[-1])
    assert v["snapshot_id"] == 1 and v["result"] == "passed"

    # a dirty snapshot lands; the next poll fails on ITS delta, exit 1
    append_iceberg(synthesize_transcripts(spark, n_convs=3, turns_per_conv=4,
                                          defect_rate=0.9, seed=4), root)
    assert main(["tail", str(cpath), "--table", root,
                 "--checkpoint-dir", ckpt]) == 1
    v = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["snapshot_id"] == 2 and v["result"] == "failed"
    bad = next(c for c in v["checks"] if "invalid" in c["key"])
    assert bad["value"] > 0


def test_poll_dir_landing_zone(spark, tmp_path):
    """Plain-parquet landing zone: each poll batch with new files is one
    verdict whose delta covers exactly those files; idle polls are empty;
    resume works across tailer instances."""
    from datacontract_cli_spark.engine.incremental import SnapshotTailer

    root = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    df1 = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4,
                                 defect_rate=0.2)
    df1.write.parquet(root)

    out = SnapshotTailer(spark, ckpt).poll_dir(root, SPECS, "transcripts")
    assert [x["poll"] for x in out] == [0]
    exp1 = _expected(df1)
    assert out[0]["delta"]["row_count"] == exp1["rows"]
    assert out[0]["delta"]["invalid_role"] == exp1["invalid_role"]

    # idle poll: no new files, no verdict
    assert SnapshotTailer(spark, ckpt).poll_dir(root, SPECS,
                                                "transcripts") == []

    # two files land; the next poll's ONE verdict covers exactly them
    df2 = synthesize_transcripts(spark, n_convs=3, turns_per_conv=4,
                                 defect_rate=0.0, seed=5)
    df2.coalesce(2).write.mode("append").parquet(root)
    out2 = SnapshotTailer(spark, ckpt).poll_dir(root, SPECS, "transcripts")
    assert [x["poll"] for x in out2] == [1]
    assert out2[0]["delta"]["row_count"] == df2.count()
    assert out2[0]["delta"]["invalid_role"] == 0
    assert out2[0]["folded"]["row_count"] == df1.count() + df2.count()
    assert len(out2[0]["new_files"]) == 2


def test_poll_dir_corrupt_file_and_crash_recovery(spark, tmp_path):
    """A corrupt file yields one error verdict (no crash, no state
    advance); the crash window between the file manifest append and the
    tailer-state save re-emits the batch as a catch-up delta."""
    import json as _json
    import os

    from datacontract_cli_spark.engine.incremental import SnapshotTailer

    root = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    df1 = synthesize_transcripts(spark, n_convs=6, turns_per_conv=4,
                                 defect_rate=0.0)
    df1.write.parquet(root)
    tailer = SnapshotTailer(spark, ckpt)
    assert [x["poll"] for x in tailer.poll_dir(root, SPECS,
                                               "transcripts")] == [0]

    # corrupt file lands: one error verdict, retried (not skipped) —
    # landing zones usually REPLACE the partial file with a good one
    bad = os.path.join(root, "part-junk.parquet")
    with open(bad, "w") as f:
        f.write("this is not parquet")
    out = tailer.poll_dir(root, SPECS, "transcripts")
    assert len(out) == 1 and out[0].get("error")
    os.remove(bad)

    # crash simulation: roll the tailer state back one poll while the
    # file manifest already covers df2 (= died before _save)
    df2 = synthesize_transcripts(spark, n_convs=2, turns_per_conv=4,
                                 defect_rate=0.0, seed=7)
    df2.coalesce(1).write.mode("append").parquet(root)
    saved = _json.load(open(tailer._state_path("transcripts")))
    assert tailer.poll_dir(root, SPECS, "transcripts")[0][
        "delta"]["row_count"] == df2.count()
    with open(tailer._state_path("transcripts"), "w") as f:
        _json.dump(saved, f)  # roll back: manifest ahead of state
    catch_up = tailer.poll_dir(root, SPECS, "transcripts")
    assert len(catch_up) == 1
    assert catch_up[0]["delta"]["row_count"] == df2.count()
    assert catch_up[0]["new_files"] == []  # already scanned; fold-only
    # and now truly idle
    assert tailer.poll_dir(root, SPECS, "transcripts") == []


def test_cli_tail_parquet_dir(spark, tmp_path, capsys):
    import json as _json

    from datacontract_cli_spark.cli import main

    root = str(tmp_path / "zone")
    synthesize_transcripts(spark, n_convs=5, turns_per_conv=4,
                           defect_rate=0.0).write.parquet(root)
    cpath = tmp_path / "contract.yaml"
    cpath.write_text(ICEBERG_INC_CONTRACT)

    assert main(["tail", str(cpath), "--table", root, "--format",
                 "parquet", "--checkpoint-dir",
                 str(tmp_path / "ck")]) == 0
    v = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["poll"] == 0 and v["result"] == "passed"


def test_tail_iceberg_maintenance_commit_passes(spark, tmp_path):
    """An Iceberg compaction snapshot (operation=replace) is maintenance:
    its delta is zero-or-negative by construction, so tail must pass it
    ungated instead of failing a row-count contract on every OPTIMIZE."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum
    from datacontract_cli_spark.sources.iceberg_write import (
        compact_iceberg,
        delete_rows_iceberg,
    )

    root = str(tmp_path / "tbl")
    df = synthesize_transcripts(spark, n_convs=6, turns_per_conv=4,
                                defect_rate=0.0)
    write_iceberg_table(df, root)                    # snap 1
    delete_rows_iceberg(spark, root, "turn_idx = 0")  # snap 2 (delete)
    compact_iceberg(spark, root)                     # snap 3 (replace)

    contract = load_contract_str(ICEBERG_INC_CONTRACT)
    engine = SparkContractEngine(spark)
    verdicts = engine.tail(contract, root, "transcripts",
                           str(tmp_path / "ckpt"))
    assert [sid for sid, _, _ in verdicts] == [1, 2, 3]
    assert verdicts[0][1].result is ResultEnum.passed
    # the MoR delete snapshot carries delete manifests the file-granular
    # planner honestly refuses (the Iceberg twin of the Delta DV guard):
    # one error verdict, skipped thereafter, never silently wrong counts
    assert verdicts[1][1].result is ResultEnum.error
    assert "DELETE manifests" in verdicts[1][1].checks[0].reason
    # the replace is maintenance — passes ungated with the reason
    assert verdicts[2][2]["operation"] == "replace"
    assert verdicts[2][2]["data_change"] is False
    run3 = verdicts[2][1]
    assert run3.result is ResultEnum.passed
    _assert_maintenance_gates_counts_only(contract, run3)


def test_tail_delta_full_lifecycle(spark, tmp_path):
    """The tailer survives the whole table lifecycle: a DV DELETE version
    gets ONE error verdict then is skipped forever (file-incremental
    can't validate it), a compaction commit (dataChange=false) passes
    without threshold gating, and a vacuumed history yields error
    verdicts instead of an eternally stuck poll."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.engine.incremental import SnapshotTailer
    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.model.run import ResultEnum
    from datacontract_cli_spark.sources.delta_table import (
        compact_delta,
        delete_rows_delta,
        vacuum_delta,
    )

    root = str(tmp_path / "dtbl")
    df = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4,
                                defect_rate=0.0)
    write_delta_table(df, root)                      # v0
    delete_rows_delta(spark, root, "turn_idx = 0")   # v1 (DVs)
    compact_delta(spark, root)                       # v2 (dataChange=false)

    contract = load_contract_str(ICEBERG_INC_CONTRACT)
    engine = SparkContractEngine(spark)
    verdicts = engine.tail(contract, root, "transcripts",
                           str(tmp_path / "ckpt"), table_format="delta")
    assert [sid for sid, _, _ in verdicts] == [0, 1, 2]
    assert verdicts[0][1].result is ResultEnum.passed
    # v1 carries DVs: one honest error verdict, never a silent skip
    assert verdicts[1][1].result is ResultEnum.error
    assert "deletion vectors" in verdicts[1][1].checks[0].reason
    # v2 is maintenance: passes even though its row delta is negative
    run2 = verdicts[2][1]
    assert run2.result is ResultEnum.passed
    assert verdicts[2][2]["data_change"] is False
    _assert_maintenance_gates_counts_only(contract, run2)

    # nothing pending afterwards (the DV version is not retried)
    assert engine.tail(contract, root, "transcripts",
                       str(tmp_path / "ckpt"), table_format="delta") == []

    # vacuum reclaims pre-compaction files; a FRESH tailer over the
    # truncated history gets error verdicts for v0/v1 and a clean v2
    vacuum_delta(root)
    tailer = SnapshotTailer(spark, str(tmp_path / "ckpt2"))
    out = tailer.poll_delta(root, SPECS, "transcripts")
    assert [x["delta_version"] for x in out] == [0, 1, 2]
    assert out[0].get("error") and out[1].get("error")
    assert not out[2].get("error")
    exp = df.filter(F.col("turn_idx") != 0).count()
    assert out[2]["folded"]["row_count"] == exp
    # and the stuck-poll regression: a second fresh poll has nothing
    assert tailer.poll_delta(root, SPECS, "transcripts") == []


def test_snapshot_tailer(spark, tmp_path):
    """Per-snapshot verdicts with exact deltas; resume skips validated
    snapshots even across a fresh tailer instance."""
    from datacontract_cli_spark.engine.incremental import SnapshotTailer

    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    df1 = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4,
                                 defect_rate=0.2)
    write_iceberg_table(df1, root, partition_by=["role"])

    tailer = SnapshotTailer(spark, ckpt)
    r = tailer.poll(root, SPECS, "transcripts")
    assert [x["snapshot_id"] for x in r] == [1]
    exp1 = _expected(df1)
    assert r[0]["delta"]["row_count"] == exp1["rows"]
    assert r[0]["delta"]["invalid_role"] == exp1["invalid_role"]

    # two more snapshots land before the next poll
    df2 = synthesize_transcripts(spark, n_convs=3, turns_per_conv=4,
                                 seed=5)
    df3 = synthesize_transcripts(spark, n_convs=2, turns_per_conv=4,
                                 defect_rate=0.5, seed=6)
    append_iceberg(df2, root)
    append_iceberg(df3, root)

    # fresh instance: state resumes from the checkpoint dir
    r2 = SnapshotTailer(spark, ckpt).poll(root, SPECS, "transcripts")
    assert [x["snapshot_id"] for x in r2] == [2, 3]
    assert r2[0]["delta"]["row_count"] == df2.count()
    assert r2[0]["delta"]["invalid_role"] == _expected(df2)["invalid_role"]
    assert r2[1]["delta"]["row_count"] == df3.count()
    assert r2[1]["delta"]["invalid_role"] == _expected(df3)["invalid_role"]
    # cumulative fold is the whole table
    assert r2[1]["folded"]["row_count"] == (df1.count() + df2.count()
                                            + df3.count())

    # idle poll: nothing pending
    assert SnapshotTailer(spark, ckpt).poll(root, SPECS,
                                            "transcripts") == []
