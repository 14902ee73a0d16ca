"""engine.test_partitioned / test_incremental: Run-shaped bucket and file
validation that agrees with test()."""

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

import os
HERE = os.path.dirname(__file__)


def test_test_partitioned_matches_global(spark, tmp_path):
    contract = load_contract(os.path.join(HERE, "fixtures", "transcripts_contract.yaml"))
    data = str(tmp_path / "data")
    synthesize_transcripts(spark, n_convs=300, turns_per_conv=5,
                           defect_rate=0.2).write.parquet(data)
    df = spark.read.parquet(data)
    engine = SparkContractEngine(spark)
    prun, verdicts = engine.test_partitioned(
        contract, df, "transcripts", checkpoint_dir=str(tmp_path / "b"),
        n_buckets=8)
    frun, _ = engine.test_incremental(
        contract, data, "transcripts", str(tmp_path / "f"))
    grun = engine.test(contract, tables={"transcripts": df})

    # every lane reports every check test() reports, and the metric values
    # agree for every check the lane folds; the file lane cannot fold the
    # primary-key uniqueness (duplicates cross files) and says so
    for lane, run in (("partitioned", prun), ("incremental", frun)):
        assert [c.key for c in run.checks] == [c.key for c in grun.checks]
        for pc in run.checks:
            gc = grun.check(pc.key)
            if pc.result is ResultEnum.error:
                assert lane == "incremental" and gc.type == "primary_key_unique"
                assert f"in the {lane} lane" in pc.reason
                continue
            assert pc.diagnostics.get("value") == gc.diagnostics.get("value"), (lane, pc.key)
            assert pc.result == gc.result, (lane, pc.key)

    failed = [c for c in prun.checks if c.result is ResultEnum.failed]
    assert failed, "defect data must fail some checks"
    assert all(c.diagnostics["failed_buckets"] for c in failed
               if c.type in ("field_required",))
    assert prun.result is ResultEnum.failed



def test_partitioned_error_reason_names_its_cause(spark, tmp_path):
    """A uniqueness rule whose key lacks the partition key is an error
    that says so; a bucket error stored for a rule that routes (a
    checkpoint whose buckets recorded one) is not blamed on routing."""
    import json

    contract = load_contract(os.path.join(HERE, "fixtures", "transcripts_contract.yaml"))
    df = synthesize_transcripts(spark, n_convs=40, turns_per_conv=3)
    engine = SparkContractEngine(spark)

    run, _ = engine.test_partitioned(contract, df, "transcripts",
                                     checkpoint_dir=str(tmp_path / "role"),
                                     partition_key="role", n_buckets=4)
    pk = next(c for c in run.checks if c.type == "primary_key_unique")
    assert pk.result is ResultEnum.error
    assert "partition key 'role' is not part of the duplicate key" in pk.reason

    ckpt = tmp_path / "conv"
    engine.test_partitioned(contract, df, "transcripts",
                            checkpoint_dir=str(ckpt), n_buckets=4)
    manifest = ckpt / "transcripts.manifest.jsonl"
    lines = [json.loads(line) for line in manifest.read_text().splitlines()]
    for line in lines:
        line["results"][pk.key] = "error"
        line["metrics"].pop(pk.key)
    manifest.write_text("".join(json.dumps(line) + "\n" for line in lines))
    run, _ = engine.test_partitioned(contract, df, "transcripts",
                                     checkpoint_dir=str(ckpt), n_buckets=4)
    assert run.check(pk.key).result is ResultEnum.error
    assert "checkpoint" in run.check(pk.key).reason
    assert "partition key" not in run.check(pk.key).reason
    assert len(manifest.read_text().splitlines()) == 4  # resumed, no rescan

def test_validate_job_partitioned_fails_closed(spark, tmp_path, monkeypatch):
    """A uniqueness check whose key lacks the partition key cannot be
    folded per bucket: the job reports it as an error and exits non-zero."""
    import yaml

    from tools import validate_job

    with open(os.path.join(HERE, "fixtures", "transcripts_contract.yaml")) as f:
        doc = yaml.safe_load(f)
    text = next(p for p in doc["schema"][0]["properties"] if p["name"] == "text")
    text["unique"] = True
    contract = tmp_path / "contract.yaml"
    contract.write_text(yaml.safe_dump(doc, sort_keys=False))
    data = str(tmp_path / "transcripts")
    synthesize_transcripts(spark, n_convs=40, turns_per_conv=3).write.parquet(data)

    monkeypatch.setattr("sys.argv", [
        "validate_job.py", "--contract", str(contract), "--data", data,
        "--model", "transcripts", "--partitioned",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--n-buckets", "4"])
    assert validate_job.main() == 1


def test_validate_job_incremental_fails_on_type(spark, tmp_path, monkeypatch):
    """With ``ts`` declared integer, the file lane fails its type check as
    test() does, so the job exits non-zero; the same contract with ``ts``
    a timestamp passes. The primary key is dropped from the contract:
    its uniqueness does not fold over files, so it would error either
    way."""
    import yaml

    from tools import validate_job

    data = str(tmp_path / "transcripts")
    synthesize_transcripts(spark, n_convs=40, turns_per_conv=3).write.parquet(data)
    codes = {}
    for ts_type in ("timestamp", "integer"):
        with open(os.path.join(HERE, "fixtures", "transcripts_contract.yaml")) as f:
            doc = yaml.safe_load(f)
        for prop in doc["schema"][0]["properties"]:
            prop.pop("primaryKey", None)
            prop.pop("primaryKeyPosition", None)
            if prop["name"] == "ts":
                prop["logicalType"] = ts_type
        contract = tmp_path / f"{ts_type}.yaml"
        contract.write_text(yaml.safe_dump(doc, sort_keys=False))
        monkeypatch.setattr("sys.argv", [
            "validate_job.py", "--contract", str(contract), "--data", data,
            "--model", "transcripts", "--incremental",
            "--checkpoint-dir", str(tmp_path / f"ckpt-{ts_type}")])
        codes[ts_type] = validate_job.main()
    assert codes == {"timestamp": 0, "integer": 1}
