"""spark-submit --py-files packaging (north rule run mode).

Marked slow-ish: spawns a real spark-submit JVM. Exercises the exact
deployment path a cluster run uses: the engine arrives as a zip, not as an
installed package."""

import os
import shutil
import subprocess

import pytest

HERE = os.path.dirname(__file__)
REPO = os.path.dirname(HERE)
SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files(tmp_path, spark):
    from datacontract_cli_spark.sources.transcripts import synthesize_transcripts
    from tools.package import build

    data = str(tmp_path / "transcripts")
    synthesize_transcripts(spark, n_convs=50, turns_per_conv=4).write.parquet(data)
    zip_path = build(str(tmp_path / "dcspark.zip"))

    env = dict(os.environ)
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    proc = subprocess.run(
        [SUBMIT, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "tools", "validate_job.py"),
         "--contract", os.path.join(HERE, "fixtures", "transcripts_contract.yaml"),
         "--data", data, "--model", "transcripts"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path),  # NOT the repo root: the zip must provide the package
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "Run result: passed" in proc.stdout


@pytest.mark.skipif(SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_partitioned_with_resume(tmp_path, spark):
    from datacontract_cli_spark.sources.transcripts import synthesize_transcripts
    from tools.package import build

    data = str(tmp_path / "transcripts")
    synthesize_transcripts(spark, n_convs=50, turns_per_conv=4).write.parquet(data)
    zip_path = build(str(tmp_path / "dcspark.zip"))
    ckpt = str(tmp_path / "ckpt")

    env = dict(os.environ)
    cmd = [SUBMIT, "--master", "local[2]",
           "--conf", "spark.ui.enabled=false",
           "--py-files", zip_path,
           os.path.join(REPO, "tools", "validate_job.py"),
           "--contract", os.path.join(HERE, "fixtures", "transcripts_contract.yaml"),
           "--data", data, "--model", "transcripts",
           "--partitioned", "--checkpoint-dir", ckpt, "--n-buckets", "4"]
    p1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        env=env, cwd=str(tmp_path))
    assert p1.returncode == 0, p1.stdout[-2000:] + p1.stderr[-2000:]
    manifest = os.path.join(ckpt, "transcripts.manifest.jsonl")
    assert os.path.exists(manifest)
    assert len(open(manifest).read().strip().splitlines()) == 4
    # second run resumes: nothing re-validated, manifest unchanged
    p2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        env=env, cwd=str(tmp_path))
    assert p2.returncode == 0
    assert len(open(manifest).read().strip().splitlines()) == 4


@pytest.mark.skipif(SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_incremental(tmp_path, spark):
    import json

    from datacontract_cli_spark.sources.transcripts import synthesize_transcripts
    from tools.package import build

    data = str(tmp_path / "transcripts")
    synthesize_transcripts(spark, n_convs=50, turns_per_conv=4).write.parquet(data)
    zip_path = build(str(tmp_path / "dcspark.zip"))
    ckpt = str(tmp_path / "ckpt")

    env = dict(os.environ)
    cmd = [SUBMIT, "--master", "local[2]",
           "--conf", "spark.ui.enabled=false",
           "--py-files", zip_path,
           os.path.join(REPO, "tools", "validate_job.py"),
           "--contract", os.path.join(HERE, "fixtures", "transcripts_contract.yaml"),
           "--data", data, "--model", "transcripts",
           "--incremental", "--checkpoint-dir", ckpt]
    p1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        env=env, cwd=str(tmp_path))
    # the fixture's primary key is a uniqueness rule, which does not fold
    # over files: its one error fails the job closed, every other rule
    # passes on the clean data
    assert p1.returncode == 1, p1.stdout[-2000:] + p1.stderr[-2000:]
    assert "does not fold over files in the incremental lane" in p1.stdout
    assert "Run result: error (21/22 checks passed)" in p1.stdout
    line1 = next(l for l in p1.stdout.splitlines() if l.startswith("{"))
    r1 = json.loads(line1)
    assert r1["folded"]["row_count"] == 200 and r1["new_files"]

    # second run: nothing new, same fold
    p2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        env=env, cwd=str(tmp_path))
    assert p2.returncode == 1
    r2 = json.loads(next(l for l in p2.stdout.splitlines() if l.startswith("{")))
    assert r2["new_files"] == [] and r2["folded"] == r1["folded"]
