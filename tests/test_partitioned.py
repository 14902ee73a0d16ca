"""Per-partition verdicts, checkpoint/resume, salted conversation checks."""

import json
import os

from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
from datacontract_cli_spark.engine.partitioned import PartitionedValidator
from datacontract_cli_spark.operators import convchecks
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts


def _specs():
    return [
        CheckSpec(key="t__row_count", category="quality", type="row_count", name="rc",
                  model="transcripts", metric=MetricType.ROW_COUNT,
                  threshold=Threshold(Op.GT, 0)),
        CheckSpec(key="t__role__field_required", category="schema", type="field_required",
                  name="req", model="transcripts", field="role",
                  metric=MetricType.MISSING_COUNT, threshold=Threshold(Op.EQ, 0)),
        CheckSpec(key="t__pk", category="schema", type="primary_key_unique", name="pk",
                  model="transcripts", metric=MetricType.DUPLICATE_COUNT,
                  threshold=Threshold(Op.EQ, 0), columns=["conv_id", "turn_idx"]),
    ]


def test_bucket_verdicts_fold_matches_global(spark, tmp_path):
    df = synthesize_transcripts(spark, n_convs=300, turns_per_conv=6, defect_rate=0.2)
    pv = PartitionedValidator(spark, checkpoint_dir=str(tmp_path), n_buckets=8)
    verdicts = pv.run(df, _specs(), "transcripts", source_path="synthetic")
    assert len(verdicts) == 8
    folded = PartitionedValidator.fold(verdicts)
    assert folded["metrics"]["row_count"] == 1800
    # fold equals a direct global computation
    missing = df.filter(F.col("role").isNull()).count()
    assert folded["metrics"]["t__role__field_required"] == missing
    dup = df.groupBy("conv_id", "turn_idx").count().filter("count>1").count()
    assert folded["metrics"]["t__pk"] == dup
    assert any(v.results["t__role__field_required"] == "failed"
               for v in verdicts.values()) == bool(missing)
    assert folded["errors"] == []
    # every bucket has lineage
    assert all(v.lineage["source"] == "synthetic" for v in verdicts.values())


def test_checkpoint_resume_skips_completed_buckets(spark, tmp_path):
    df = synthesize_transcripts(spark, n_convs=100, turns_per_conv=4)
    pv = PartitionedValidator(spark, checkpoint_dir=str(tmp_path), n_buckets=4)
    all_first = pv.run(df, _specs(), "transcripts")
    manifest = os.path.join(str(tmp_path), "transcripts.manifest.jsonl")
    lines = open(manifest).read().strip().splitlines()
    assert len(lines) == 4

    # simulate a crash after 2 buckets: truncate the manifest
    with open(manifest, "w") as f:
        f.write("\n".join(lines[:2]) + "\n")
    pv2 = PartitionedValidator(spark, checkpoint_dir=str(tmp_path), n_buckets=4)
    resumed = pv2.run(df, _specs(), "transcripts")
    assert len(resumed) == 4
    # resumed run appended exactly the 2 missing buckets
    lines2 = open(manifest).read().strip().splitlines()
    assert len(lines2) == 4
    done_first = {json.loads(l)["bucket"] for l in lines[:2]}
    appended = {json.loads(l)["bucket"] for l in lines2[2:]}
    assert appended == set(range(4)) - done_first
    # metrics identical to the uninterrupted run
    assert PartitionedValidator.fold(resumed)["metrics"] == \
           PartitionedValidator.fold(all_first)["metrics"]


def test_conversation_stats_with_skew(spark):
    df = synthesize_transcripts(spark, n_convs=200, turns_per_conv=6,
                                hot_conv_fraction=0.3)
    stats = convchecks.conversation_stats(df)
    hot = stats.filter(F.col("conv_id") == "conv-0000000000").first()
    assert hot["n_turns"] > 300  # ~30% of 1200 turns routed to conv 0
    total = stats.agg(F.sum("n_turns")).first()[0]
    assert total == 1200


def test_turn_density_violations(spark):
    df = synthesize_transcripts(spark, n_convs=100, turns_per_conv=5)
    clean = convchecks.turn_density_violations(df)
    assert clean.count() == 0
    bad = synthesize_transcripts(spark, n_convs=100, turns_per_conv=5, defect_rate=0.3)
    assert convchecks.turn_density_violations(bad).count() > 0
