"""engine.test_partitioned: Run-shaped per-partition validation."""

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

import os
HERE = os.path.dirname(__file__)


def test_test_partitioned_matches_global(spark, tmp_path):
    contract = load_contract(os.path.join(HERE, "fixtures", "transcripts_contract.yaml"))
    df = synthesize_transcripts(spark, n_convs=300, turns_per_conv=5, defect_rate=0.2)
    engine = SparkContractEngine(spark)
    prun, verdicts = engine.test_partitioned(
        contract, df, "transcripts", checkpoint_dir=str(tmp_path), n_buckets=8)
    grun = engine.test(contract, tables={"transcripts": df})

    # metric values agree with the global run for every shared check
    for pc in prun.checks:
        gc = grun.check(pc.key)
        if gc is None or gc.diagnostics is None:
            continue
        assert pc.diagnostics["value"] == gc.diagnostics["value"], pc.key
        assert pc.result == gc.result, pc.key

    failed = [c for c in prun.checks if c.result is ResultEnum.failed]
    assert failed, "defect data must fail some checks"
    assert all(c.diagnostics["failed_buckets"] for c in failed
               if c.type in ("field_required",))
    assert prun.result is ResultEnum.failed
