"""spark-submit entry point: contract validation as a cluster job.

    spark-submit --py-files dcspark.zip tools/validate_job.py \
        --contract contract.yaml --data /path/transcripts \
        --model transcripts --checkpoint-dir /path/ckpt [--partitioned]

Build the zip with ``python tools/package.py`` (writes dist/dcspark.zip).
On a real cluster the same invocation works with ``--master yarn``/k8s —
the engine only ever talks to the SparkSession it is given. Exit code
follows the run result (1 on a failed or error verdict, in every mode),
so the job slots into schedulers.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--contract", required=True)
    p.add_argument("--data", required=True, help="parquet path of the model data")
    p.add_argument("--model", required=True)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--partitioned", action="store_true",
                   help="per-partition verdicts with resume (needs --checkpoint-dir)")
    p.add_argument("--incremental", action="store_true",
                   help="validate only files new/changed since the last run "
                        "(needs --checkpoint-dir); count checks fold over "
                        "files, other rules report an error")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--partition-key", default="conv_id")
    p.add_argument("--table-format", default="parquet",
                   choices=["parquet", "iceberg", "delta"],
                   help="with --incremental: plan live files from the "
                        "table's own metadata (snapshot manifests / "
                        "delta log) instead of a directory walk")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="time-travel: Iceberg snapshot id / Delta version")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit provides master/conf; fall back to local defaults for dev
    spark = SparkSession.builder.appName("datacontract-validate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract
    from datacontract_cli_spark.output import writers

    contract = load_contract(args.contract)
    engine = SparkContractEngine(spark)

    if args.incremental:
        if not args.checkpoint_dir:
            print("error: --incremental needs --checkpoint-dir", file=sys.stderr)
            return 2
        run, result = engine.test_incremental(
            contract, args.data, args.model, args.checkpoint_dir,
            table_format=args.table_format, snapshot_id=args.snapshot_id)
        print(json.dumps({"new_files": result["new_files"],
                          "removed_files": result["removed_files"],
                          "n_files": len(result["files"]),
                          "folded": result["folded"]}, default=str))
        print(writers.console_table(run))
        return writers.exit_code(run)

    df = spark.read.parquet(args.data)
    if args.partitioned:
        run, verdicts = engine.test_partitioned(
            contract, df, args.model, checkpoint_dir=args.checkpoint_dir,
            partition_key=args.partition_key, n_buckets=args.n_buckets,
            source_path=args.data)
        print(json.dumps({"n_buckets_validated": len(verdicts)}))
    else:
        run = engine.test(contract, tables={args.model: df})
    print(writers.console_table(run))
    return writers.exit_code(run)


if __name__ == "__main__":
    sys.exit(main())
