"""Traced stand-in for one ``python -m datacontract_cli_spark test`` process.

    python3 perfbench/cli_child.py LAYERS_JSON test CONTRACT [CLI options]

Installs the benchmark's layer wrappers, runs the CLI's own ``main`` with
the given arguments inside one operation span, stops the session so the
event log is complete, and writes the operation's per-layer readings to
LAYERS_JSON. Exits with the CLI's exit code.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace  # noqa: E402
from perfbench.common import nproc  # noqa: E402


def main() -> int:
    layers_json, argv = sys.argv[1], sys.argv[2:]
    tracer = trace.Tracer()
    tracer.install()
    from pyspark.sql import SparkSession

    from datacontract_cli_spark import cli

    with tracer.op("cli_wide"):
        rc = cli.main(argv)
    tracer.uninstall()
    spark = SparkSession.getActiveSession()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = trace.parse_event_log(os.environ["PERFBENCH_EVENT_DIR"], app_id)
    row = trace.op_metrics(tracer, tracer.ops[0], log, nproc())
    row["__self__"] = tracer.op_layers(tracer.ops[0])[1]
    with open(layers_json, "w") as f:
        json.dump(row, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
