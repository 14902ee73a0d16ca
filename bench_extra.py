"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink so the computation is measured, not the sink,
and optionally dumps .explain("formatted") plans.

NOT the driver's bench — bench.py stays frozen. Usage:

    python bench_extra.py QUERY [QUERY ...] [--sf DIR] [--repeat N]
        [--explain-dir DIR] [--count]

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py. Each query
runs the lane its __spark_entry__.py definition names, as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--count", action="store_true",
                    help="time df.count() like bench.py instead of the noop sink")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry_mod
    from datacontract_cli_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    # same untimed warm-up as bench.py: JVM codegen + python workers + HOF JIT
    spark.range(1000).count()
    spark.range(int(cpus) * 4, numPartitions=int(cpus)) \
        .mapInPandas(lambda it: it, "id long").count()
    from pyspark.sql import functions as F

    from datacontract_cli_spark.operators.contamination import word_ngrams
    tiny = spark.range(64).select(
        F.col("id"), F.concat_ws(" ", *([F.lit("w")] * 8)).alias("text"))
    tiny_grams = tiny.select(
        "id", F.explode(F.array_distinct(
            word_ngrams(F.col("text"), 5))).alias("gram"))
    tiny_grams.join(F.broadcast(tiny_grams.select("gram").distinct()),
                    "gram", "left_semi").count()

    qs = entry_mod.queries()
    out: dict[str, list[float]] = {}
    for name in args.queries:
        fn = qs[name]
        samples = []
        for i in range(args.repeat):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = samples
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        print(json.dumps({"query": name, "samples": samples,
                          "min": min(samples),
                          "loadavg_1m": os.getloadavg()[0]}), flush=True)


if __name__ == "__main__":
    main()
