"""Single-node throughput: this engine vs the reference's execution backend.

The reference CLI executes its checks on DuckDB (datacontract/engines/ibis/
connections/connect.py) — so "reference single-node throughput" on a given
input = DuckDB running the same validation aggregates. This tool measures,
on the same N-turn transcripts parquet:

1. DuckDB 32-threads: the batched validation aggregate + the duplicate check
2. Spark local[32]: the same two stages, plain parquet layout

Appends a section to BENCH/BASELINE.md. Usage:
    python tools/singlenode_compare.py [n_convs] [turns_per_conv]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def median_time(fn, n=5):
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts[1:]), 3)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    turns = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    from tools.scaling_bench import materialize

    path, n_turns = materialize(n_convs, turns)

    # ---- DuckDB (reference backend) ----------------------------------------
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 32")
    glob = f"{path}/*.parquet"
    agg_sql = f"""
        SELECT count(*),
          count(*) FILTER (WHERE role IS NULL),
          count(*) FILTER (WHERE role IS NOT NULL AND role NOT IN
            ('system','user','assistant','tool')),
          count(*) FILTER (WHERE conv_id IS NOT NULL AND NOT
            regexp_matches(conv_id, '^conv-[0-9]{{10}}$')),
          count(*) FILTER (WHERE text IS NOT NULL AND length(text) > 10000),
          max(ts), min(ts)
        FROM read_parquet('{glob}')"""
    dup_sql = f"""
        SELECT count(*) FROM (SELECT conv_id, turn_idx
        FROM read_parquet('{glob}') GROUP BY 1, 2 HAVING count(*) > 1)"""
    duck_agg = median_time(lambda: con.execute(agg_sql).fetchall())
    duck_dup = median_time(lambda: con.execute(dup_sql).fetchall())

    # ---- Spark local[32] ----------------------------------------------------
    from pyspark.sql import functions as F

    from datacontract_cli_spark.session import get_spark

    spark = get_spark("compare", master="local[32]", shuffle_partitions=64)
    df = spark.read.parquet(path)

    def spark_agg():
        df.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("role").isNull(), 1).otherwise(0)),
            F.sum(F.when(~F.col("role").isin("system", "user", "assistant", "tool"), 1)
                  .otherwise(0)),
            F.sum(F.when(~F.col("conv_id").rlike("^conv-[0-9]{10}$"), 1).otherwise(0)),
            F.sum(F.when(F.length("text") > 10000, 1).otherwise(0)),
            F.max("ts"), F.min("ts"),
        ).collect()

    def spark_dup():
        (df.select(F.xxhash64("conv_id", "turn_idx").alias("h"))
         .groupBy("h").count().filter("count>1").count())

    sp_agg = median_time(spark_agg)
    sp_dup = median_time(spark_dup)

    result = {
        "n_turns": n_turns,
        "duckdb_agg_sec": duck_agg, "duckdb_dup_sec": duck_dup,
        "spark_agg_sec": sp_agg, "spark_dup_sec": sp_dup,
    }
    print(json.dumps(result))

    section = f"""

## Single-node comparison vs the reference backend (DuckDB)

The reference CLI executes checks on DuckDB; same {n_turns:,}-turn input,
32 threads both engines (median of 4 warm):

| stage | DuckDB | Spark local[32] (plain parquet) |
|---|---|---|
| batched validation aggregate | {duck_agg}s | {sp_agg}s |
| duplicate (conv_id, turn_idx) check | {duck_dup}s | {sp_dup}s |

DuckDB's vectorized single-node executor wins at a scale that fits one
machine — expected, and exactly why the reference uses it there. The
engine's claim is different: identical check semantics on inputs that
do NOT fit one machine.

Reproduce: `python tools/singlenode_compare.py {n_convs} {turns}`
"""
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    prior = open(path).read() if os.path.exists(path) else ""
    marker = "\n## Single-node comparison"
    if marker in prior:
        prior = prior.split(marker, 1)[0].rstrip() + "\n"
    with open(path, "w") as f:
        f.write(prior + section)


if __name__ == "__main__":
    main()
