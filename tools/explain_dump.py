"""Dump formatted physical plans of the engine's key query shapes to
PLANS.md — the artifact showing pushdown / pruning / broadcast / partial
aggregation at a glance. Usage: python tools/explain_dump.py [sf_dir]"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    from pyspark.sql import functions as F

    from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
    from datacontract_cli_spark.engine.executor import compile_aggregates
    from datacontract_cli_spark.operators.refintegrity import orphan_rows
    from datacontract_cli_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    sections = []

    specs = [
        CheckSpec(key=metric.value, category="q", type="t", name="n",
                  model="orders", metric=metric, field=field, **args)
        for metric, field, args in (
            (MetricType.ROW_COUNT, None, {}),
            (MetricType.MISSING_COUNT, "o_orderstatus", {}),
            (MetricType.INVALID_COUNT, "o_orderstatus",
             {"valid_values": ["O", "F"]}),
            (MetricType.FRESHNESS, "o_orderdate", {}))]
    batch, _ = compile_aggregates(orders, specs)
    batched = batch.frame(orders)
    sections.append(("Batched validation aggregate (one scan, partial+final "
                     "hash agg, pruned ReadSchema)", batched))

    filtered = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    sections.append(("Filter pushdown + column pruning (PushedFilters reach "
                     "the parquet scan)", filtered))

    ri = orphan_rows(li, "l_orderkey", orders, "o_orderkey")
    sections.append(("Referential integrity (distinct parent keys broadcast; "
                     "the big child side is never exchanged)", ri))

    dup_hash = (li.select(F.xxhash64("l_orderkey", "l_linenumber").alias("h"))
                .groupBy("h").count().filter("count > 1"))
    sections.append(("Duplicate pre-pass (8-byte hash keys through the "
                     "shuffle, map-side combine)", dup_hash))

    topk = orders.orderBy(F.desc("o_totalprice")).limit(5)
    sections.append(("Top-k (TakeOrderedAndProject — no global sort)", topk))

    # round 2: the one-scan merged agg + uniqueness job (partial aggregates
    # ride the duplicate groupBy; the final fold is over key groups)
    merged = (
        orders.groupBy("o_orderkey").agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).alias("m1"),
        ).agg(F.sum("__n__").alias("rows"), F.sum("m1").alias("missing"),
              F.sum(F.when(F.col("__n__") > 1, 1).otherwise(0)).alias("dups"))
    )
    sections.append(("Merged agg + uniqueness (one scan: count-if partials "
                     "inside the key groupBy, tiny final fold)", merged))

    # round 2: md5 minhash signatures + banded LSH candidates (signatures
    # persisted to defeat projection collapse; bucket-local self-join)
    from datacontract_cli_spark.operators.dedup import minhash_candidates
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh = minhash_candidates(docs, "doc_id", kernel="md5")
    sections.append(("MinHash banded LSH (md5 family): bucket-local "
                     "self-join, only (id, band, key) shuffles", mh))

    # round 2: winnowing inverted-index pair counts
    from datacontract_cli_spark.operators.dedup import winnow_shared_pairs
    wn = winnow_shared_pairs(docs, "doc_id", min_shared=30)
    sections.append(("Winnowing fingerprints: inverted-index join, "
                     "two-phase pair count", wn))

    # round 4: declarative drift — one plan, zero driver round-trips
    from datacontract_cli_spark.operators.drift import psi_df
    ev4 = spark.read.parquet(f"{sf_dir}/events.parquet")
    psi = psi_df(ev4, "event_type",
                 {"click": 0.2, "error": 0.2, "purchase": 0.2,
                  "signup": 0.2, "view": 0.2})
    sections.append(("Declarative PSI (grouped count -> broadcast total -> "
                     "full-outer join with exploded baseline literal -> "
                     "single-row sum; no collect, no createDataFrame)", psi))

    # round 4: profile as a UNION of per-column pruned aggregates
    from datacontract_cli_spark.operators.profile import profile_df
    prof = profile_df(orders, ["o_orderkey", "o_orderstatus"],
                      exact_distinct=True)
    sections.append(("profile_df: UNION of per-column single-row aggregates "
                     "(each branch scans ONE pruned column; exact distinct "
                     "is a per-column two-phase agg, not a rows*cols melt)",
                     prof))

    # round 4: contamination — benchmark side broadcast LEFT SEMI
    from datacontract_cli_spark.operators.contamination import contaminated_docs
    docs4 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cont = contaminated_docs(docs4.filter(F.col("doc_id") >= 10),
                             docs4.filter(F.col("doc_id") < 10),
                             n=5, hash_grams=True)
    sections.append(("Benchmark contamination: corpus n-grams LEFT SEMI "
                     "broadcast-join against the (tiny) benchmark gram set; "
                     "8-byte xxhash64 join keys, no corpus-side shuffle", cont))

    out = ["# PLANS — physical plans of the engine's core query shapes\n",
           f"Generated by `python tools/explain_dump.py {sf_dir}` "
           "(Spark " + spark.version + ").\n"]
    for title, df in sections:
        out.append(f"## {title}\n\n```\n{formatted(df)}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main(*sys.argv[1:])
