"""Deterministic sampling for training-data pipelines.

- :func:`stratified_sample`: per-stratum quota sampling (e.g. N documents
  per language for a mixing recipe). Rows rank inside their stratum by a
  content-independent hash of their id (md5 — the shared cross-engine hash
  family, so an external SQL oracle reproduces the exact sample), and the
  top ``quota`` per stratum survive. One shuffle on the stratum key; the
  rank is a window row_number, so each stratum is processed streaming
  within its partition — no global sort. Deterministic across runs,
  cluster sizes, and engines: the sample is a pure function of the ids.

- :func:`hash_split`: stable train/validation/test assignment by id hash —
  the standard leakage-safe split (same id always lands in the same split,
  regardless of partitioning or run order).

The reference engine has no sampling operators (its LIMIT-5 violation
sampling is the closest thing, SURVEY §2.6) — this is a beyond-reference
operator for the training-data lane.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sample_rank_key(id_col: Column) -> Column:
    """Deterministic, content-independent ranking key: md5 of the id string.
    md5 (not xxhash64) so external engines can reproduce the exact order."""
    return F.md5(id_col.cast("string"))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    quota: int,
    id_col: str,
) -> DataFrame:
    """Up to ``quota`` rows per stratum, chosen by the hash order of their
    ids (ties broken by the id itself, so the result is total-ordered)."""
    w = Window.partitionBy(stratum_col).orderBy(
        sample_rank_key(F.col(id_col)), F.col(id_col))
    return (
        df.withColumn("__rank__", F.row_number().over(w))
        .filter(F.col("__rank__") <= quota)
        .drop("__rank__")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named fraction by id
    hash. Weights must sum to ~1. Same id -> same split, always."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    # first 8 md5 hex chars -> uniform [0, 1)
    u = F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"),
                                          F.lit(salt))), 1, 8), 16, 10) \
        .cast("double") / F.lit(float(1 << 32))
    bound = 0.0
    conditions: List[tuple] = []
    for name, w in weights.items():
        bound += w / total
        conditions.append((name, bound))
    expr: Column = F.when(u < F.lit(conditions[0][1]), F.lit(conditions[0][0]))
    for name, b in conditions[1:-1]:
        expr = expr.when(u < F.lit(b), F.lit(name))
    # the last bucket is the catch-all so float rounding at the top boundary
    # can never produce a NULL split
    expr = expr.otherwise(F.lit(conditions[-1][0]))
    return df.withColumn("split", expr)


def sign_bucket(vec_col: Column, nbits: int = 8) -> Column:
    """Axis-aligned sign bucket of an embedding: bit i = (vec[i] > 0).

    The canonical-basis special case of random-hyperplane LSH — nearby
    vectors (cosine) land in nearby buckets, and unlike random planes the
    bucket is a pure function of the vector, reproducible in ANY engine
    (no plane constants to ship)."""
    bucket = F.lit(0).cast("long")
    for i in range(nbits):
        bit = (F.element_at(vec_col, i + 1) > 0).cast("long")
        bucket = bucket + bit * F.lit(1 << i)
    return bucket


def diversity_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    quota: int,
    nbits: int = 8,
) -> DataFrame:
    """Embedding-diversity quota sample: partition the corpus into
    sign-LSH buckets (regions of embedding space) and keep up to ``quota``
    rows per bucket by deterministic hash order — the cluster-balanced
    selection a training-data pipeline uses so one dense region cannot
    dominate the sample. One shuffle (the per-bucket window); the bucket
    expression is a narrow map."""
    bucketed = df.withColumn("__bucket__",
                             sign_bucket(F.col(vec_col), nbits))
    return stratified_sample(bucketed, "__bucket__", quota, id_col) \
        .withColumnRenamed("__bucket__", "bucket")
