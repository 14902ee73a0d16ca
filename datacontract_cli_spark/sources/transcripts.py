"""Deterministic synthetic transcripts table (the driver's input_hint shape).

Schema: conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp — an Iceberg table of multi-turn conversation / agent
transcripts in production; synthesized here at small scale for tests and
benchmarks (BASELINE.json input_hint: no external data).

Spark-native generation: ``spark.range`` + hash-derived column expressions.
No Python RNG, no driver-side loops — the same expression tree produces the
same rows at any scale and any partitioning, so the generator itself is the
scalability story: 10^12 turns is just a bigger ``range``.

``defect_rate`` injects violations deterministically (NULL roles,
out-of-enum roles, orphan conv_ids, duplicate (conv_id, turn_idx) pairs) so
checks have something to catch; ``hot_conv_fraction`` routes a fraction of
all turns into ONE conv_id to reproduce the conv_id skew the north rule
requires handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["search", "calculator", "browser", "python", "sql"]

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
]


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    turns_per_conv: int = 8,
    seed: int = 42,
    defect_rate: float = 0.0,
    hot_conv_fraction: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    n = n_convs * turns_per_conv
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    h = F.xxhash64(F.col("id"), F.lit(seed))
    conv_num = (F.col("id") / turns_per_conv).cast("long")
    if hot_conv_fraction > 0:
        # route a deterministic slice of ALL turns into conv 0 → heavy skew
        hot = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 7)), F.lit(10_000)) < int(
            hot_conv_fraction * 10_000
        )
        conv_num = F.when(hot, F.lit(0)).otherwise(conv_num)

    conv_id = F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 10, "0"))
    turn_idx = F.pmod(F.col("id"), F.lit(turns_per_conv)).cast("int")
    if hot_conv_fraction > 0:
        # keep (conv_id, turn_idx) unique inside the hot conversation — its
        # turns take globally-unique indices (a real hot conversation has
        # many turns, not many copies of turn 0..k)
        turn_idx = F.when(conv_num == 0, F.col("id").cast("int")).otherwise(turn_idx)

    role = (
        F.when(turn_idx == 0, F.lit("system"))
        .when(F.pmod(h, F.lit(10)) < 2, F.lit("tool"))
        .when(F.pmod(turn_idx, F.lit(2)) == 1, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )

    # variable-length text: 3-40 hash-picked words
    n_words = (F.pmod(F.abs(h), F.lit(38)) + 3).cast("int")
    word = F.element_at(
        F.array(*[F.lit(w) for w in _WORDS]),
        (F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit(seed + 1))), F.lit(len(_WORDS))) + 1).cast("int"),
    )
    text = F.concat(
        F.lit("turn "), turn_idx.cast("string"), F.lit(": "),
        F.array_join(F.array_repeat(word, n_words), " "),
    )

    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(*[F.lit(t) for t in TOOLS]),
            (F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit(seed + 2))), F.lit(len(TOOLS))) + 1).cast("int"),
        ),
    ).otherwise(F.lit(None).cast("string"))

    ts = F.timestamp_seconds(
        F.lit(1700000000) + conv_num * 3600 + turn_idx.cast("long") * 30
    )

    out = df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )

    if defect_rate > 0:
        gate = F.pmod(F.abs(F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(seed + 3))),
                      F.lit(1_000_000))
        cut = int(defect_rate * 1_000_000)
        out = out.select(
            # a slice of conv_ids becomes orphans (referential integrity bait)
            F.when(gate < cut // 4, F.concat(F.lit("orphan-"), F.col("conv_id")))
            .otherwise(F.col("conv_id")).alias("conv_id"),
            # a slice of turn_idx collapses to 1 → duplicate (conv_id, turn_idx)
            F.when((gate >= cut // 4) & (gate < cut // 2), F.lit(1).cast("int"))
            .otherwise(F.col("turn_idx")).alias("turn_idx"),
            # a slice of roles goes NULL, another out-of-enum
            F.when((gate >= cut // 2) & (gate < 3 * cut // 4), F.lit(None).cast("string"))
            .when((gate >= 3 * cut // 4) & (gate < cut), F.lit("robot"))
            .otherwise(F.col("role")).alias("role"),
            F.col("text"),
            F.col("tool"),
            F.col("ts"),
        )

    return out
