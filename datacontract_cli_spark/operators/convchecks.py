"""Per-conversation transcript checks with explicit skew handling.

The north rule's input is conversations with a heavy-tailed turn count — a
single hot conv_id can dominate a shuffle partition. Per-conversation
aggregates (turn count, turn_idx density, timestamp range) use the
salted two-phase pattern: partial aggregation per (conv_id, salt) spreads a
hot conversation over ``salt_buckets`` reducers, the final per-conv merge
touches only salt_buckets rows per conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SALT = "__dc_salt__"


def conversation_stats(df: DataFrame, conv_col: str = "conv_id",
                       turn_col: str = "turn_idx",
                       ts_col: str | None = "ts",
                       salt_buckets: int = 16) -> DataFrame:
    """Per-conversation (n_turns, min/max turn_idx[, min/max ts]) via salted
    two-phase aggregation. Output: one row per conv_id. ``ts_col=None``
    skips the timestamp columns (index-only transcripts)."""
    salted = df.withColumn(
        _SALT, F.pmod(F.xxhash64(F.col(turn_col).cast("long")), F.lit(salt_buckets))
    )
    partial_ts = ([F.min(ts_col).alias("ts_mn"), F.max(ts_col).alias("ts_mx")]
                  if ts_col else [])
    partial = salted.groupBy(conv_col, _SALT).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(turn_col).alias("mn"),
        F.max(turn_col).alias("mx"),
        *partial_ts,
    )
    final_ts = ([F.min("ts_mn").alias("min_ts"), F.max("ts_mx").alias("max_ts")]
                if ts_col else [])
    return partial.groupBy(conv_col).agg(
        F.sum("n").alias("n_turns"),
        F.min("mn").alias("min_turn"),
        F.max("mx").alias("max_turn"),
        *final_ts,
    )


def turn_density_violations(df: DataFrame, conv_col: str = "conv_id",
                            turn_col: str = "turn_idx",
                            salt_buckets: int = 16) -> DataFrame:
    """Conversations whose turn_idx is not dense 0..n-1 (gaps, offsets, or
    duplicate turn indices). Exactness: dense 0..n-1 with no duplicates
    ⟺ min=0 AND max=n_distinct-1 AND no (conv,turn) duplicates; the
    duplicate probe is the fine-grained groupBy (naturally skew-free)."""
    stats = conversation_stats(df, conv_col, turn_col, ts_col=None,
                               salt_buckets=salt_buckets)
    dup_turns = (
        df.groupBy(conv_col, turn_col).count().filter(F.col("count") > 1)
        .groupBy(conv_col).agg(F.count(F.lit(1)).alias("dup_turn_groups"))
    )
    joined = stats.join(dup_turns, conv_col, "left").fillna({"dup_turn_groups": 0})
    return joined.filter(
        (F.col("min_turn") != 0)
        | (F.col("max_turn") != F.col("n_turns") - 1)
        | (F.col("dup_turn_groups") > 0)
    ).select(conv_col, "n_turns", "min_turn", "max_turn", "dup_turn_groups")


def predecessor_violations(df: DataFrame, key_col: str, order_cols: list,
                           state_col: str,
                           rules: dict) -> DataFrame:
    """Sequence-pattern validation: per state value, how many occurrences
    have a DISALLOWED predecessor within their key group — the
    funnel/chat-format invariant ("a purchase must follow a click/view",
    "a tool turn must follow an assistant turn").

    ``rules``: {state: {"allowed": [states...], "allow_first": bool}} —
    an occurrence passes iff its lag-1 predecessor (ordered by
    ``order_cols`` within ``key_col``) is in ``allowed``, or it is the
    group's first row and ``allow_first``. States without a rule are
    unconstrained.

    One window pass + one aggregate; returns a single row with one
    ``{state}_violations`` count per rule. Order by a UNIQUE tuple (e.g.
    ts + id) for determinism under ties. Skew: a hot key concentrates its
    window in one task."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    prev = F.lag(F.col(state_col)).over(w)
    staged = df.select(F.col(state_col).alias("__s__"), prev.alias("__p__"))
    aggs = []
    for state, rule in rules.items():
        ok = F.col("__p__").isin(list(rule.get("allowed", [])))
        if rule.get("allow_first", False):
            ok = ok | F.col("__p__").isNull()
        bad = (F.col("__s__") == state) & ~F.coalesce(ok, F.lit(False))
        aggs.append(F.sum(bad.cast("long")).alias(f"{state}_violations"))
    return staged.agg(*aggs)


def transitions(df: DataFrame, conv_col: str = "conv_id",
                order_cols: list | tuple = ("turn_idx",),
                col: str = "role", sep: str = "->") -> DataFrame:
    """Adjacent-turn transition labels: one row per consecutive turn pair
    per conversation, column ``transition`` = "prev{sep}next" under stable
    (conv, order) turn ordering. NULL values render as '' (concat_ws).

    One lag window PARTITIONED by conversation — never global, so the
    sort is per-conversation and a trillion-turn table spreads across
    reducers; a single conversation's turns do land on one partition,
    which is the window's correctness requirement (turn counts are
    bounded by context length, unlike corpus-wide line/gram keys)."""
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    return (df.withColumn("__prev__", F.lag(F.col(col)).over(w))
            .filter(F.col("__prev__").isNotNull())
            .select(F.concat_ws(sep, "__prev__", F.col(col))
                    .alias("transition")))


def transition_drift(df: DataFrame, baseline: dict,
                     conv_col: str = "conv_id",
                     order_cols: list | tuple = ("turn_idx",),
                     col: str = "role", metric: str = "psi",
                     digits: int = 6) -> DataFrame:
    """Distribution drift of CONVERSATION FLOW: PSI (or JSD) of the
    adjacent-turn transition bigram frequencies (e.g. user->assistant,
    assistant->tool) against a baseline dict {"a->b": fraction}.

    Per-category role frequencies miss ordering regressions — a corpus
    where assistants answer before users asks has the same unigram role
    mix as a healthy one; the transition distribution catches it. This is
    the north rule's role-frequency drift check lifted to first-order
    sequence structure. One window + the declarative one-row drift plan
    (grouped count → tiny baseline join → single-row sum), no collect."""
    from datacontract_cli_spark.operators.drift import jsd_df, psi_df

    t = transitions(df, conv_col, order_cols, col)
    fn = {"psi": psi_df, "jsd": jsd_df}[metric]
    return fn(t, "transition", baseline, digits=digits)


def run_lengths(df: DataFrame, key_col: str = "conv_id",
                order_cols: list | tuple = ("turn_idx",),
                action_cols: list | tuple = ("role", "tool")) -> DataFrame:
    """Gaps-and-islands: one row per MAXIMAL run of consecutive turns with
    identical ``action_cols`` values within each key group under the
    stable order. Output: (key, action_cols..., run_len).

    Equality is null-safe (NULL continues a NULL run — ``IS NOT DISTINCT
    FROM`` semantics, matching ANSI/DuckDB ``IS DISTINCT FROM`` oracles).

    Plan shape: ONE window pass PARTITIONED by the key (lag + running sum
    share the same window frame, so one sort), then a groupBy whose
    map-side partial aggregation collapses each run to a single row before
    the exchange — rows-over-the-wire is O(runs), not O(turns). At
    10^12 turns the window sort is per-conversation (bounded by context
    length); no global ordering anywhere."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    same = None
    for c in action_cols:
        eq = F.lag(F.col(c)).over(w).eqNullSafe(F.col(c))
        same = eq if same is None else (same & eq)
    chg = (~same).cast("long")
    run = F.sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = df.select(key_col, *action_cols, run.alias("__run__"))
    return (staged.groupBy(key_col, "__run__", *action_cols)
            .agg(F.count(F.lit(1)).alias("run_len"))
            .drop("__run__"))


def loop_report(df: DataFrame, key_col: str = "conv_id",
                order_cols: list | tuple = ("turn_idx",),
                action_cols: list | tuple = ("role", "tool"),
                min_run: int = 3) -> DataFrame:
    """Degenerate-agent-loop detector: a single summary row
    (loop_runs, loop_convs, max_run_len) counting maximal runs of
    ``min_run``+ consecutive identical actions — the retry-storm /
    stuck-tool-loop signature in agent transcripts. Built on
    :func:`run_lengths`; the final aggregate folds O(runs) rows."""
    runs = run_lengths(df, key_col, order_cols, action_cols)
    loops = runs.filter(F.col("run_len") >= min_run)
    return loops.agg(
        F.count(F.lit(1)).alias("loop_runs"),
        F.countDistinct(key_col).alias("loop_convs"),
        F.coalesce(F.max("run_len"), F.lit(0)).alias("max_run_len"),
    )


def followup_rates(df: DataFrame, target: str,
                   key_col: str = "conv_id",
                   order_cols: list | tuple = ("turn_idx",),
                   col: str = "tool", digits: int = 6) -> DataFrame:
    """Per-action follow-up diagnostics: for each value of ``col``, how
    often is the NEXT turn in the same conversation ``target``? The
    tool-call -> error-rate table for agent transcripts ("which tool's
    invocations are followed by an error turn, how often").

    Output: one row per action value (col, n, n_followed, followup_rate),
    rate rounded to ``digits``. Rows whose action is NULL are excluded
    (no action to attribute). One key-partitioned lead window + one
    map-side-combining groupBy — shuffle is O(distinct actions)."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    nxt = F.lead(F.col(col)).over(w)
    staged = (df.select(F.col(col).alias("__a__"), nxt.alias("__n__"))
              .filter(F.col("__a__").isNotNull()))
    return (staged.groupBy(F.col("__a__").alias(col))
            .agg(F.count(F.lit(1)).alias("n"),
                 # CASE-style 1/0 (not a nullable cast): a group whose
                 # successors are all NULL counts 0, not NULL
                 F.sum(F.when(F.col("__n__") == target, F.lit(1))
                        .otherwise(F.lit(0)).cast("long"))
                  .alias("n_followed"))
            .withColumn("followup_rate",
                        F.round(F.col("n_followed") / F.col("n"), digits)))
