"""Corpus-level line deduplication (the C4 / CCNet "remove repeated
lines" stage).

Web crawls repeat boilerplate lines (navigation, cookie banners, license
headers) across millions of pages; the C4 cleanup (Raffel et al. 2020)
and CCNet (Wenzek et al. 2020) drop every occurrence of a duplicated
line/paragraph except the first. Neither the reference CLI nor Spark has
this as a built-in; it composes from DataFrame ops:

  explode:   split each doc on ``sep`` → (id, pos, line), narrow
  firsts:    groupBy(line) → min(struct(id, pos)) — the corpus-wide
             first occurrence. Map-side partial min keeps a
             billion-occurrence boilerplate line from concentrating on
             one reducer (the aggregate is a single struct per key).
  keep:      join exploded lines to firsts on the line key; an
             occurrence survives iff it IS the first occurrence. Both
             sides hash-partition on the same key, so Catalyst reuses
             the explode exchange; residual hot keys are AQE skew-join
             splittable (a window/row_number formulation would instead
             pin each hot line's every occurrence in ONE partition).
  rebuild:   groupBy(id) → array_sort by pos → concat_ws(sep).

Lines shorter than ``min_len`` characters bypass dedup entirely (always
kept): empty lines and "----" separators are the worst skew keys and
dropping them corpus-wide would mangle documents — same pass-through
C4 applies to short lines.

At 100 TB set ``hash_lines=True``: the join key becomes an 8-byte
xxhash64 instead of the line text, shrinking both shuffles; the gate
query keeps raw text keys so the DuckDB oracle reproduces the exact join
(same policy as the LSH kernels and contamination grams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.operators._hof import bind


def _literal_regex(sep: str) -> str:
    """Java-regex that matches ``sep`` literally (Pattern.quote): F.split
    takes a REGEX, but every other use of sep in this module (concat_ws
    rebuild, the caller's mental model) is literal — an unescaped
    sep="." would split on every character and corrupt documents."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def explode_lines(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", sep: str = "\n") -> DataFrame:
    """(id, pos, line) — one row per line, pos is 0-based within doc.
    ``sep`` is a LITERAL separator, not a regex."""
    parts = F.split(F.col(text_col), F.lit(_literal_regex(sep)), -1)
    return df.select(F.col(id_col).alias("id"),
                     F.posexplode(parts).alias("pos", "line"))


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n",
               min_len: int = 1, hash_lines: bool = False,
               rebuild: bool = True) -> DataFrame:
    """Drop every occurrence of a corpus-duplicated line except the first
    (first = smallest (id, pos)). Returns one row per document:
    (id_col, n_lines, n_kept, n_dropped[, text_clean]).

    Documents whose every line is dropped rebuild to ``text_clean = ''``.
    """
    lines = explode_lines(df, id_col, text_col, sep)
    key = F.xxhash64("line") if hash_lines else F.col("line")
    eligible = lines.filter(F.length("line") >= min_len) \
                    .withColumn("__k__", key)
    firsts = eligible.groupBy("__k__").agg(
        F.min(F.struct("id", "pos")).alias("first"))
    kept_eligible = (
        eligible.join(firsts, "__k__")
        .filter((F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos")))
        .select("id", "pos", "line"))
    kept = kept_eligible.unionByName(
        lines.filter(F.length("line") < min_len))

    # n_lines needs no explode/shuffle: it's the split-array size per row
    counts = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), F.lit(_literal_regex(sep)), -1))
        .cast("bigint").alias("n_lines"))
    agg = [F.count(F.lit(1)).alias("n_kept")]
    if rebuild:
        agg.append(F.concat_ws(sep, F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "line"))),
            lambda s: s["line"])).alias("text_clean"))
    per_doc = kept.groupBy("id").agg(*agg)
    out = (counts.join(per_doc, "id", "left")
           .withColumn("n_kept", F.coalesce("n_kept", F.lit(0)))
           .withColumn("n_dropped", F.col("n_lines") - F.col("n_kept")))
    if rebuild:
        out = out.withColumn("text_clean", F.coalesce("text_clean", F.lit("")))
    cols = ["n_lines", "n_kept", "n_dropped"] + (
        ["text_clean"] if rebuild else [])
    return out.select(F.col("id").alias(id_col), *cols)


def collapse_repeated_lines(df: DataFrame, text_col: str = "text",
                            sep: str = "\n") -> DataFrame:
    """``text_col`` with CONSECUTIVE duplicate lines collapsed to one —
    the classic crawl-artifact cleaner (navigation chrome, repeated
    headers/footers, cursor spam in agent logs). Pure Column math: one
    split, an indexed higher-order filter against the previous element
    of the bound line array (F.get is 0-based and null-safe out of
    bounds, so no ANSI index traps), one array_join — zero shuffle.

    Cross-document repeats are :func:`line_dedup`'s job (keep-first
    corpus-wide); this one is within-document and order-preserving."""
    # bound once: the split is not redone per line (see
    # operators/_hof.py bind)
    collapsed = bind(
        F.split(F.col(text_col), _literal_regex(sep)),
        lambda arr: F.filter(arr, lambda x, i: (i == F.lit(0))
                             | ~x.eqNullSafe(F.get(arr, i - 1))))
    return df.withColumn(text_col, F.array_join(collapsed, sep))
