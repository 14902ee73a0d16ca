"""PII detection / scrubbing over text columns — pure Column expressions.

Beyond-reference operators for the training-data pipeline lane (the
reference's PII story stops at classification tags on contract fields —
`classification: pii` — which the engine already honors by dropping PII
columns from violation samples). These operators act on the DATA: detect
and mask the concrete PII shapes a crawl corpus carries before it reaches
a training set.

Everything is `regexp_extract_all` / `regexp_replace` Column math — zero
Python on executors, whole-stage-codegen'd, and the patterns stay within
the regex subset Java and RE2 share (no backrefs/lookaheads) so the same
pattern drives the Spark engine and the DuckDB oracle bit-for-bit.

At 100 TB: these are embarrassingly parallel narrow maps (no shuffle at
all); scrubbing fuses into whatever scan already reads the text column.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared Java/RE2 subset; word boundaries are supported by both.
PATTERNS: Dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-ish grouped digits (covers TPC-H's NN-NNN-NNN-NNNN)
    "phone": r"\b\d{2,3}[-. ]\d{3}[-. ]\d{3,4}(?:[-. ]\d{4})?\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "credit_card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
}

DEFAULT_MASK = "[PII]"


def match_count(col: Column, category: str) -> Column:
    """Number of matches of one PII category in the value (0 for null)."""
    return F.coalesce(
        F.size(F.regexp_extract_all(col, F.lit(PATTERNS[category]), F.lit(0))),
        F.lit(0))


def scrub(col: Column, categories: Optional[Sequence[str]] = None,
          mask: str = DEFAULT_MASK) -> Column:
    """Replace every match of the given categories with ``mask`` (chained
    global regexp_replace — order follows the ``categories`` sequence, so
    e.g. credit_card before phone avoids partial phone-masking of cards)."""
    out = col
    for c in (categories or list(PATTERNS)):
        out = F.regexp_replace(out, PATTERNS[c], mask)
    return out


def pii_summary(df: DataFrame, columns: Sequence[str],
                categories: Optional[Sequence[str]] = None) -> DataFrame:
    """One row per (column, category): values containing the category and
    total matches — a single narrow aggregate pass per column branch, same
    UNION-of-aggregates shape as profile_df (each branch prunes to its one
    column)."""
    cats = list(categories or PATTERNS)

    def _branch(colname: str) -> DataFrame:
        qc = F.col(f"`{colname}`")
        aggs = []
        for c in cats:
            aggs.append(F.sum(F.when(qc.rlike(PATTERNS[c]), 1).otherwise(0))
                        .alias(f"__v_{c}"))
            aggs.append(F.sum(match_count(qc, c)).alias(f"__m_{c}"))
        row = df.agg(*aggs)
        pairs = [
            F.struct(F.lit(c).alias("category"),
                     F.col(f"__v_{c}").alias("values_with_match"),
                     F.col(f"__m_{c}").alias("match_count"))
            for c in cats
        ]
        return (row.select(F.explode(F.array(*pairs)).alias("s"))
                   .select(F.lit(colname).alias("column"), "s.*"))

    out = _branch(columns[0])
    for colname in columns[1:]:
        out = out.unionAll(_branch(colname))
    return out
