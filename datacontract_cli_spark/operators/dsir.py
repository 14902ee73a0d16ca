"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

Scores every raw document by how target-like it is under two hashed
bag-of-words unigram models: weight(x) = Σ_w log p_target(bucket(w)) −
log p_raw(bucket(w)). Documents with high weight look like the target
distribution (e.g. curated English) and are preferred when subsampling a
web crawl to a training budget. The paper resamples with Gumbel noise;
this operator exposes the deterministic importance RANKING (top-k by
weight) — callers who want the stochastic variant add Gumbel(0,1) to the
log-weight and re-rank, which composes from `F.rand` in one line but is
not oracle-checkable.

Spark-first shape (no all-pairs, no driver loops):

  explode(words) ONCE, with a target flag        — narrow
  groupBy(doc_id, bucket): occurrence counts     — the only wide shuffle;
                                                   map-side combine caps
                                                   rows at docs × buckets
    ├─ groupBy(bucket): raw + target counts      — tiny (≤ n_buckets),
    │                                              consumes the SAME
    │                                              exchange (ReusedExchange
    │                                              when executed together)
    │  → log-ratio table, broadcast              — n_buckets rows, KBs
    └─ ⋈ broadcast ratio → groupBy(doc_id)       — Σ cnt·ratio per doc
  orderBy(weight desc).limit(k)                  — TakeOrderedAndProject

The hash family is the md5 bucket (`('0x'||substr(md5(w),1,6)) % B`) so
a DuckDB oracle reproduces bucket ids bit-for-bit. Two lanes compute the
per-(doc, bucket) counts: ``kernel="arrow"`` (the default) counts each
document narrowly in an Arrow kernel; ``kernel="expr"`` is the
explode+groupBy Column reference, bit-identical by construction.

At 100 TB: both model fits and the scoring pass are single-scan; the
only wide shuffle keyed by doc_id carries one double per row. The
n_buckets-row model broadcast is KBs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _words(col: Column) -> Column:
    """Whitespace tokens of the lowercased, trimmed text (same
    normalization as the tf-idf and minhash lanes)."""
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def _bucket(col: Column, n_buckets: int) -> Column:
    return (F.conv(F.substring(F.md5(col), 1, 6), 16, 10)
            .cast("long") % n_buckets)


def _dsir_feats_arrow(docs: DataFrame, target_cond: Column, id_col: str,
                      text_col: str, n_buckets: int) -> DataFrame:
    """Per-(doc, bucket) md5 token counts computed NARROWLY in an Arrow
    kernel: each document is one input row, so its complete bucket counts
    are known inside the batch — no token explode, no wide (id, bucket)
    aggregation at all. Tokenization is bit-compatible with ``_words``
    (lower → ASCII \\s+ collapse → trim spaces → split on ' ' → drop
    empties) and the bucket is the identical md5 prefix; counts are
    integers, so the output equals the explode+groupBy lane exactly. A
    per-task word→bucket memo caps md5 work at distinct-words-per-task
    (bounded at 1M entries — overflow words hash directly)."""
    import hashlib
    import re

    import pandas as pd

    id_type = dict(docs.dtypes)[id_col]
    splitter = re.compile(r"\s+", re.ASCII)

    def _feats(batches):
        memo: dict = {}

        def bucket_of(w: str) -> int:
            b = memo.get(w)
            if b is None:
                b = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:6], 16) \
                    % n_buckets
                if len(memo) < 1_000_000:
                    memo[w] = b
            return b

        for pdf in batches:
            ids, tgts, bs, cnts = [], [], [], []
            for doc_id, tgt, text in zip(pdf["id"], pdf["is_target"],
                                         pdf[text_col]):
                if text is None:
                    continue
                counts: dict = {}
                for w in splitter.sub(" ", text.lower()).strip(" ") \
                        .split(" "):
                    if w:
                        counts[w] = counts.get(w, 0) + 1
                per_bucket: dict = {}
                for w, c in counts.items():
                    b = bucket_of(w)
                    per_bucket[b] = per_bucket.get(b, 0) + c
                for b, c in per_bucket.items():
                    ids.append(doc_id)
                    tgts.append(tgt)
                    bs.append(b)
                    cnts.append(c)
            if ids:
                yield pd.DataFrame({"id": ids, "is_target": tgts,
                                    "b": bs, "cnt": cnts})

    return docs.select(
        F.col(id_col).alias("id"),
        target_cond.cast("int").alias("is_target"),
        F.col(text_col),
    ).mapInPandas(_feats,
                  f"id {id_type}, is_target int, b long, cnt long")


def dsir_importance(docs: DataFrame, target_cond: Column,
                    id_col: str = "doc_id", text_col: str = "text",
                    n_buckets: int = 4096, smoothing: float = 0.5,
                    top_k: int = 20,
                    kernel: str = "arrow") -> DataFrame:
    """Top-k most target-like documents by DSIR log importance weight.

    ``target_cond`` marks the rows that define the target distribution
    (they are still scored — the weight says how target-like a document
    is, not which set it came from). Returns (id, n_words, log_weight)
    ordered by log_weight desc, id asc. ``kernel="arrow"`` (default)
    computes the feature table narrowly in an Arrow kernel — no token
    explode, no wide (id, bucket) shuffle; ``kernel="expr"`` is the
    explode+groupBy reference with the same integer counts.
    """
    if kernel not in ("arrow", "expr"):
        raise ValueError(f"unknown dsir kernel {kernel!r}; "
                         "expected 'arrow' or 'expr'")
    if kernel == "arrow":
        feats = _dsir_feats_arrow(docs, target_cond, id_col, text_col,
                                  n_buckets)
    else:
        toks = docs.select(
            F.col(id_col).alias("id"),
            target_cond.cast("int").alias("is_target"),
            F.explode(_words(F.col(text_col))).alias("w"),
        ).filter(F.col("w") != "")
        # per-(doc, bucket) occurrence counts: the explode happens ONCE —
        # both the model fit and the scoring pass consume this frame
        feats = (toks.select(
                     "id", "is_target",
                     _bucket(F.col("w"), n_buckets).alias("b"))
                 .groupBy("id", "is_target", "b")
                 .agg(F.count(F.lit(1)).alias("cnt")))
    # scoped persist: the model fit AND the scoring pass both consume
    # feats, and Catalyst does NOT reuse the exchange between the two
    # branches (verified in the physical plan: two full scan → explode →
    # hash → aggregate subtrees). Caching the aggregated features halves
    # the heavy work; rows are (id, int, int, long) — the already-reduced
    # per-(doc, bucket) table, which is what the shuffle carried anyway
    # (MEMORY_AND_DISK, so oversized feats spill instead of OOM).
    feats = feats.persist()

    counts = feats.groupBy("b").agg(
        F.sum("cnt").alias("raw_n"),
        F.sum(F.col("cnt") * F.col("is_target")).alias("tgt_n"),
    )
    totals = counts.agg(F.sum("raw_n").alias("raw_total"),
                        F.sum("tgt_n").alias("tgt_total"))
    a = F.lit(float(smoothing))
    bsz = F.lit(float(n_buckets) * smoothing)
    ratio = (counts.crossJoin(F.broadcast(totals))
             .select("b",
                     (F.log((F.col("tgt_n") + a) / (F.col("tgt_total") + bsz))
                      - F.log((F.col("raw_n") + a) / (F.col("raw_total") + bsz))
                      ).alias("log_ratio")))

    scored = (feats.join(F.broadcast(ratio), "b")
              .groupBy("id")
              .agg(F.sum("cnt").alias("n_words"),
                   F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 4)
                   .alias("log_weight")))
    out = (scored.orderBy(F.desc("log_weight"), F.asc("id"))
           .limit(top_k)
           .select(F.col("id").alias(id_col), "n_words", "log_weight"))
    # materialize the top-k rows, then release the feature cache (same
    # scoped-persist discipline as the LSH signature tables)
    out = out.persist()
    out.count()
    feats.unpersist()
    return out
