"""Hashed linear text classifier scoring — the fastText-style quality
gate, evaluated as pure Column math.

Production pipelines score every crawl document with a small linear
classifier over hashed bag-of-words features (fastText architecture:
token → hash bucket → weight lookup → mean → sigmoid) and keep documents
above a threshold (e.g. "looks like a reference page"). The model here is
a deterministic weight function over md5 buckets rather than a trained
binary, which keeps every score bit-reproducible in any engine (the same
gate-vs-production split as the LSH kernels: swap in trained weights via
``weights=`` — a bucket→weight array — without touching the plan shape).

Scale shape — this is the cheapest operator in the repo BY CONSTRUCTION:
zero shuffles, zero joins, zero Python. Each document's score folds over
its own token array inside whole-stage codegen:

  score(d) = sigmoid( mean_{t ∈ d} w[bucket(t)] + bias )
  bucket(t) = int(md5(t)[:6], 16) mod D
  w[b]      = ((b·2654435761 + 12345) mod 2²⁰) / 2²⁰ − ½   (seeded affine;
              integer products ≤ 2⁴⁴, exact in BIGINT everywhere)

One scan, per-row arithmetic, nothing wide — at 100 TB this runs at the
speed the parquet reader can feed executors.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _words(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")


def _bucket(word: Column, n_buckets: int) -> Column:
    return F.conv(F.substring(F.md5(word), 1, 6), 16, 10).cast("long") % n_buckets


def _seeded_weight(bucket: Column, seed: int) -> Column:
    # affine hash of the bucket id into [-0.5, 0.5): exact integer math
    # (products stay far under 2^63) so DuckDB reproduces it bit-for-bit
    return ((bucket * F.lit(2654435761) + F.lit(12345 + seed)) % F.lit(1 << 20)
            ).cast("double") / F.lit(float(1 << 20)) - F.lit(0.5)


def classifier_score(text: Column, n_buckets: int = 4096, seed: int = 0,
                     bias: float = 0.0,
                     weights: Optional[Sequence[float]] = None) -> Column:
    """The sigmoid score of one text column. With ``weights`` (a trained
    bucket→weight vector, len == n_buckets) the lookup is
    ``element_at(lit_array, bucket+1)``; without, the seeded affine
    weight function — same plan, different leaf."""
    ws = _words(text)
    if weights is not None:
        if len(weights) != n_buckets:
            raise ValueError("weights length must equal n_buckets")
        wtab = F.array(*[F.lit(float(v)) for v in weights])
        per_tok = F.transform(ws, lambda w: F.element_at(
            wtab, (_bucket(w, n_buckets) + 1).cast("int")))
    else:
        per_tok = F.transform(ws, lambda w: _seeded_weight(
            _bucket(w, n_buckets), seed))
    mean = F.when(
        F.size(ws) > 0,
        F.aggregate(per_tok, F.lit(0.0), lambda acc, v: acc + v) / F.size(ws),
    ).otherwise(F.lit(0.0))
    z = mean + F.lit(float(bias))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_scores(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n_buckets: int = 4096,
                   seed: int = 0, bias: float = 0.0,
                   weights: Optional[Sequence[float]] = None,
                   round_to: int = 6,
                   kernel: str = "expr") -> DataFrame:
    """(id, n_tokens, quality_score) for every document — one narrow pass.

    ``kernel="arrow"`` scores batches in a Python worker with a per-task
    word→weight memo instead of the interpreted per-token md5 HOF fold —
    still zero-shuffle (mapInPandas is narrow), and bit-identical by
    construction: same ASCII ``\\s+`` split, same md5 bucket per distinct
    word, the same sequential IEEE-double accumulation order as the HOF
    fold, and Java's BigDecimal HALF_UP rounding replicated via
    ``decimal`` over the shortest repr (Python and Java agree on shortest
    round-trip decimal representations). The memo makes the cost scale
    with DISTINCT words per task, not token count — the md5 work drops by
    the corpus' token repetition factor. ``kernel="expr"`` (default) is
    the Column lane :func:`quality_gate` runs; any other value raises
    ``ValueError``."""
    if kernel not in ("expr", "arrow"):
        raise ValueError(f"unknown classifier kernel {kernel!r}; "
                         "expected 'expr' or 'arrow'")
    if kernel == "arrow":
        return _quality_scores_arrow(docs, id_col, text_col, n_buckets,
                                     seed, bias, weights, round_to)
    ws = _words(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(ws).alias("n_tokens"),
        F.round(classifier_score(F.col(text_col), n_buckets, seed, bias,
                                 weights), round_to).alias("quality_score"),
    )


def _quality_scores_arrow(docs: DataFrame, id_col: str, text_col: str,
                          n_buckets: int, seed: int, bias: float,
                          weights: Optional[Sequence[float]],
                          round_to: int) -> DataFrame:
    import hashlib
    import math
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    id_type = dict(docs.dtypes)[id_col]
    wtab = list(map(float, weights)) if weights is not None else None
    quant = Decimal(1).scaleb(-round_to)

    def _weight_of(word: str) -> float:
        b = int(hashlib.md5(word.encode("utf-8")).hexdigest()[:6], 16) \
            % n_buckets
        if wtab is not None:
            return wtab[b]
        v = b * 2654435761 + 12345 + seed
        # Spark's % takes the sign of the dividend (truncated division),
        # Python's the divisor's: they differ when v < 0 (a negative seed)
        r = v % (1 << 20)
        if v < 0 and r:
            r -= 1 << 20
        return r / float(1 << 20) - 0.5

    # Java \s is ASCII-only [ \t\n\x0B\f\r]; Python's re.ASCII \s is the
    # identical set, so the token streams match byte-for-byte
    splitter = re.compile(r"\s+", re.ASCII)

    def _score(batches):
        memo: dict = {}
        for pdf in batches:
            n_toks, scores = [], []
            for text in pdf[text_col]:
                if text is None:
                    n_toks.append(None)
                    z = bias
                else:
                    toks = [w for w in splitter.split(text.lower()) if w]
                    n_toks.append(len(toks))
                    acc = 0.0
                    for w in toks:
                        wt = memo.get(w)
                        if wt is None:
                            wt = _weight_of(w)
                            memo[w] = wt
                        acc += wt  # same sequential fold order as the HOF
                    z = (acc / len(toks) if toks else 0.0) + bias
                s = 1.0 / (1.0 + math.exp(-z))
                scores.append(float(
                    Decimal(repr(s)).quantize(quant, ROUND_HALF_UP)))
            yield pd.DataFrame({
                "id": pdf[id_col], "n_tokens": pd.array(n_toks, "Int32"),
                "quality_score": scores,
            })

    out = docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _score, f"id {id_type}, n_tokens int, quality_score double")
    return out.select(F.col("id").alias(id_col), "n_tokens", "quality_score")


def quality_gate(docs: DataFrame, threshold: float, id_col: str = "doc_id",
                 text_col: str = "text", n_buckets: int = 4096,
                 seed: int = 0, bias: float = 0.0,
                 weights: Optional[Sequence[float]] = None) -> DataFrame:
    """Documents whose classifier score clears ``threshold`` — the filter
    form (all original columns kept, still zero-shuffle)."""
    return docs.filter(
        classifier_score(F.col(text_col), n_buckets, seed, bias, weights)
        >= F.lit(float(threshold)))
