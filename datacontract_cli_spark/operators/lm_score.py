"""Language-model quality scoring: unigram perplexity against a reference
corpus — the CCNet-style quality-filter signal, fully declarative.

Training-data pipelines rank crawl documents by how "reference-like" their
text is (CCNet scores against a Wikipedia KenLM; Gopher/C4 use related
heuristics) and keep the low-perplexity tail. This module implements the
same shape with a unigram model so the whole computation stays inside
Catalyst (no model binary, no Python on executors):

  fit:    one grouped count over the reference corpus' words, vocabulary
          capped deterministically by (count DESC, word ASC) rank;
  score:  explode candidate words → broadcast-join the (tiny) vocabulary →
          per-document aggregate of add-one-smoothed log-probabilities.

Scores are exactly reproducible in any engine (pure counts + ln), which a
real KenLM is not — the trade is model quality for auditability; swap in
a real LM via mapInPandas when ranking fidelity matters more than
oracle-exactness.

Scale: the model is a ≤vocab_size-row table (broadcasts); scoring shuffles
(id, word) pairs only for the per-doc aggregate — word payloads never
carry document text. The fit is one two-phase hash aggregate over the
reference corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _words(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")


def fit_unigram_lm(corpus: DataFrame, text_col: str = "text",
                   vocab_size: int = 50_000,
                   min_count: int = 1) -> DataFrame:
    """(word, count) over the reference corpus, top ``vocab_size`` words by
    (count DESC, word ASC) — the tie-break makes the vocabulary cut
    deterministic across engines and partitionings.

    Because ``w`` is unique after the groupBy, (count DESC, word ASC) is a
    TOTAL order, so ``orderBy(...).limit(V)`` returns the identical
    vocabulary to a row_number window — but plans TakeOrderedAndProject:
    each partition keeps a V-element heap and the driver merges heaps, so
    a billion-word crawl vocabulary never funnels into one partition (the
    single-partition WindowExec this replaces would)."""
    counts = (corpus.select(F.explode(_words(F.col(text_col))).alias("w"))
                    .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
                    .filter(F.col("c") >= min_count))
    return counts.orderBy(F.desc("c"), F.asc("w")).limit(vocab_size)


def score_documents(docs: DataFrame, lm: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document (n_tokens, avg_neg_logprob, perplexity) under the
    add-one-smoothed unigram model: p(w) = (c(w)+1) / (N+V+1), OOV words
    get c=0 — one smoothing bucket for everything outside the vocabulary.

    Lower perplexity = more reference-like. The model is local-checkpointed
    first (its plan embeds the reference-corpus aggregate + the vocabulary
    sort — without that, the N/V normalizer AND the broadcast join would
    each recompute the full fit). A checkpoint, not ``persist()``: it
    puts nothing in the session's cache, and its blocks belong to the
    returned plan, so they are released with it. N and V collect as two
    scalars and inline as literals; only (id, word) pairs shuffle."""
    lm = lm.localCheckpoint(eager=True)
    row = lm.agg(F.sum("c").alias("N"), F.count(F.lit(1)).alias("V")) \
        .collect()[0]
    n_total, v_size = int(row["N"] or 0), int(row["V"])
    tokens = docs.select(F.col(id_col),
                         F.explode(_words(F.col(text_col))).alias("w"))
    joined = tokens.join(F.broadcast(lm), "w", "left")
    logp = F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
                 / F.lit(float(n_total + v_size + 1)))
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (-F.sum(logp) / F.count(F.lit(1))).alias("avg_neg_logprob"))
            .withColumn("perplexity", F.exp(F.col("avg_neg_logprob"))))


def quality_filter(docs: DataFrame, lm: DataFrame, max_perplexity: float,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Documents whose perplexity under the reference model is at most
    ``max_perplexity`` (the keep-the-reference-like-tail filter)."""
    scores = score_documents(docs, lm, id_col, text_col)
    return (docs.join(scores.filter(F.col("perplexity") <= max_perplexity)
                      .select(id_col), id_col, "left_semi"))
