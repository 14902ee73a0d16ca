"""Benchmark contamination check: which corpus documents share word
n-grams with a benchmark/eval set.

The standard decontamination step of a training-data pipeline (the
GPT-3/PaLM n-gram-overlap method): any training document that contains an
n-gram occurring in the evaluation benchmark is flagged (and usually
dropped). Neither the reference nor Spark has this as a built-in; it
composes from DataFrame ops:

  corpus side:    split → distinct n-grams per doc → explode
                  (shuffle carries (doc_id, gram) pairs only)
  benchmark side: same, then distinct — tiny vs the corpus, so it
                  broadcasts; the flagging is a broadcast LEFT SEMI join,
                  no corpus-side shuffle at all when the benchmark fits
                  in memory (the common case: eval sets are MBs, corpora
                  are TBs).

Join keys: ``hash_grams=True`` (the default) compresses each gram window
to an 8-byte xxhash64 key; ``hash_grams=False`` keeps the raw gram
strings, the reference lane a DuckDB oracle reproduces exactly (hash
families differ across engines)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.operators._hof import bind


def word_ngrams(col: Column, n: int) -> Column:
    """Array of space-joined word n-grams of the lowercased text (empty
    array when the text has fewer than n words). The word array is bound
    once (:func:`~datacontract_cli_spark.operators._hof.bind`), so the
    split/normalize runs once, not per element."""
    words = F.split(F.lower(col), r"\s+")
    return bind(words, lambda w: F.when(
        # guard: Spark's sequence(1, stop) DESCENDS when stop < 1 (it would
        # emit [1, 0] for a too-short text), so short texts take the
        # empty-array branch explicitly
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "))
    ).otherwise(F.array().cast("array<string>")))


def word_ngram_hashes(col: Column, n: int) -> Column:
    """Array of xxhash64 keys of the word n-gram WINDOWS — the hash-lane
    twin of :func:`word_ngrams` that never materializes the gram strings:
    ``xxhash64(w_i, …, w_{i+n-1})`` hashes the window's words directly
    (the hash streams its arguments, so no per-gram join/alloc). ~40%
    cheaper than build-string-then-hash at sf1.0. Keys are internally
    consistent within a query as long as BOTH sides use this function;
    they intentionally differ from ``xxhash64(word_ngrams(...))`` — the
    hash lane's 64-bit keys were never externally reproducible anyway."""
    words = F.split(F.lower(col), r"\s+")
    return bind(words, lambda w: F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(w, i + k) for k in range(n)]))
    ).otherwise(F.array().cast("array<bigint>")))


def _gram_keys(df: DataFrame, id_col: Optional[str], text_col: str,
               n: int, hash_grams: bool) -> DataFrame:
    """(id?, gram) rows with per-doc-DISTINCT gram keys — raw strings for
    the oracle lane, direct window hashes for the production lane."""
    cols = [F.col(id_col)] if id_col else []
    gram_arr = (word_ngram_hashes(F.col(text_col), n) if hash_grams
                else word_ngrams(F.col(text_col), n))
    return df.select(*cols, F.explode(
        F.array_distinct(gram_arr)).alias("gram"))


def contaminated_docs(corpus: DataFrame, benchmark: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 5, hash_grams: bool = True) -> DataFrame:
    """Distinct corpus ids sharing at least one word n-gram with the
    benchmark. ``hash_grams=True`` (default) compresses join keys to
    direct window xxhash64; pass False only when an external oracle must
    reproduce the keys."""
    def _grams(df: DataFrame, keep_id: bool) -> DataFrame:
        return _gram_keys(df, id_col if keep_id else None, text_col, n,
                          hash_grams)

    bench_grams = _grams(benchmark, keep_id=False).distinct()
    return (_grams(corpus, keep_id=True)
            .join(F.broadcast(bench_grams), "gram", "left_semi")
            .select(id_col).distinct())


def contamination_stats(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 5, hash_grams: bool = True) -> DataFrame:
    """(contaminated_docs, total_docs, contamination_rate) one-row frame."""
    flagged = contaminated_docs(corpus, benchmark, id_col, text_col, n,
                                hash_grams)
    total = corpus.select(id_col).distinct().count()
    return flagged.agg(
        F.count(F.lit(1)).alias("contaminated_docs"),
        F.lit(total).alias("total_docs"),
        F.round(F.count(F.lit(1)) / F.lit(float(total)), 6)
        .alias("contamination_rate"))


def top_ngrams(corpus: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 5, k: int = 20) -> DataFrame:
    """The k most frequent word n-grams across the corpus:
    (gram, n_occurrences, n_docs), ordered by (n_occurrences DESC,
    gram ASC) — the deduplication-analysis view (which boilerplate
    phrases dominate the corpus, what would an exact-substring dedup
    target first).

    Plan: narrow gram explode (shuffle carries (id, gram) pairs only) →
    per-gram two-phase aggregate with a partial-distinct doc count →
    ``orderBy().limit(k)`` plans TakeOrderedAndProject — per-partition
    top-k heaps, so a trillion-gram crawl never funnels one partition.
    Grams stay strings here: the gram TEXT is the answer."""
    grams = corpus.select(F.col(id_col).alias("id"),
                          F.explode(word_ngrams(F.col(text_col), n))
                          .alias("gram"))
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col("id")).alias("n_docs"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("gram")).limit(k)


def contamination_fraction(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = 5, hash_grams: bool = True) -> DataFrame:
    """Per-document overlap FRACTION with the benchmark: (id_col, n_grams,
    n_contaminated, overlap_fraction) — one row per corpus doc that has at
    least one n-gram, fraction over the doc's DISTINCT grams.

    The binary flag (``contaminated_docs``) over-rejects at web scale: a
    book that shares one idiom with an eval set is not the same as a doc
    that embeds the eval set verbatim. The PaLM/GPT-4 decontamination
    reports threshold on the overlap fraction instead; this is that lane.

    Plan: corpus-side distinct-gram explode (narrow, (id, gram) pairs
    only) → broadcast LEFT join against the benchmark gram set with a hit
    flag → one groupBy(id) count/count-if. No corpus shuffle except the
    final per-doc aggregate, which map-side combines."""
    def _grams(df: DataFrame, keep_id: bool) -> DataFrame:
        return _gram_keys(df, id_col if keep_id else None, text_col, n,
                          hash_grams)

    bench = (_grams(benchmark, keep_id=False).distinct()
             .withColumn("__hit__", F.lit(1)))
    return (_grams(corpus, keep_id=True)
            .join(F.broadcast(bench), "gram", "left")
            .groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).cast("bigint")
                .alias("n_contaminated"))
            .withColumn("overlap_fraction",
                        F.round(F.col("n_contaminated")
                                / F.col("n_grams"), 6)))
