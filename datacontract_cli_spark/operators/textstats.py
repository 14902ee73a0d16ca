"""Text analysis operators: token counts, quality scoring, language ID.

Everything is built from ``pyspark.sql.functions`` Column expressions —
whole-stage-codegen'd, zero Python on the executors. Each function returns
either a Column (composable into any select) or a DataFrame transformer.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.operators._hof import bind

# A BPE-ish word/punctuation splitter: words, numbers, or single
# non-space symbols each count as one token.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"

_STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "je", "ne", "un", "une", "des"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "que", "de"],
}


def whitespace_token_count(col: Column) -> Column:
    """Number of whitespace-separated tokens (empty text → 0)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def regex_token_count(col: Column) -> Column:
    """Token count under the BPE-ish regex (words / numbers / symbols)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    non_punct = F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(total > 0, (total - non_punct) / total).otherwise(F.lit(0.0))


def upper_ratio(col: Column) -> Column:
    total = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    uppers = F.length(F.regexp_replace(col, r"[^A-Z]", ""))
    return F.when(total > 0, uppers / total).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    stops = _STOPWORDS.get(lang, _STOPWORDS["en"])
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(*stops)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] quality score: long enough, not punctuation soup,
    not shouting, some stopwords (natural-language-ness)."""
    n_tokens = whitespace_token_count(col)
    length_ok = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    upper_pen = F.lit(1.0) - F.least(upper_ratio(col) * 2, F.lit(1.0))
    stop_bonus = F.least(stopword_ratio(col) * 5, F.lit(1.0))
    return (length_ok * 0.4 + punct_pen * 0.25 + upper_pen * 0.15 + stop_bonus * 0.2)


def language_scores(col: Column) -> Column:
    """Per-language stopword-hit fractions as a map<string,double>."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.greatest(F.size(toks), F.lit(1))

    def membership(words):
        # factory so each lambda closes over its own stopword list and stays
        # single-arg (pyspark derives lambda arity from the signature)
        return lambda t: t.isin(*words)

    entries = []
    for lang, stops in _STOPWORDS.items():
        hits = F.size(F.filter(toks, membership(stops)))
        entries.append(F.struct(F.lit(lang).alias("lang"), (hits / n).alias("score")))
    return F.array(*entries)


def _argmax_lang(scores: Column, default: str) -> Column:
    """The first ``lang`` with the highest ``score``; ``default`` when no
    score is positive. ``scores`` and its maximum are each bound once
    (see :func:`~datacontract_cli_spark.operators._hof.bind`)."""
    return bind(scores, lambda sc: bind(
        F.array_max(F.transform(sc, lambda s: s["score"])),
        lambda best: F.when(
            best > 0, F.filter(sc, lambda s: s["score"] == best)[0]["lang"]
        ).otherwise(F.lit(default))))


def detect_language(col: Column, default: str = "und") -> Column:
    """Argmax of the stopword scores; 'und' when nothing matches."""
    return _argmax_lang(language_scores(col), default)


# Character-trigram profiles per language (tiny, illustrative set — the
# n-gram-heuristic flavor of language ID; real profiles would be learned
# from a corpus). Scores are trigram-hit fractions, argmax wins.
_CHAR_TRIGRAMS: Dict[str, List[str]] = {
    "en": ["the", "ing", "and", "ion", "ent", " th", "he ", "er "],
    "de": ["der", "ein", "ich", "und", "sch", "die", "en ", "ch "],
    "fr": ["les", "ent", "que", "ait", "ion", "de ", "le ", "es "],
    "es": ["que", "ión", "los", "ent", "ado", "de ", "la ", "os "],
}


def detect_language_ngram(col: Column, default: str = "und") -> Column:
    """Char-trigram language ID: count profile-trigram occurrences per
    language (JVM-side: one `locate`-style contains count per trigram via
    split length), argmax."""
    lowered = F.lower(col)
    entries = []
    for lang, grams in _CHAR_TRIGRAMS.items():
        hits = None
        for g in grams:
            # occurrences of g = size(split(text, g)) - 1, JVM-side
            n = F.size(F.split(lowered, F.lit(g), -1)) - 1
            hits = n if hits is None else hits + n
        norm = F.greatest(F.length(lowered), F.lit(1))
        entries.append(F.struct(F.lit(lang).alias("lang"),
                                (hits / norm).alias("score")))
    return _argmax_lang(F.array(*entries), default)


def repetition_ratio(col: Column, n: int = 3) -> Column:
    """Fraction of repeated word n-grams within one document:
    1 - distinct_ngrams / total_ngrams (0 = no internal repetition,
    → 1 = the same phrase over and over). The standard boilerplate/spam
    signal in training-data quality filters (cf. Gopher/C4 repetition
    rules). Pure Column math over the token array — one scan, no shuffle,
    no Python; short docs (< n tokens) score 0. The token array is bound
    once, so each document is normalized and split once, not per n-gram."""
    from datacontract_cli_spark.operators.dedup import tokens

    def ratio(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(
            count > 0,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / count.cast("double"),
        ).otherwise(F.lit(0.0))

    return bind(tokens(col), ratio)


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5,
                    min_df: int = 1) -> DataFrame:
    """Top-k tf-idf terms per document — declarative keyword extraction.

    tf = term count within the doc; idf = ln((1 + N) / (1 + df)) + 1
    (the smoothed scikit-learn formulation, reproducible as pure SQL).
    Plan shape: one explode -> per-(doc, term) count (two-phase agg) ->
    document frequencies are a second tiny aggregate over distinct
    (doc, term) pairs joined back by term, N rides as a broadcast scalar
    -> per-doc top-k window. Shuffles carry (doc_id, term) pairs only;
    ties rank deterministically by (score DESC, term ASC)."""
    from pyspark.sql import Window

    from datacontract_cli_spark.operators.dedup import tokens

    terms = df.select(F.col(id_col),
                      F.explode(tokens(F.col(text_col))).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (tf.groupBy("term")
               .agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") >= min_df))
    n_docs = df.select(id_col).distinct() \
        .agg(F.count(F.lit(1)).alias("__N__"))
    idf = F.log((1 + F.col("__N__")) / (1 + F.col("df"))) + 1
    scored = (tf.join(dfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn("tfidf", F.col("tf") * idf))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("__r__", F.row_number().over(w))
            .filter(F.col("__r__") <= k)
            .select(id_col, "term", "tf",
                    F.round("tfidf", 6).alias("tfidf"),
                    F.col("__r__").alias("rank")))


def gopher_quality(df: DataFrame, text_col: str = "text",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   min_alpha_word_frac: float = 0.8) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1) as
    per-document flag columns: word-count bounds, mean-word-length bounds,
    and the fraction-of-words-with-an-alphabetic-character rule. The
    remaining Gopher rules either need line structure (bullet/ellipsis
    ratios) or a stopword list (:func:`stopword_ratio` covers that lane).

    Appends n_words / mean_word_len / alpha_word_frac and one boolean per
    rule plus the conjunction ``keep``. Pure Column math — one scan, no
    shuffle, no Python; thresholds are parameters because the paper's
    defaults target full web pages, not snippets.

    At 100 TB this composes with :func:`pipeline.curate_corpus`'s quality
    stage: the flags are narrow per-row expressions, so the filter pushes
    into the scan stage and drops documents before anything shuffles."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    # `words` is each HOF's array argument, never referenced from inside a
    # lambda body, so it is evaluated once per call (catalyst trap #1, see
    # operators/_hof.py bind)
    char_total = F.aggregate(words, F.lit(0),
                             lambda acc, w: acc + F.length(w))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    mean_len = F.when(n_words > 0,
                      char_total.cast("double") / n_words).otherwise(F.lit(0.0))
    alpha_frac = F.when(n_words > 0,
                        n_alpha.cast("double") / n_words).otherwise(F.lit(0.0))
    out = (df.withColumn("n_words", n_words)
             .withColumn("mean_word_len", mean_len)
             .withColumn("alpha_word_frac", alpha_frac)
             .withColumn("ok_word_count",
                         (F.col("n_words") >= min_words)
                         & (F.col("n_words") <= max_words))
             .withColumn("ok_mean_word_len",
                         (F.col("mean_word_len") >= min_mean_word_len)
                         & (F.col("mean_word_len") <= max_mean_word_len))
             .withColumn("ok_alpha_words",
                         F.col("alpha_word_frac") >= min_alpha_word_frac))
    return out.withColumn("keep", F.col("ok_word_count")
                          & F.col("ok_mean_word_len")
                          & F.col("ok_alpha_words"))


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText repetition filters (Rae et al. 2021, §A1.3),
    per document:

    - ``dup_line_frac``       — fraction of LINES whose value occurs
                                more than once in the doc (every
                                occurrence counts)
    - ``dup_line_char_frac``  — fraction of line characters inside
                                those duplicated line groups
    - ``top_bigram_char_frac``— characters covered by the most frequent
                                word 2-gram (count × len(gram)) over the
                                doc's word characters (count ties break
                                on the lexicographically GREATEST gram —
                                a fixed rule, so the metric is
                                engine-independent)

    Two grouped aggregates, both keyed by (doc, value) then doc — fully
    map-side-combinable, shuffle payload is distinct lines/grams per doc,
    never the corpus. Empty docs score 0.0 everywhere."""
    lines = df.select(F.col(id_col), F.explode(
        F.split(F.col(text_col), "\n")).alias("__line"))
    line_groups = lines.groupBy(id_col, "__line").agg(
        F.count(F.lit(1)).alias("c"))
    line_stats = line_groups.groupBy(id_col).agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
         .alias("dup_lines"),
        F.sum(F.col("c") * F.length("__line")).alias("line_chars"),
        F.sum(F.when(F.col("c") > 1,
                     F.col("c") * F.length("__line")).otherwise(0))
         .alias("dup_line_chars"))

    words = F.split(F.trim(F.regexp_replace(F.col(text_col),
                                            r"\s+", " ")), " ")
    # Column API (not an F.expr string — arbitrary column names survive):
    # bigram i = word i + ' ' + word i+1, built by an indexed transform
    # over the first size-1 words with a 0-based F.get back-reference into
    # the word array, bound once so the split is not redone per bigram
    grams = bind(words, lambda w: F.transform(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda x, i: F.concat(x, F.lit(" "), F.get(w, i + 1))))
    bi = df.select(F.col(id_col),
                   F.length(F.array_join(words, " ")).alias("word_chars"),
                   F.explode_outer(grams).alias("__g"))
    top = (bi.groupBy(id_col, "word_chars", "__g")
             .agg(F.count(F.lit(1)).alias("c"))
             .groupBy(id_col, "word_chars")
             .agg(F.max_by(
                 # struct comparison is lexicographic (c first, then the
                 # gram string), so max_by = highest count, ties going to
                 # the lexicographically greatest gram — one fixed rule
                 # both engines can replay
                 F.struct(F.col("c"), F.length("__g").alias("gl")),
                 F.struct(F.col("c"), F.col("__g"))).alias("t")))
    out = (line_stats.join(top, id_col, "outer")
           .select(
               F.col(id_col),
               F.when(F.col("n_lines") > 0,
                      F.col("dup_lines").cast("double") / F.col("n_lines"))
                .otherwise(0.0).alias("dup_line_frac"),
               F.when(F.col("line_chars") > 0,
                      F.col("dup_line_chars").cast("double")
                      / F.col("line_chars"))
                .otherwise(0.0).alias("dup_line_char_frac"),
               F.when((F.col("word_chars") > 0) & F.col("t.c").isNotNull()
                      & (F.col("t.gl") > 0),
                      (F.col("t.c") * F.col("t.gl")).cast("double")
                      / F.col("word_chars"))
                .otherwise(0.0).alias("top_bigram_char_frac")))
    return out
