"""Property-based tests (hypothesis) for the pure driver-side machinery,
for the exact KS count-ifs against a numpy brute force, and for the
Column text builders against plain-Python references."""

import collections
import itertools
import math
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import Op, Threshold
from datacontract_cli_spark.checks.types import categories_compatible, normalize_type_name
from datacontract_cli_spark.operators.drift import ks_statistic, psi_from_fractions

finite = st.floats(allow_nan=False, allow_infinity=False, width=32)


@given(st.floats(allow_nan=False), st.floats(allow_nan=False))
def test_threshold_eq_ne_complementary(v, a):
    assert Threshold(Op.EQ, v).passes(a) != Threshold(Op.NE, v).passes(a)


@given(st.floats(allow_nan=False), st.floats(allow_nan=False), st.floats(allow_nan=False))
def test_threshold_between_consistent(lo, hi, a):
    lo, hi = min(lo, hi), max(lo, hi)
    b = Threshold(Op.BETWEEN, lo, hi).passes(a)
    nb = Threshold(Op.NOT_BETWEEN, lo, hi).passes(a)
    assert b != nb
    assert b == (lo <= a <= hi)


@given(st.text(max_size=40))
def test_normalize_never_raises_and_stays_in_categories(raw):
    out = normalize_type_name(raw)
    assert out is None or out in {
        "string", "integer", "number", "boolean", "timestamp", "date", "time",
        "object", "array",
    }


@given(st.sampled_from(["integer", "number"]), st.sampled_from(["integer", "number"]))
def test_integer_number_always_compatible(a, b):
    assert categories_compatible(a, b)


@given(st.dictionaries(st.text(min_size=1, max_size=5),
                       st.floats(min_value=0.001, max_value=1.0), min_size=1, max_size=8))
def test_psi_identity_is_zero(freqs):
    total = sum(freqs.values())
    norm = {k: v / total for k, v in freqs.items()}
    assert abs(psi_from_fractions(norm, dict(norm))) < 1e-9


@given(st.dictionaries(st.text(min_size=1, max_size=5),
                       st.floats(min_value=0.001, max_value=1.0), min_size=2, max_size=8),
       st.dictionaries(st.text(min_size=1, max_size=5),
                       st.floats(min_value=0.001, max_value=1.0), min_size=2, max_size=8))
def test_psi_nonnegative_and_finite(f1, f2):
    n1, n2 = sum(f1.values()), sum(f2.values())
    a = {k: v / n1 for k, v in f1.items()}
    b = {k: v / n2 for k, v in f2.items()}
    v = psi_from_fractions(a, b)
    assert math.isfinite(v)
    assert v > -1e-9  # PSI of normalized distributions is >= 0


# --- exact KS (drift.ks_aggregates) against a numpy brute force -------------

# few distinct values, so ties and point masses are the common case
tie_heavy = st.lists(st.one_of(st.none(), st.integers(0, 6).map(float)),
                     min_size=1, max_size=60)
probs = st.floats(min_value=0.0, max_value=1.0)


def _frame(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v double")


def _baseline(points, tie_aware):
    if tie_aware:
        return {"quantiles": {str(p): x for x, p in points}}
    return {"cdf": [[x, p] for x, p in points]}


def _brute_force_ks(values, points, tie_aware):
    v = np.asarray([x for x in values if x is not None], dtype=float)
    if v.size == 0:
        return float("nan")
    worst = 0.0
    for x, p in points:
        hi, lo = np.mean(v <= x), np.mean(v < x)
        term = max(lo - p, p - hi, 0.0) if tie_aware else abs(hi - p)
        worst = max(worst, term)
    return worst


@settings(max_examples=25, deadline=None)
@given(tie_heavy, st.lists(st.tuples(st.integers(-1, 7).map(float), probs),
                           min_size=1, max_size=5),
       st.booleans())
def test_ks_counts_match_numpy_ecdf(spark, values, points, tie_aware):
    baseline = _baseline(points, tie_aware)
    if tie_aware:  # a quantiles map keeps one x per p
        points = [(x, float(p)) for p, x in baseline["quantiles"].items()]
    got = ks_statistic(_frame(spark, values), "v", baseline)
    want = _brute_force_ks(values, points, tie_aware)
    if math.isnan(want):
        assert math.isnan(got)
    else:
        assert abs(got - want) < 1e-12


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(0, 6).map(float), min_size=1, max_size=60),
       st.lists(probs, min_size=1, max_size=6))
def test_ks_zero_against_own_quantiles(spark, values, ps):
    quantiles = {str(p): float(np.quantile(values, p, method="inverted_cdf"))
                 for p in ps}
    assert ks_statistic(_frame(spark, values), "v",
                        {"quantiles": quantiles}) < 1e-12


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 20), st.lists(st.tuples(finite, probs), min_size=1,
                                    max_size=4), st.booleans())
def test_ks_empty_or_all_null_is_nan(spark, n_nulls, points, tie_aware):
    assert math.isnan(ks_statistic(_frame(spark, [None] * n_nulls), "v",
                                   _baseline(points, tie_aware)))


@settings(max_examples=10, deadline=None)
@given(finite, st.integers(1, 50), st.lists(probs, min_size=1, max_size=6))
def test_ks_constant_column_is_zero(spark, c, n, ps):
    assert ks_statistic(_frame(spark, [c] * n), "v",
                        {"quantiles": {str(p): c for p in ps}}) == 0.0


# --- Column text builders against plain-Python references ------------------
#
# Texts mix whitespace runs, tabs, newlines, case, empty strings, nulls and
# fewer than n tokens; the alphabet is small so n-grams and lines repeat.

# word sequences from a tiny vocabulary, so multi-word n-grams repeat
wordy = st.builds(
    lambda lead, parts: lead + "".join(w + gap for w, gap in parts),
    st.sampled_from(["", " ", "\t\n"]),
    st.lists(st.tuples(st.sampled_from(["a", "b", "A", "ab", "."]),
                       st.sampled_from([" ", "  ", "\t", " \t", "\n"])),
             max_size=14))
texts = st.lists(st.one_of(st.none(), wordy,
                           st.text(alphabet="abA .\t\n", max_size=30)),
                 min_size=1, max_size=12)


def _docs_frame(spark, values):
    return spark.createDataFrame(list(enumerate(values)),
                                 "doc_id long, text string")


def _py_tokens(text):
    """dedup.tokens: lower, collapse Java \\s runs to one space, trim, split."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ").split(" ")


def _py_grams(toks, n):
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=25, deadline=None)
@given(texts)
def test_repetition_ratio_matches_python(spark, values):
    from datacontract_cli_spark.operators.textstats import repetition_ratio

    got = [r.v for r in _docs_frame(spark, values).orderBy("doc_id").select(
        repetition_ratio(F.col("text"), 3).alias("v")).collect()]
    want = []
    for text in values:
        grams = _py_grams(_py_tokens(text), 3) if text is not None else []
        want.append(1.0 - len(set(grams)) / float(len(grams)) if grams
                    else 0.0)
    assert got == want


@settings(max_examples=25, deadline=None)
@given(texts)
def test_word_shingles_match_python(spark, values):
    from datacontract_cli_spark.operators.dedup import word_shingles

    got = [r.v for r in _docs_frame(spark, values).orderBy("doc_id").select(
        word_shingles(F.col("text"), 3).alias("v")).collect()]
    want = []
    for text in values:
        if text is None:
            want.append([None])
            continue
        toks = _py_tokens(text)
        # distinct in first-occurrence order; short docs: the whole
        # normalized text as the one shingle
        want.append(list(dict.fromkeys(_py_grams(toks, 3)))
                    or [" ".join(toks)])
    assert got == want


@settings(max_examples=25, deadline=None)
@given(texts)
def test_collapse_repeated_lines_matches_groupby(spark, values):
    from datacontract_cli_spark.operators.lines import collapse_repeated_lines

    got = [r.text for r in collapse_repeated_lines(
        _docs_frame(spark, values)).orderBy("doc_id").collect()]
    want = [None if t is None
            else "\n".join(k for k, _ in itertools.groupby(t.split("\n")))
            for t in values]
    assert got == want


@settings(max_examples=15, deadline=None)
@given(texts)
def test_gopher_top_bigram_char_frac_matches_python(spark, values):
    from datacontract_cli_spark.operators.textstats import gopher_repetition

    got = {r.doc_id: r.top_bigram_char_frac for r in gopher_repetition(
        _docs_frame(spark, values)).collect()}
    want = {}
    for i, text in enumerate(values):
        if text is None:
            want[i] = 0.0
            continue
        words = re.sub(r"[ \t\n\x0b\f\r]+", " ", text).strip(" ").split(" ")
        word_chars = len(" ".join(words))
        counts = collections.Counter(_py_grams(words, 2))
        if not counts or word_chars == 0:
            want[i] = 0.0
            continue
        # highest count, ties to the lexicographically greatest gram
        gram, c = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        want[i] = float(c * len(gram)) / word_chars
    assert got == want
