"""Property-based tests (hypothesis) for the pure driver-side machinery,
and for the exact KS count-ifs against a numpy brute force."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

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
