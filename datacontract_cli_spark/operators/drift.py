"""Distribution-drift checks: PSI over categorical frequencies and KS over
numeric distributions.

Beyond-reference operators mandated by the north rule (SURVEY.md §2.9):

- **PSI** (population stability index) compares the observed category
  frequency vector of a column (one ``groupBy(col).count()`` — a two-phase
  hash aggregate whose shuffle payload is one row per category) against a
  baseline {category: expected_fraction}.

- **KS statistic** compares the observed distribution against a baseline
  at the baseline's k points, exactly, with count-ifs that fold into any
  aggregate (``ks_aggregates``): the engine's aggregate compiler
  (``engine/executor.py compile_aggregates``) folds them into each model's
  one flat aggregate and into ``engine/sliced.py``'s slice groupBy.
  ``baseline={"cdf": [[x, p], ...]}`` scores ``|F(x) - p|``;
  ``baseline={"quantiles": {p: x}}`` scores p's distance to the interval
  ``[F(x-), F(x)]`` — 0 when x is a p-quantile of the data (so a constant
  or tie-heavy column never drifts against its own quantiles), and
  ``|F(x) - p|`` on continuous data. Other baseline keys (the retired
  ``use_tdigest``) are ignored.
"""

from __future__ import annotations

import math
from typing import Any, Dict, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPS = 1e-6


OTHER_BUCKET = "__other__"


def frequency_fractions(df: DataFrame, column: str,
                        max_categories: int = 10_000) -> Dict[Any, float]:
    """Observed category → fraction, computed in one grouped aggregate.

    The driver-side collect is bounded: at most ``max_categories`` rows come
    back (top categories by count); any remaining mass folds into
    ``OTHER_BUCKET``. For categorical drift columns (role/tool/event_type)
    the cap never triggers; it exists so a mis-pointed high-cardinality
    column (e.g. an id) cannot OOM the driver — the grouped counts stay
    distributed and only the top-K survive the ordered limit."""
    counts = df.groupBy(F.col(column).alias("k")).agg(F.count(F.lit(1)).alias("n"))
    # sort-free probe: a plain limit(K+1) detects truncation without paying a
    # sort in the (overwhelmingly common) small-cardinality path
    rows = counts.limit(max_categories + 1).collect()
    if len(rows) > max_categories:
        # rare lane only: keep the true top-K by count and fold the exact
        # remaining mass into one bucket
        rows = counts.orderBy(F.desc("n"), F.col("k")).limit(max_categories).collect()
        total = counts.agg(F.sum("n").alias("t")).collect()[0]["t"]
        out = {r["k"]: r["n"] / total for r in rows}
        out[OTHER_BUCKET] = 1.0 - sum(out.values())
        return out
    total = sum(r["n"] for r in rows)
    if total == 0:
        return {}
    return {r["k"]: r["n"] / total for r in rows}


def psi_from_fractions(actual: Dict[Any, float], baseline: Dict[Any, float]) -> float:
    keys = set(actual) | set(baseline)
    out = 0.0
    for k in keys:
        a = max(actual.get(k, 0.0), _EPS)
        b = max(float(baseline.get(k, 0.0)), _EPS)
        out += (a - b) * math.log(a / b)
    return out


def psi(df: DataFrame, column: str, baseline: Dict[Any, float],
        max_categories: int = 10_000) -> float:
    return psi_from_fractions(
        frequency_fractions(df, column, max_categories), baseline)


def _baseline_literal(df: DataFrame, baseline: Dict[Any, float]) -> DataFrame:
    """The baseline as a tiny frame (k string nullable, q double) exploded
    from a literal array of structs — no driver data shipping, and unlike
    ``create_map`` it tolerates a None key and mixed-type keys (stringified
    the same way the observed side is cast)."""
    if not baseline:
        # F.explode(F.array()) of zero structs is a NullType that cannot
        # star-expand — surface a clear error instead of Spark's obscure
        # 'Can only star expand struct data types' (the scalar psi() lane
        # tolerates {}; the declarative lanes need at least one category)
        raise ValueError("baseline must contain at least one category")
    def _key_lit(k):
        if k is None:
            return F.lit(None).cast("string")
        try:
            # Spark's OWN string rendering (booleans "true"/"false", float
            # formatting) so keys match the observed side's cast-to-string;
            # Python str() renders "True" and some floats differently and
            # would silently score every category as novel.
            return F.lit(k).cast("string")
        except Exception:
            return F.lit(str(k))  # exotic key types keep the old behavior

    entries = [
        F.struct(_key_lit(k).alias("k"), F.lit(float(v)).alias("q"))
        for k, v in baseline.items()
    ]
    return df.sparkSession.range(1).select(
        F.explode(F.array(*entries)).alias("e")).select("e.*")


def _baseline_join(df: DataFrame, column: str,
                   baseline: Dict[Any, float]) -> DataFrame:
    """Shared scaffold of the declarative drift lanes: observed category
    fractions full-outer-joined with the baseline literal. Returns a frame
    with columns (p: observed fraction, nullable; q: baseline fraction,
    nullable).

    The observed side stays fully distributed (two-phase hash aggregate);
    only the per-category frequency table — one row per category — reaches
    the join, and the baseline ships as a literal array of structs exploded
    from ``spark.range(1)`` (no driver data shipping). Join keys are cast
    to string on BOTH sides and matched null-safely, so baselines with a
    None key or mixed-type keys (which ``frequency_fractions`` on a
    nullable column legitimately produces, incl. the ``__other__`` cap
    bucket) behave exactly like the scalar ``psi()`` dict lane instead of
    crashing ``create_map`` on a null key."""
    base = _baseline_literal(df, baseline)
    freq = (df.groupBy(F.col(column).cast("string").alias("k"))
              .agg(F.count(F.lit(1)).alias("n")))
    total = freq.agg(F.sum("n").alias("t"))
    obs = (freq.crossJoin(F.broadcast(total))
               .select("k", (F.col("n") / F.col("t")).alias("p")))
    return obs.join(base, obs["k"].eqNullSafe(base["k"]), "full_outer") \
              .select("p", "q")


def psi_df(df: DataFrame, column: str, baseline: Dict[Any, float],
           digits: int = 6) -> DataFrame:
    """PSI as a one-row DataFrame with ZERO driver round-trips: the whole
    computation is one declarative plan (grouped count → tiny full-outer
    join with the baseline keys → single-row sum), so nothing is collected
    and no local relation ships to the JVM. Preferred over ``psi()`` when
    the caller wants a DataFrame (queries, pipelines) — the scalar ``psi()``
    lane pays a driver collect plus a createDataFrame round-trip (~0.5 s of
    py4j/job floor per call) that this lane avoids entirely.

    Categories observed but absent from the baseline (and vice versa) get
    the standard ``_EPS`` floor, matching ``psi_from_fractions``."""
    joined = _baseline_join(df, column, baseline)
    a = F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(_EPS))
    b = F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(_EPS))
    return joined.agg(
        F.round(F.sum((a - b) * F.log(a / b)), digits).alias("psi"))


def jsd_df(df: DataFrame, column: str, baseline: Dict[Any, float],
           digits: int = 6) -> DataFrame:
    """Jensen-Shannon divergence (base-2, in [0,1]) between the observed
    category distribution and a baseline, as one declarative plan — same
    shape as :func:`psi_df` (grouped count → tiny full-outer join with the
    exploded baseline literal → single-row sum). JSD is the symmetric,
    bounded alternative to PSI: robust to zero-probability categories
    (0·log0 ≡ 0 — no epsilon floor needed), which makes it the better
    alarm metric when new categories appear at 100 TB."""
    joined = _baseline_join(df, column, baseline)
    p = F.coalesce(F.col("p"), F.lit(0.0))
    q = F.coalesce(F.col("q"), F.lit(0.0))
    m = (p + q) / 2
    # 0*log(0) -> 0 via the when-guards; log2 for the [0,1] range
    term = (F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
            + F.when(q > 0, q * F.log2(q / m)).otherwise(F.lit(0.0)))
    return joined.agg(F.round(F.sum(term) / 2, digits).alias("jsd"))


def chi2_df(df: DataFrame, column: str, baseline: Dict[Any, float],
            digits: int = 4) -> DataFrame:
    """Pearson chi-square goodness-of-fit statistic of the observed
    category counts against baseline expected fractions, one declarative
    plan. Returns (chi2, df_degrees): the caller compares against the
    critical value for its alpha. Expected counts are n·q_k over the
    baseline's categories (observed-only categories contribute their full
    count against an expected of 0 via the standard convention of folding
    them in with expected≈0 excluded — here they're included with q from
    the baseline only, so the statistic is over the baseline's support)."""
    base = _baseline_literal(df, baseline)
    freq = (df.groupBy(F.col(column).cast("string").alias("k"))
              .agg(F.count(F.lit(1)).alias("n")))
    total = freq.agg(F.sum("n").alias("t"))
    joined = (base.join(freq, base["k"].eqNullSafe(freq["k"]), "left")
                  .crossJoin(F.broadcast(total)))
    observed = F.coalesce(F.col("n"), F.lit(0)).cast("double")
    # eps floor: a baseline category with q=0.0 ('must not appear') would
    # otherwise divide by zero (ANSI crash / silently dropped term) — the
    # floor makes observed occurrences of a forbidden category contribute
    # a huge chi2 term, which is exactly the intended signal
    expected = F.greatest(F.col("q"), F.lit(1e-12)) * F.col("t")
    term = (observed - expected) ** 2 / expected
    return joined.agg(
        F.round(F.sum(term), digits).alias("chi2"),
        (F.count(F.lit(1)) - 1).alias("df_degrees"))


def ks_aggregates(column: Column, baseline: Dict[str, Any],
                  prefix: str) -> Tuple[List[Column], Column]:
    """Exact KS of ``column`` against ``baseline`` as (aggregates,
    statistic). The aggregates are ``count(column)`` and, per baseline
    point x, ``count_if(column <= x)`` — plus ``count_if(column < x)`` for a
    ``quantiles`` baseline — aliased ``{prefix}…``; they fold into any
    ``agg``/``groupBy().agg``. The statistic is Column math over those
    aliases, to project on the aggregated row: NULL when the column has no
    non-null value (unknown drift, never zero). A malformed baseline raises
    ValueError."""
    try:
        if "cdf" in baseline:
            tie_aware, pairs = False, [(x, p) for x, p in baseline["cdf"]]
        else:
            tie_aware = True
            pairs = [(x, p) for p, x in baseline["quantiles"].items()]
        points = [(float(x), float(p)) for x, p in pairs]
    except (AttributeError, KeyError, TypeError, ValueError) as e:
        raise ValueError("KS baseline needs 'cdf': [[x, p], ...] or "
                         f"'quantiles': {{p: x}}, got {baseline!r}") from e
    if not points:
        raise ValueError("KS baseline has no points")
    n_alias = f"{prefix}n"
    aggs = [F.count(column).alias(n_alias)]
    n = F.col(n_alias)
    terms = []
    for i, (x, p) in enumerate(points):
        aggs.append(F.count_if(column <= F.lit(x)).alias(f"{prefix}le{i}"))
        hi = F.try_divide(F.col(f"{prefix}le{i}"), n)
        if tie_aware:
            aggs.append(F.count_if(column < F.lit(x)).alias(f"{prefix}lt{i}"))
            lo = F.try_divide(F.col(f"{prefix}lt{i}"), n)
            terms.append(F.greatest(lo - F.lit(p), F.lit(p) - hi, F.lit(0.0)))
        else:
            terms.append(F.abs(hi - F.lit(p)))
    worst = terms[0] if len(terms) == 1 else F.greatest(*terms)
    return aggs, F.when(n > 0, worst)


def ks_df(df: DataFrame, column: str, points: List[List[float]],
          digits: int = 6) -> DataFrame:
    """Exact KS-at-points as a one-row DataFrame with zero driver
    round-trips (same declarative rationale as :func:`psi_df`): all the
    count-ifs fuse into ONE scan's aggregate, and the max-deviation fold
    happens in the same plan — nothing is collected and no local relation
    ships to the JVM. An empty/all-null column yields ks NULL."""
    aggs, ks = ks_aggregates(F.col(column), {"cdf": points}, "__ks_")
    return df.agg(*aggs).select(F.round(ks, digits).alias("ks"))


def ks_by_group(df: DataFrame, group_col: str, column: str,
                points: List[List[float]], digits: int = 6) -> DataFrame:
    """Per-slice exact KS-at-points: one row per ``group_col`` value with
    (group, n, ks) — the north rule's text-length-quantile drift check
    evaluated PER ROLE (or per tool/source/language) instead of globally.
    A global KS hides a single role's length regression inside the
    aggregate; this surfaces which slice drifted.

    Same declarative shape as :func:`ks_df` lifted onto a groupBy: the
    count-ifs become partial aggregates that combine map-side, the
    exchange carries |groups| rows, and the max-deviation fold is a
    projection on the tiny grouped frame. NULL group keys form their own
    row (they usually ARE the defect); groups with zero non-null values
    yield ks NULL rather than a spurious 0."""
    aggs, ks = ks_aggregates(F.col(column), {"cdf": points}, "__ks_")
    return df.groupBy(group_col).agg(*aggs).select(
        group_col, F.col("__ks_n").alias("n"),
        F.round(ks, digits).alias("ks"))


def ks_statistic(df: DataFrame, column: str, baseline: Dict[str, Any]) -> float:
    """KS of ``column`` against ``baseline`` (see :func:`ks_aggregates`) in
    one aggregation job; NaN for an empty/all-null column."""
    aggs, ks = ks_aggregates(F.col(column), baseline, "__ks_")
    value = df.agg(*aggs).select(ks).first()[0]
    return float("nan") if value is None else float(value)
