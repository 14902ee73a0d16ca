"""Structural guard: no Column text builder re-evaluates an outer
expression inside a higher-order-function lambda.

Spark evaluates a lambda body once per array element and shares no common
subexpression into it, so an expensive per-row expression (a split, a
normalization, a score array) referenced from inside a lambda runs once
per element — O(tokens²) per document for the n-gram builders. Each
builder must bind such expressions once (``operators._hof.bind``).

The check walks the OPTIMIZED plan (the one that runs, after
CollapseProject may have inlined a projected column into a lambda) and
fails on any lambda-body subtree that is not foldable, references no
lambda variable, and is more than a bare attribute."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import (
    classifier,
    contamination,
    dedup,
    lines,
    packing,
    textstats,
)

_TEXTS = [(1, "the cat sat on the mat the cat sat"),
          (2, "Der Hund und die Katze\nder Hund\nder Hund"),
          (3, ""),
          (4, None)]


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _name(node):
    return node.getClass().getSimpleName()


def _walk(expr, in_lambda):
    """(references a lambda variable?, maximal lambda-body subtrees of
    ``expr`` that break the rule)."""
    name = _name(expr)
    if name == "LambdaFunction":
        # children = body +: arguments; the body is lambda territory
        return True, _walk(expr.function(), True)[1]
    has_var, offenders = name == "NamedLambdaVariable", []
    for child in _children(expr):
        child_var, child_offenders = _walk(child, in_lambda)
        has_var = has_var or child_var
        offenders += child_offenders
    if (in_lambda and not has_var and name != "AttributeReference"
            and not expr.foldable()):
        return False, [expr.toString()]
    return has_var, offenders


def _unbound_lambda_subtrees(df):
    offenders = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        plan = stack.pop()
        exprs = plan.expressions()
        for i in range(exprs.size()):
            offenders += _walk(exprs.apply(i), False)[1]
        stack.extend(_children(plan))
    return offenders


def _docs(spark):
    return spark.createDataFrame(_TEXTS, "doc_id long, text string")


def _col_builder(fn):
    return lambda df: df.select("doc_id", fn(F.col("text")).alias("out"))


BUILDERS = {
    "repetition_ratio": _col_builder(textstats.repetition_ratio),
    "gopher_repetition": lambda df: textstats.gopher_repetition(df),
    "collapse_repeated_lines": lambda df: lines.collapse_repeated_lines(df),
    "word_shingles": _col_builder(dedup.word_shingles),
    "word_ngrams": _col_builder(lambda c: contamination.word_ngrams(c, 3)),
    "word_ngram_hashes": _col_builder(
        lambda c: contamination.word_ngram_hashes(c, 3)),
    "winnow_fingerprints": _col_builder(dedup.winnow_fingerprints),
    "classifier_score": _col_builder(
        lambda c: classifier.classifier_score(c, n_buckets=64)),
    "classifier_score_weights": _col_builder(
        lambda c: classifier.classifier_score(
            c, n_buckets=4, weights=[0.5, -0.25, 0.125, 1.0])),
    "gopher_quality": lambda df: textstats.gopher_quality(df),
    "chunk_documents": lambda df: packing.chunk_documents(df, 3, stride=2),
}


@pytest.mark.parametrize("builder", sorted(BUILDERS))
def test_lambda_bodies_bind_outer_expressions(spark, builder):
    df = BUILDERS[builder](_docs(spark))
    offenders = _unbound_lambda_subtrees(df)
    assert not offenders, (
        f"{builder}: lambda body re-evaluates outer expression(s) per "
        f"element: {offenders[:3]}")
    df.collect()  # the bound form still runs
