"""Higher-order-function helpers shared by the Column text operators."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    The rule: an outer expression referenced inside a higher-order-function
    lambda (``transform``, ``filter``, ``aggregate``, ...) is re-evaluated
    for EVERY element the lambda visits — Spark has no common-subexpression
    sharing into lambda bodies. ``transform(seq, i -> slice(split(text), i,
    n))`` therefore splits the whole text once per n-gram, O(tokens²) per
    document. Pass the expensive expression here instead: ``body`` receives
    a lambda variable bound to its value, and everything built from that
    variable inside nested lambdas reads the one evaluated value.

    Implemented as a one-element ``transform`` (the variable binds to the
    only element) followed by ``[0]``; ``value`` may be null or any type,
    and the result type is ``body``'s."""
    return F.transform(F.array(value), lambda v: body(v))[0]
