"""Vector primitives over ``array<float>`` embedding columns.

All arithmetic is JVM-side higher-order functions in DOUBLE with a
*sequential left fold*, so DuckDB twins written as
``list_reduce(list_transform(...), (acc, x) -> acc + x)`` produce
bit-identical IEEE-754 results (float→double widening is exact;
+, *, /, sqrt are correctly rounded; identical operand order ⇒
identical bits). That property is what lets brute-force cosine top-k
stay on the strict value-hash oracle path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "norm"]


def _fold_sum(arr: Column) -> Column:
    # F.aggregate folds left-to-right from the zero element — same
    # order as DuckDB's list_reduce with a prepended 0.0.
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double precision."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
