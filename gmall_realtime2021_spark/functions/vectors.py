"""Vector primitives over ``array<float>`` embedding columns, rendered
as Spark SQL.

This module is the one Spark-side renderer for the fixed-fold kernels
and their constants. Each kernel is one SQL string parsed by one
``F.expr`` call, so building a plan costs one py4j round trip per
expression rather than one per Column node or literal.

All arithmetic is JVM-side higher-order functions in DOUBLE with a
*sequential left fold*, so DuckDB twins written as
``list_reduce(list_transform(...), (acc, x) -> acc + x)`` produce
bit-identical IEEE-754 results (float→double widening is exact;
+, *, /, sqrt are correctly rounded; identical operand order ⇒
identical bits). That property is what lets brute-force cosine top-k
stay on the strict value-hash oracle path. The DuckDB side keeps its
own renderer (``plans/oracle_fragments.py``) so the oracle stays an
independent check.

Constants are rendered by :func:`lit_array` as ``repr(v)`` plus the
``D`` suffix: ``repr`` is Python's shortest round-trip decimal and
Spark parses a ``D`` literal with the correctly rounded
``Double.parseDouble``, so every literal is the same double bit for
bit (``-0.0`` and subnormals included).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "dot_sql", "lit_array", "norm"]


def lit_array(values) -> str:
    """SQL ``array(...)`` of exact double literals; nested lists render
    as nested arrays (a matrix is an array of row arrays). Raises
    ``ValueError`` on NaN or ±inf, which have no literal form."""
    if isinstance(values, (list, tuple)):
        return "array(" + ", ".join(lit_array(v) for v in values) + ")"
    v = float(values)
    if not math.isfinite(v):
        raise ValueError(f"lit_array: {v!r} has no exact double literal")
    return f"{v!r}D"


def dot_sql(a: str, b: str) -> str:
    """SQL text of the sequential-order double dot product of two array
    expressions (column references or :func:`lit_array` text):
    ``aggregate`` folds left-to-right from 0.0, the same order as
    DuckDB's ``list_reduce`` with a prepended 0.0."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (x, y) -> x + y)"
    )


def dot(a: str, b: str) -> Column:
    """Sequential-order dot product in double precision."""
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(f"sqrt({dot_sql(a, a)})")
