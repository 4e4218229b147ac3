"""Arrow-batched matrix-dot kernel for corpus-sized inputs.

``operators.similarity`` needs k dot products per row against a
*fixed* small matrix (LSH hyperplanes, IVF centroids, padded PQ
codebooks). The expression form (k × ``aggregate(zip_with(...))``)
runs on Spark's interpreted HOF path — ~1 µs per element — which made
bucket assignment the dominant cost of the embedding operators over a
corpus. This UDF computes the same values in one numpy pass.
Query-sized inputs (the IVF probe side) keep the SQL form from
``functions/vectors.py`` instead: there the fixed cost of a Python
worker outweighs the per-element saving.

Bit-exactness: the engine's portability contract is a *sequential
left fold* in double (functions/vectors.py);
``np.cumsum(prod, axis=1)[:, -1]`` is that exact fold — cumsum's
intermediate outputs are the running prefix sums, so its last element
associates left-to-right, unlike ``np.dot``'s pairwise/SIMD summation
which could differ in the last ulp and flip a sign-bit bucket.
float32→float64 widening is exact, multiplication is correctly rounded
in both engines, so Spark, this UDF, and DuckDB agree bit-for-bit.

The kernel is returned ``asNondeterministic()`` — values ARE
deterministic; the flag stops Catalyst cloning a kernel under a
pushed/substituted predicate (the plan audit's duplicated-kernel
detector found 3 such plans in r06; see functions/text_arrow.py for
the same contract and rationale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

__all__ = ["matrix_dots_arrow"]


def matrix_dots_arrow(col: Column, matrix: list[list[float]]) -> Column:
    """array<double> of sequential-fold dot products of ``col``
    (array<float/double>) against each row of ``matrix``."""
    planes = np.array(matrix, dtype=np.float64)  # (k, d)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _f(vs: pd.Series) -> pd.Series:
        def one(v) -> list[float]:
            vec = np.asarray(v, dtype=np.float64)
            prod = vec[None, :] * planes
            return np.cumsum(prod, axis=1)[:, -1].tolist()

        # batch fast path: stack the whole Arrow batch and accumulate
        # dim-at-a-time — per element (i, j) that is 0.0 + p_0 + p_1
        # + ... in dimension order, the same IEEE left association as
        # the per-row cumsum, so values compare equal while the
        # per-row Python dispatch (~10 µs × batch) drops to d
        # vectorized ops per batch. One sign-of-zero edge: an all--0.0
        # product row folds to -0.0 per-row but +0.0 here (0.0 + -0.0
        # == +0.0); the values are == in Python/SQL, only the sign bit
        # differs, and no consumer branches on it. Ragged/odd batches
        # fall back to the per-row spec form.
        try:
            V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        except Exception:
            return vs.map(one)
        if V.ndim != 2 or V.shape[1] != planes.shape[1]:
            return vs.map(one)
        # transpose once so each fold step reads a CONTIGUOUS slice —
        # accumulating over strided columns of row-major V costs more
        # in cache misses than the per-row dispatch it saves
        VT = np.ascontiguousarray(V.T)  # (d, n)
        acc = np.zeros((V.shape[0], planes.shape[0]), dtype=np.float64)
        for d in range(planes.shape[1]):
            acc += VT[d][:, None] * planes[None, :, d]
        # .tolist() (C-level nested-list conversion): Arrow serializes
        # a Series of float lists measurably faster than a Series of
        # ndarray cells
        return pd.Series(acc.tolist())

    return _f.asNondeterministic()(col)
