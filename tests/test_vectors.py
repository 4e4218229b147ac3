"""Value-identity pins for the SQL-rendered vector kernels
(``functions/vectors.py``) and the IVF probe that uses them: the SQL
fold equals numpy's sequential fold, the query-side SQL centroid
scores equal the corpus-side Arrow scores, and every kernel constant
survives its literal rendering bit for bit."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECT
from gmall_realtime2021_spark.functions.vectors import dot, lit_array, norm
from gmall_realtime2021_spark.operators import similarity as S
from gmall_realtime2021_spark.tables import load


def _bits(values) -> list[bytes]:
    return [struct.pack("<d", v) for v in values]


def _fold(a: np.ndarray, b: np.ndarray) -> float:
    # sequential left fold from 0.0, the engine's portability contract
    acc = 0.0
    for x, y in zip(a.astype(np.float64), b.astype(np.float64)):
        acc = acc + float(x) * float(y)
    return acc


def test_sql_dot_and_norm_equal_a_sequential_fold(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, rng.standard_normal(64).astype(np.float32).tolist(), rng.standard_normal(64).astype(np.float32).tolist())
        for i in range(40)
    ]
    rows.append((40, [0.0] * 63 + [-0.0], [1e-30] * 64))
    rows.append((41, [3.4e38] + [1.0] * 63, [1e-38] * 64))
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>")
    got = df.select("i", dot("a", "b").alias("d"), norm("a").alias("n")).orderBy("i").collect()
    for (i, a, b), r in zip(rows, got):
        va, vb = np.asarray(a, np.float32), np.asarray(b, np.float32)
        assert _bits([r["d"], r["n"]]) == _bits([_fold(va, vb), math.sqrt(_fold(va, va))]), i


def test_probe_scores_equal_arrow_cell_scores_bit_for_bit(spark):
    emb = load(spark, SF_CORRECT, "embeddings")
    got = emb.select(
        S._probe_scores("embedding").alias("jvm"), S._cell_scores("embedding").alias("arrow")
    ).collect()
    assert len(got) > 100
    for r in got:
        assert _bits(r["jvm"]) == _bits(r["arrow"])


_CONSTANTS = {
    "LSH_PLANES": S.LSH_PLANES,
    "IVF_CENTROIDS": S.IVF_CENTROIDS,
    "IVF_C2": S.IVF_C2,
    "NEARDUP_PLANES": S.NEARDUP_PLANES,
    "PQ_BOOKS": S.PQ_BOOKS,
    "PQ_C2": S.PQ_C2,
    "PQ_PADDED": S.PQ_PADDED,
    "edges": [-0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1.7976931348623157e308, 0.1, 1e-05, 1e22],
}


def _flat(x) -> list[float]:
    return [v for e in x for v in _flat(e)] if isinstance(x, list) else [x]


def test_every_kernel_constant_round_trips_through_lit_array(spark):
    row = spark.range(1).select(*[F.expr(lit_array(v)).alias(k) for k, v in _CONSTANTS.items()]).first()
    for name, values in _CONSTANTS.items():
        assert np.shape(row[name]) == np.shape(values), name
        assert _bits(_flat(row[name])) == _bits(_flat(values)), name


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_lit_array_rejects_non_finite(bad):
    with pytest.raises(ValueError):
        lit_array([0.5, bad])
    with pytest.raises(ValueError):
        lit_array([[0.5], [bad]])


@pytest.mark.parametrize("n_probe", [0, 17])
@pytest.mark.parametrize("op", ["ivf_topk", "ivf_topk_at_rest", "ivf_pq_topk", "ivf_pq_rerank_topk"])
def test_ivf_operators_reject_n_probe_outside_cells(spark, op, n_probe):
    assert len(S.IVF_CENTROIDS) == 16
    emb = spark.createDataFrame([(0, [0.1] * 64)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="n_probe"):
        getattr(S, op)(emb, emb, n_probe=n_probe)
