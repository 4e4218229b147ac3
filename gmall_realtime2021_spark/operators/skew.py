"""Skew mitigation for hot join keys (SURVEY.md §4 scale posture).

First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`,
on in session.py) which splits oversized sort-merge partitions at
runtime. This module covers the case AQE cannot: a shuffled join
whose *build/right side is small enough to replicate but too big (or
too dynamic) to broadcast*, with a few pathologically hot keys on
the probe side.

``salted_join`` is the classic replicate-and-salt rewrite: the probe
side gets a per-row salt in [0, n); the build side is exploded n×
(one copy per salt); the join key becomes (key, salt), so one hot
key's rows spread over n reducers instead of one. The salt is
derived from ``monotonically_increasing_id`` — it varies per row
(that's the point) but never reaches the output, so results are
identical to the plain join (the unit test asserts set equality).

Cost model: build side shuffles n× its size; probe side unchanged.
Choose n ≈ (hot-key rows / target-partition rows); single digits
usually suffice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join"]


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str] | str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``probe ⋈ build`` on column(s) ``on`` with the build
    side replicated ``n_salt``× so hot probe keys fan out.

    Supported ``how``: inner / left (semantics of the plain join are
    preserved; the salt columns are internal and dropped).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how in {'inner', 'left'}")
    if n_salt < 1:
        raise ValueError(f"salted_join needs n_salt >= 1, got {n_salt}")
    keys = [on] if isinstance(on, str) else list(on)
    p = probe.withColumn("_salt", (F.monotonically_increasing_id() % n_salt).cast("int"))
    b = build.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    out = p.join(b, keys + ["_salt"], how)
    return out.drop("_salt")
