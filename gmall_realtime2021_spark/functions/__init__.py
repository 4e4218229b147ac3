"""Scalar / array function surface (SURVEY.md §2.10-2.11).

Everything here is built from JVM-side ``pyspark.sql.functions``
(higher-order array functions, no Python row UDFs) so the hot path
stays inside Catalyst. Each function that participates in an oracle
check has a documented DuckDB-SQL twin producing bit-identical
values.
"""

from gmall_realtime2021_spark.functions.text import (
    POLY_MOD,
    POLY_MULT,
    char_codes,
    minhash_coeffs,
    poly_hash,
    shingles,
    tokenize,
)
from gmall_realtime2021_spark.functions.vectors import dot, norm

__all__ = [
    "POLY_MOD",
    "POLY_MULT",
    "char_codes",
    "dot",
    "minhash_coeffs",
    "norm",
    "poly_hash",
    "shingles",
    "tokenize",
]
