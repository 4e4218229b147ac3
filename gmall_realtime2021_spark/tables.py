"""Loaders for the deterministic test star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.

Every plan reads through :func:`load` so projections/filters written
against the returned DataFrame push down into the parquet scan
(Catalyst handles pruning; nothing is cached eagerly here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["TABLES", "DIM_TABLES", "load", "default_sf_dir"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — always broadcast-join these (SURVEY.md §2.4 J3).
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # Older fixture generations wrote events.ts as parquet
            # TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
            # with spark.sql.legacy.parquet.nanosAsLong (session.py) it
            # arrives as epoch-nanos LongType. Truncate to micros with
            # *integer* division — float division of int64 nanos exceeds
            # double's 53-bit mantissa — matching DuckDB's own
            # nanos→micros truncation, then restore TimestampType.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Current fixtures write TIMESTAMP(MICROS) (no zone). The
            # session zone is pinned to UTC, so casting NTZ→TimestampType
            # is value-preserving; downstream windows/watermarks and the
            # driver's Arrow-level compare then see one timestamp flavor
            # regardless of fixture generation.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def fan_out(df: DataFrame, *by: str) -> DataFrame:
    """Repartition to cluster parallelism — but only when the input is
    under-partitioned.

    For CPU-heavy per-row operators (tokenize/hash/vector folds) fed
    by a *narrow* scan: the test parquet files are single-row-group,
    so Spark cannot split them and the whole map stage lands on one
    core. A shuffle of the (small) raw rows buys back full
    parallelism. It never changes results (row order is never
    semantic in these plans; hash partitioning is deterministic).

    With ``by`` columns the shuffle is a HASH repartition on those
    keys instead of round-robin. Two reasons to prefer it when the
    plan aggregates/joins on a key (guide §2.4/§2.5): (a) keyless
    ``repartition(n)`` first pays a local sort of every column
    (``spark.sql.execution.sortBeforeRepartition``, SPARK-23207)
    while hash partitioning ships rows as-is, and (b) when ``by`` is
    a subset of a downstream groupBy/join key set, the exchange is
    *reused* — Catalyst proves HashPartitioning(by) satisfies the
    clustering and plans no second shuffle, so the fan-out is the
    only exchange the aggregate pays. Pick a high-cardinality key so
    the hash spreads (l_orderkey: ~150k distinct at sf0.1).

    On a real cluster the scan already yields thousands of splits —
    there the repartition would be a pointless full-table shuffle, so
    it's skipped when the plan's partitioning already meets the
    cluster parallelism (``getNumPartitions`` inspects the physical
    plan; it launches no job).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming:
        # no static partitioning to inspect; sources size their own
        # splits (Kafka: partitions, files: maxFilesPerTrigger)
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        current = 1
    if current >= target:
        return df
    if by:
        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)


def input_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of a table's parquet input (file or directory) —
    the cheap, estimate-free size signal for scale-gating plan hints
    (e.g. a broadcast hint that is right at fixture scale and an OOM
    at cluster scale). Returns ``None`` (size unknown) when the path
    is missing or not on the local filesystem (``s3a://``,
    ``hdfs://`` …), so a scale gate fails closed: callers skip the
    hint and degrade to their un-hinted form."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return None
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
