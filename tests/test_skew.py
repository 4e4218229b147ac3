"""salted_join correctness: identical results to the plain join on a
deliberately skewed key distribution, inner and left."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime2021_spark.operators.skew import salted_join


def _fixtures(spark):
    # 10k rows of one hot key + a tail, vs a 3-row build side
    probe = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    build = spark.createDataFrame([(1, "hot"), (2, "warm"), (999, "missing")], "k long, label string")
    return probe, build


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_salted_inner_equals_plain(spark):
    probe, build = _fixtures(spark)
    assert _rows(salted_join(probe, build, "k", n_salt=8)) == _rows(probe.join(build, "k"))


def test_salted_left_equals_plain(spark):
    probe, build = _fixtures(spark)
    got = salted_join(probe, build, "k", n_salt=4, how="left")
    assert _rows(got) == _rows(probe.join(build, "k", "left"))


def test_build_side_replicated(spark):
    """One hot key whose probe rows draw every salt 0..5 (one partition:
    ``monotonically_increasing_id`` is 0..5): each row finds the build
    row only if the build side carries a copy for its salt."""
    n_salt = 6
    probe = spark.range(n_salt, numPartitions=1).select(F.lit(1).alias("k"), F.col("id").alias("payload"))
    build = spark.createDataFrame([(1, "hot")], "k long, label string")
    got = salted_join(probe, build, "k", n_salt=n_salt)
    assert sorted(r.payload for r in got.collect()) == list(range(n_salt))


@pytest.mark.parametrize("n_salt", [0, -1])
def test_salted_join_rejects_n_salt_below_one(spark, n_salt):
    probe, build = _fixtures(spark)
    with pytest.raises(ValueError, match="n_salt"):
        salted_join(probe, build, "k", n_salt=n_salt)
