"""SparkSession factory with the engine's execution conventions.

Scale posture (tuned for a real cluster, exercised on local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace the reference's
  hand-tuned parallelism (``BaseLogApp.java:121``,
  ``OrderWideApp.java:36`` pick 1/4 statically).
- ``spark.sql.session.timeZone=UTC``: the oracle (DuckDB) compares
  naive timestamps; a fixed zone keeps window bounds and
  ``date_format`` output engine-independent. (The reference hard-codes
  UTC+8 in ``DateTimeUtil.java:39``; zone is a config, not a
  semantic, in this engine.)
- Arrow enabled for the Pandas-UDF slow path (tokenizer fallback,
  multimodal decode) — vectorized batches, never row-at-a-time.
- Shuffle partition count defaults to ``SPARK_GRAFT_CPUS`` (driver
  contract) and is meant to be overridden upward on a real cluster;
  AQE coalesces it back down when volumes are small.
- Python workers start from the engine's daemon
  (``spark.python.daemon.module`` = ``worker_daemon``), which stops the
  per-task ``importlib.invalidate_caches()`` from re-reading
  ``pyspark.zip`` on Python < 3.12 (150-400 ms per task). The conf is
  static, so only sessions built by ``get_spark`` get it; driver-handed
  sessions keep the stock daemon. ``get_spark`` also appends the
  engine's root directory to the workers' ``PYTHONPATH``, so the daemon
  and the engine's UDF modules import whatever the driver's cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ENGINE_CONFIG"]


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Conventions applied to every session this engine creates *and*
#: (via ``apply_engine_config``) to driver-provided sessions.
ENGINE_CONFIG: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # At 100 TB a 10 MB broadcast threshold is too timid for the dim
    # tables this engine joins (region/nation/part-style dims are
    # O(100 MB) at most); joins that must broadcast are also hinted
    # explicitly with broadcast() at the call site.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Ansi off: the reference's schema-on-read JSON access is
    # silently-null on missing/malformed fields (VisitorStatsApp.java:65-74).
    "spark.sql.ansi.enabled": "false",
    # events.parquet carries TIMESTAMP(NANOS); read as long, convert in tables.load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let bucketed scans report their per-bucket sort order (Spark 3.0
    # dropped it by default, SPARK-28595; it only engages when a bucket
    # is a single file, which sources/warehouse.py guarantees) — the
    # bucketed fact-fact join then skips the per-query Sort as well as
    # the Exchange. Correctness-neutral: Spark verifies the
    # one-file-per-bucket precondition before trusting the order.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Static: a session the driver hands in keeps pyspark.daemon.
    "spark.python.daemon.module": "gmall_realtime2021_spark.worker_daemon",
}

#: the directory holding this package
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "gmall-realtime2021-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine conventions applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_default_parallelism()}]")
    builder = builder.config("spark.sql.shuffle.partitions", str(_default_parallelism()))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, v in ENGINE_CONFIG.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_engine_config(spark)
    # Every Python function ships this dict (``spark.executorEnv.*`` as
    # configured) to its workers; appending the engine root keeps any
    # configured path and needs no JVM before the builder launches it.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ENGINE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _ENGINE_ROOT])
    return spark


def apply_engine_config(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conventions to an existing session.

    The driver hands us its own SparkSession; correctness-critical
    settings (time zone, ANSI mode) must hold there too. Only
    runtime-mutable confs are set.
    """
    for k, v in ENGINE_CONFIG.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — builder path already covers it
    return spark
