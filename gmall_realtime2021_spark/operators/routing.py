"""Config-driven dynamic routing (R3) — the ``TableProcessFunction``
re-expression.

Reference behavior (``TableProcessFunction.java:159-199`` +
``BaseDBApp.java:49-68``): every CDC record looks up
``(source_table, operate_type)`` in a MySQL config table refreshed
every 5 s; the match attaches ``sink_table``, projects the payload to
``sink_columns``, and routes to HBase (dims) or Kafka (facts).

Spark design: the config is a small DataFrame broadcast-joined onto
the stream; the per-record topic is just a ``sink_table`` column the
Kafka sink honors (S3); the 5 s poll becomes a per-micro-batch
re-read inside ``foreachBatch`` (streaming/sinks.py). Column
projection by config happens via ``map_filter`` on the payload map —
schema-on-read like the reference, no per-table codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["route_by_config"]


def route_by_config(
    records: DataFrame,
    config: DataFrame,
    table_col: str = "table",
    type_col: str = "type",
    data_col: str = "data",
) -> DataFrame:
    """Join records with the routing config and project payload keys.

    ``records``: columns (table, type, ts, data map<string,string>,
    ...) — the Maxwell envelope.
    ``config``:  (source_table, operate_type, sink_type, sink_table,
    sink_columns CSV).

    Returns EXACTLY (source_table, operate_type, sink_type,
    sink_table, data-projected-to-sink_columns, ts) — other record
    columns are dropped on purpose (the reference forwards only the
    payload to its sinks). Maxwell's ``ts`` (commit time, seconds)
    rides along so a dim upsert can keep each key's newest record.
    Unmatched records are dropped, like the reference's no-config
    warning path (``TableProcessFunction.java:193-197``).
    Maxwell's ``bootstrap-insert`` is normalized to ``insert``
    (``TableProcessFunction.java:166-170``).
    """
    typ = F.when(F.col(type_col) == "bootstrap-insert", "insert").otherwise(F.col(type_col))
    rec = records.withColumn("_op", typ)
    cfg = config.withColumn("_cols", F.split(F.col("sink_columns"), ","))
    joined = rec.join(
        F.broadcast(cfg),
        (rec[table_col] == cfg.source_table) & (F.col("_op") == cfg.operate_type),
        "inner",
    )
    projected = F.map_filter(
        F.col(data_col), lambda k, _v: F.array_contains(F.col("_cols"), k)
    )
    return joined.select(
        rec[table_col].alias("source_table"),
        F.col("_op").alias("operate_type"),
        "sink_type",
        "sink_table",
        projected.alias(data_col),
        rec["ts"],
    )
