"""App-level wiring — the reference's one-main-per-layer topology.

The reference runs each layer as its own Flink job (``app/dwd``,
``app/dwm``, ``app/dws`` mains) chained through Kafka topics. This
engine keeps that operational shape: an *app* = one streaming query =
source → job (streaming/jobs.py) → sink (streaming/sinks.py) +
checkpoint. Apps take a :class:`AppConfig` so the same wiring runs
against Kafka (production) or file replay (tests/local).

SURVEY.md §3.1/§3.3 mapping:

==================  ==========================================
Reference main      App here
==================  ==========================================
BaseDBApp           ``cdc_routing_app`` (S10→R3→S3/S5 fan-out)
UniqueVisitApp      ``unique_visitors_app``
UserJumpDetailApp   ``user_jump_app``
OrderWideApp        ``order_wide_app``
PaymentWideApp      ``payment_wide_app``
VisitorStatsApp     ``visitor_stats_app``
==================  ==========================================

Each ``*_app`` returns the started ``StreamingQuery`` — callers own
lifecycle (``awaitTermination``/``stop``). Checkpointing is always
on (the reference enables it per-app, SURVEY §2.12); sinks are
idempotent foreachBatch writers, so replay after failure is safe.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gmall_realtime2021_spark.operators.routing import route_by_config
from gmall_realtime2021_spark.sources import maxwell_cdc_parse
from gmall_realtime2021_spark.streaming import jobs as J
from gmall_realtime2021_spark.streaming import sinks as S

__all__ = [
    "AppConfig",
    "base_log_app",
    "cdc_routing_app",
    "unique_visitors_app",
    "user_jump_app",
    "order_wide_app",
    "payment_wide_app",
    "visitor_stats_app",
    "asof_attribution_app",
    "event_transitions_app",
    "warehouse_ingest_app",
]


@dataclass(frozen=True)
class AppConfig:
    """Where an app writes and checkpoints.

    ``out_dir`` — base directory for file sinks (per-app subdirs).
    ``checkpoint_dir`` — Structured Streaming checkpoint root.
    ``trigger_available_now`` — drain-and-stop (tests/backfill) vs
    continuous micro-batches (production).
    """

    out_dir: str
    checkpoint_dir: str
    trigger_available_now: bool = False

    def sink_path(self, app: str) -> str:
        return os.path.join(self.out_dir, app)

    def ckpt(self, app: str) -> str:
        return os.path.join(self.checkpoint_dir, app)


def _start(df: DataFrame, fn, app: str, cfg: AppConfig) -> StreamingQuery:
    w = df.writeStream.foreachBatch(fn).option("checkpointLocation", cfg.ckpt(app))
    if cfg.trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def base_log_app(events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    """BaseLogApp twin (`BaseLogApp.java:213-257`): one parsed stream,
    three side-output branches — start / page / error — each written
    to its own destination from a single foreachBatch (one source
    scan per micro-batch feeds all three sinks; on a cluster the
    three writes target dwd_start_log / dwd_page_log / dwd_error_log
    topics via the Kafka sink instead of parquet dirs).

    The input is instrumented with observable metrics (`observe`):
    per-batch row counts and the newest event time land in each
    StreamingQueryProgress — the zero-cost ingest dashboard signal
    (lag = wall clock − max_ts) a production deployment alerts on,
    computed inside the existing batch, no extra pass."""
    events = events.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.max("ts").alias("max_ts"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("error_rows"),
    )

    def write(batch: DataFrame, batch_id: int) -> None:
        # persist: each branch write is its own action, and without it
        # the batch plan (and upstream source read) re-executes per
        # branch — three scans instead of one, and observe metrics
        # triple-counted. Persist makes "one scan feeds all sinks"
        # actually true.
        batch.persist()
        try:
            branches = {
                "start": batch.filter(F.col("event_type") == "signup"),
                "page": batch.filter(F.col("event_type").isin("view", "click", "purchase")),
                "error": batch.filter(F.col("event_type") == "error"),
            }
            for name, df in branches.items():
                df.select("event_id", "user_id", "event_type", "ts").write.mode(
                    "append"
                ).parquet(cfg.sink_path(f"log/{name}"))
        finally:
            batch.unpersist()

    return _start(events, write, "base_log", cfg)


def cdc_routing_app(cdc_raw: DataFrame, config: DataFrame, cfg: AppConfig) -> StreamingQuery:
    """BaseDBApp twin: Maxwell stream → config routing → dims upserted
    by pk (S5), facts routed per-``sink_table`` (S3, file-backed; swap
    the fact branch to ``dynamic_topic_kafka`` + kafka format on a
    cluster with brokers).

    Within a micro-batch each dim id keeps the record with the
    greatest Maxwell ``ts``. That ``ts`` is in seconds, so two changes
    to one id within the same second tie, and which of them wins is
    undefined."""
    routed = route_by_config(maxwell_cdc_parse(cdc_raw), config)

    def write(batch: DataFrame, batch_id: int) -> None:
        # persist: 2 + per-dim-table actions below — without it each
        # one re-runs the parse+route plan and re-reads the source
        batch.persist()
        try:
            dims = batch.filter(F.col("sink_type") == "hbase")
            for row in dims.select("sink_table").distinct().collect():
                table_rows = (
                    dims.filter(F.col("sink_table") == row.sink_table)
                    .groupBy(F.col("data")["id"].alias("id"))
                    .agg(F.max_by(F.to_json("data"), "ts").alias("payload"))
                )
                S.dim_upsert_batch(table_rows, cfg.sink_path(f"dim/{row.sink_table}"), pk="id")
            facts = batch.filter(F.col("sink_type") == "kafka").select(
                "sink_table", F.to_json("data").alias("value")
            )
            S.dynamic_route_files(cfg.sink_path("facts"))(facts, batch_id)
        finally:
            batch.unpersist()

    return _start(routed, write, "cdc_routing", cfg)


def unique_visitors_app(events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    return _start(
        J.unique_visitors_stream(events),
        S.stats_store_sink(cfg.sink_path("unique_visitors")),
        "unique_visitors",
        cfg,
    )


def user_jump_app(events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    """UserJumpDetailApp twin. Its state is a ``session_window``
    aggregate; a ``user_jump`` checkpoint written by the earlier
    ``applyInPandasWithState`` operator has a different state schema
    and cannot be resumed — discard it (and rebuild the sink from the
    source) before starting this app against it."""
    return _start(
        J.user_jump_stream(events),
        S.stats_store_sink(cfg.sink_path("user_jump")),
        "user_jump",
        cfg,
    )


def order_wide_app(orders: DataFrame, lineitem: DataFrame, cfg: AppConfig) -> StreamingQuery:
    return _start(
        J.order_wide_stream(orders, lineitem),
        S.stats_store_sink(cfg.sink_path("order_wide")),
        "order_wide",
        cfg,
    )


def payment_wide_app(pay_events: DataFrame, all_events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    return _start(
        J.payment_wide_stream(pay_events, all_events),
        S.stats_store_sink(cfg.sink_path("payment_wide")),
        "payment_wide",
        cfg,
    )


def visitor_stats_app(events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    """VisitorStatsApp twin; the ``ts`` column is dropped at the sink
    like the reference's ``@TransientSink`` processing-time field."""
    return _start(
        J.visitor_stats_stream(events),
        S.stats_store_sink(cfg.sink_path("visitor_stats")),
        "visitor_stats",
        cfg,
    )


def asof_attribution_app(events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    """Extension app (no reference twin): the bounded-lookback
    streaming as-of join — last-touch attribution written to the
    stats store. Same operational contract as the reference apps:
    one query, one checkpoint, idempotent sink."""
    return _start(
        J.asof_attribution_stream(events),
        S.stats_store_sink(cfg.sink_path("asof_attribution")),
        "asof_attribution",
        cfg,
    )


def event_transitions_app(events: DataFrame, cfg: AppConfig) -> StreamingQuery:
    """Extension app: the keyed-state transition miner
    (``jobs.event_transitions_stream``) continuously appending
    (prev, next) pairs to the stats store — the operational wiring
    for the Markov-matrix input that ``transition_probs`` reports on.
    Same contract as every app: one query, one checkpoint,
    idempotent sink."""
    return _start(
        J.event_transitions_stream(events),
        S.stats_store_sink(cfg.sink_path("event_transitions")),
        "event_transitions",
        cfg,
    )


def warehouse_ingest_app(
    stream: DataFrame, sf_dir: str, cfg: AppConfig, layout: str
) -> StreamingQuery:
    """Continuous ingest into a MATERIALIZED warehouse layout
    (``sources/warehouse.py``) — the operational wiring that keeps
    the query-serving layouts current, the way the reference's sink
    apps keep their ClickHouse tables current
    (``ClickHouseUtil.java:31-76``). One query, one checkpoint, the
    layout's own idempotence contract:

    ==================  ================================================
    layout              sink
    ==================  ================================================
    ``lineitem``        replay-guarded bucketed append (orderkey buckets;
                        auto-compacts past the file threshold)
    ``orders``          same, orders side
    ``event_days``      per-day generation replace in the day log
                        (idempotent by construction)
    ``event_days_bucketed``  same complete-day contract into the
                        composed day+user SERVING layout (freshly
                        bucketed days, untouched days hardlinked;
                        r13)
    ``embeddings``      cell-assigned append into the at-rest IVF index
                        (replay-guarded, per-cell auto-compaction)
    ``payment_enrich``  bucketed events append + incremental merge of the
                        bounded enrich serving store (r13; bootstraps on
                        first start — the streaming twin of the
                        reference's PaymentWideApp)
    ==================  ================================================

    The serving plans (``bucketed_order_wide``, ``bucketed_payment_wide``,
    ``events_daily_partitioned``, ``ann_ivf_partitioned``) read the same
    layouts — their zero-shuffle / partition-pruning properties survive
    ingest by construction (pinned in tests/test_sinks.py).
    """
    from gmall_realtime2021_spark.sources import warehouse as W

    spark = stream.sparkSession

    if layout in ("lineitem", "orders"):
        orders_t, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
        table, key = (
            (lineitem_t, "l_orderkey") if layout == "lineitem" else (orders_t, "o_orderkey")
        )

        def write(batch: DataFrame, batch_id: int) -> None:
            W.append_bucketed_batch(spark, table, batch, batch_id, key)

    elif layout == "event_days":

        def write(batch: DataFrame, batch_id: int) -> None:
            W.upsert_event_days(spark, sf_dir, batch, batch_id)

    elif layout == "event_days_bucketed":
        W.ensure_day_bucketed_events(spark, sf_dir)

        def write(batch: DataFrame, batch_id: int) -> None:
            W.upsert_day_bucketed_events(spark, sf_dir, batch, batch_id)

    elif layout == "embeddings":
        W.ensure_ivf_embeddings(spark, sf_dir)

        def write(batch: DataFrame, batch_id: int) -> None:
            W.append_ivf_batch(spark, sf_dir, batch, batch_id)

    elif layout == "payment_enrich":
        from gmall_realtime2021_spark.streaming.sinks import (
            payment_enrich_bootstrap,
            payment_enrich_upsert_batch,
        )

        store = cfg.sink_path("payment_enrich_store")
        if not os.path.isdir(store):
            payment_enrich_bootstrap(spark, sf_dir, store)

        def write(batch: DataFrame, batch_id: int) -> None:
            payment_enrich_upsert_batch(spark, sf_dir, batch, batch_id, store)

    else:
        raise ValueError(
            f"unknown layout {layout!r}; expected "
            "lineitem/orders/event_days/event_days_bucketed/embeddings/payment_enrich"
        )
    return _start(stream, write, f"warehouse_{layout}", cfg)
