"""Streaming twins of the batch plans (SURVEY.md §7 M4).

Each function takes streaming DataFrame(s) built by ``sources`` and
returns a streaming DataFrame with the *same columns and values* the
batch plan yields once all watermarks pass — the batch≡streaming
equivalence the test suite asserts (SURVEY.md §5).

Watermark posture mirrors the reference (§2.7): a few seconds of
bounded out-of-orderness on behavior streams
(``OrderWideApp.java:83-100`` — 3 s), day-scale bounds on the
order/shipment join because the fixture's time unit is days.

Scale notes:
- Windowed aggregates run with partial aggregation + keyed state;
  state per (window × dims) key only, evicted at watermark.
- Stream-stream joins buffer both sides *bounded by the watermark
  and the range condition* — exactly the state Flink's interval
  join keeps (`OrderWideApp.java:101-112`).
- The exact-distinct problem (A1/A4: Spark disallows countDistinct
  on streaming aggregates) is solved the two-phase way:
  dropDuplicates on (key, window) first, count second — see
  :func:`unique_visitors_stream` (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_realtime2021_spark.streaming.state import new_visitor_flags

__all__ = [
    "visitor_stats_stream",
    "unique_visitors_stream",
    "new_visitor_repair_stream",
    "user_jump_stream",
    "order_wide_stream",
    "payment_wide_stream",
    "keyword_stats_stream",
    "asof_attribution_stream",
    "product_stats_stream",
    "exact_dedup_stream",
    "interaction_pairs_stream",
    "incremental_dedup_stream",
    "cumulate_window_stream",
    "event_transitions_stream",
]


def visitor_stats_stream(events: DataFrame, delay: str = "3 seconds") -> DataFrame:
    """A2/W1/W3 twin of plans.dws.visitor_stats (pv/dur metrics).

    ``uv_ct`` (exact distinct) is not streamable in one aggregate;
    its streaming form is :func:`unique_visitors_stream` — the
    reference likewise computes UV in its own app
    (``UniqueVisitApp``) upstream of ``VisitorStatsApp``.
    """
    win = F.window(F.col("ts"), "1 hour")
    return (
        events.withWatermark("ts", delay)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("pv_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("dur_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type",
            "pv_ct",
            "dur_sum",
        )
    )


def unique_visitors_stream(events: DataFrame, delay: str = "3 seconds") -> DataFrame:
    """T2/W7 twin of plans.dwm.unique_visitors: daily UV.

    Two chained stateful operators (Spark ≥3.4 append-mode chain):
    dropDuplicates on (user, day-window) — the watermark bounds the
    dedup state exactly like the reference's 1-day ValueState TTL
    (``UniqueVisitApp.java:49-50``) — then a count per day window.
    This is also the engine's standard two-phase exact-distinct
    pattern for streaming (SURVEY.md §4.2).
    """
    dedup = (
        events.withWatermark("ts", delay)
        .select("user_id", F.window("ts", "1 day").alias("w"))
        .dropDuplicates(["user_id", "w"])
    )
    return (
        dedup.groupBy("w")
        .agg(F.count("*").alias("uv_ct"))
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("dt"), "uv_ct")
    )


def new_visitor_repair_stream(events: DataFrame, delay: str = "3 seconds") -> DataFrame:
    """T1 twin of plans.dwm.new_visitor_repair — per-event flags.

    Emits (user_id, ts, is_new); the day-level rollup happens at the
    sink (or in the comparison test) because chaining a windowed
    aggregate behind arbitrary state is needlessly restrictive here.
    """
    return new_visitor_flags(events.withWatermark("ts", delay))


def user_jump_stream(events: DataFrame, gap_minutes: int = 30, delay: str = "0 seconds") -> DataFrame:
    """T3/W4/W8 twin of plans.dwm.user_jump_detail — bounce records
    (user_id, bounce_ts).

    A bounce is a session entry with no successor within the gap, so
    it is exactly a session of one event: one built-in
    ``session_window`` aggregate keeps the count per (user, session)
    in the engine's own state store, no Python worker. Spark merges
    sessions inclusively — an event exactly ``gap`` after the previous
    one joins its session — which is the batch rule's strict
    ``next_ts - ts > gap``; ``bounce_ts`` is the session start.

    Monotonous-watermark posture like the reference
    (``UserJumpDetailApp.java:43-48``). Append mode emits a session
    once the watermark passes its end (last event + gap): the CEP
    ``within`` timeout. The watermark a batch computes applies from
    the NEXT micro-batch, so a bounce shows up one micro-batch after
    the event that proves it.
    """
    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes").alias("s"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") == 1)
        .select("user_id", F.col("s.start").alias("bounce_ts"))
    )


def keyword_stats_stream(docs: DataFrame, delay: str = "2 seconds") -> DataFrame:
    """A3/F1/W2/W5 twin of ``KeywordStatsApp.java:42-61`` in its full
    windowed form: tokenizer UDTF → explode → count per
    (TUMBLE 10 s, keyword), window bounds re-serialized as
    ``stt``/``edt`` strings, 2 s SQL watermark.

    ``docs`` must carry (ts timestamp, text string) — the streamed
    search-log stand-in. The batch plan (plans/textops.keyword_stats)
    checks the tokenizer+count semantics against the oracle; this
    adds the windowed incremental execution.
    """
    from gmall_realtime2021_spark.functions.text import tokenize

    win = F.window("ts", "10 seconds")
    return (
        docs.withWatermark("ts", delay)
        .select("ts", F.explode(tokenize(F.col("text"))).alias("keyword"))
        .groupBy(win.alias("w"), "keyword")
        .agg(F.count("*").alias("ct"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "keyword",
            "ct",
        )
    )


def order_wide_stream(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """J1 twin of plans.dwm.order_wide — stream-stream interval join.

    Both sides watermarked; the range condition bounds join state:
    an order is held only until watermark passes orderdate+30 days,
    a line only until shipdate — Flink's interval-join state model
    (``OrderWideApp.java:101-112``) expressed declaratively.
    """
    # parquet yields TIMESTAMP_NTZ; watermarks need instant-typed TIMESTAMP.
    o = orders.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).withWatermark(
        "o_orderdate", "1 day"
    )
    l = lineitem.withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).withWatermark(
        "l_shipdate", "1 day"
    )
    return o.join(
        l,
        F.expr(
            """
            o_orderkey = l_orderkey
            AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 30 DAYS
            """
        ),
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_amount"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("create_time"),
        (F.unix_timestamp("o_orderdate") * 1000).alias("create_ts"),
        F.col("l_linenumber").cast("long").alias("detail_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_quantity").alias("sku_num"),
        F.col("l_extendedprice").alias("split_total_amount"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("ship_time"),
    )


def payment_wide_stream(pay_events: DataFrame, all_events: DataFrame) -> DataFrame:
    """J2 twin of plans.dwm.payment_wide — asymmetric interval join.

    Purchase events ⋈ the same user's events in the *prior* 30
    minutes (backward-looking window, exactly the reference's
    [−1800 s, 0] bound — ``PaymentWideApp.java:65-75``). Emits the
    joined pairs; the per-user rollup is downstream (a plain
    windowless streaming agg would need update mode).

    State bound: the purchase side holds rows only until its
    watermark; the activity side until watermark passes ts + 30 min
    — the same retention Flink's interval join derives.
    """
    pay = (
        pay_events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pay_ts"),
            F.col("event_id").alias("pay_id"),
        )
        .withWatermark("pay_ts", "3 seconds")
    )
    prior = all_events.select(
        "user_id", "ts", "event_id", "value"
    ).withWatermark("ts", "3 seconds")
    return pay.join(
        prior,
        F.expr(
            """
            user_id = p_user
            AND ts BETWEEN pay_ts - INTERVAL 30 MINUTES AND pay_ts
            AND event_id != pay_id
            """
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        F.date_format("pay_ts", "yyyy-MM-dd HH:mm:ss").alias("pay_time"),
        F.col("event_id").alias("matched_event_id"),
        "value",
    )


def asof_attribution_stream(
    events: DataFrame, lookback_minutes: int = 30, delay: str = "3 seconds"
) -> DataFrame:
    """Streaming as-of join: attribute each purchase to the latest
    view within the prior ``lookback_minutes``.

    The batch as-of (``plans/olap.asof_attribution``) looks back over
    unbounded history — that cannot stream (state would never be
    evictable). Bounding the lookback is exactly what makes the
    operator incremental, the same trade the reference makes in
    ``PaymentWideApp.java:65-75`` ([−1800 s, 0] bounds): state per
    side is then watermark + lookback.

    Shape: watermarked interval LEFT join (purchase keeps flowing
    with no view) → per-purchase argmax via ``max(struct(ts, id))``
    under a windowed aggregate so append mode can finalize. Two
    chained stateful operators — the Spark 3.4+ multi-stateful
    pipeline. On batch inputs the watermarks are no-ops and the same
    code is the bounded-lookback batch as-of (oracle-checked in
    plans/olap.py).
    """
    # Watermark the RAW stream once, then branch (the event-time tag
    # survives filter/alias). NOTE the operational caveat this does
    # NOT remove: Catalyst pushes the type filters below the
    # EventTimeWatermark node into the scan, so each join leg's
    # watermark advances only on rows *surviving that leg's filter*.
    # A quiet side (no purchases arriving) stalls eviction for the
    # whole join — production topics need per-side heartbeats (or
    # spark.sql.streaming.multipleWatermarkPolicy=max), and the
    # equivalence test drives this with typed sentinel rows.
    wm = events.withWatermark("ts", delay)
    purch = wm.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pay_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pay_ts"),
    )
    views = wm.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    joined = purch.join(
        views,
        F.expr(
            f"""
            v_user = p_user
            AND view_ts BETWEEN pay_ts - INTERVAL {lookback_minutes} MINUTES AND pay_ts
            """
        ),
        "leftOuter",
    )
    best = F.max(
        F.when(
            F.col("view_ts").isNotNull(),
            F.struct(F.col("view_ts"), F.col("view_event_id")),
        )
    ).alias("best")
    # group on unix_micros(pay_ts), not pay_ts itself: after the join
    # both sides' watermarks tag event-time columns, and a grouping
    # that retains TWO tagged columns (window(pay_ts) + raw pay_ts) is
    # rejected — the micros long carries the value without the tag.
    return (
        joined.groupBy(
            F.window("pay_ts", "1 hour"),
            "pay_id",
            "p_user",
            F.unix_micros(F.col("pay_ts")).alias("pay_us"),
        )
        .agg(best)
        .select(
            F.col("pay_id").alias("event_id"),
            F.col("p_user").alias("user_id"),
            F.date_format(F.timestamp_micros(F.col("pay_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "purchase_ts"
            ),
            F.col("best.view_event_id").alias("view_event_id"),
            F.date_format("best.view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
            (F.col("pay_us") - F.unix_micros(F.col("best.view_ts"))).alias("gap_us"),
        )
    )


def product_stats_stream(
    lineitem: DataFrame, part: DataFrame, delay: str = "1 day"
) -> DataFrame:
    """Streaming twin of the reference's flagship DWS app
    (``ProductStatsApp.java`` — A1/T4/J3/U1): stream-static broadcast
    dim join + tumbling windowed multi-metric aggregate.

    The batch plan's exact ``count(DISTINCT l_orderkey)`` cannot
    stream (per-window distinct sets are unbounded state Spark's
    append-mode agg won't hold); the streaming form uses HLL
    (``approx_count_distinct``) whose register-max merge is
    order-independent — so this job on a *batch* frame equals the
    streamed result exactly, and the error bound vs the exact batch
    plan is pinned in test_approx.py's twin pattern. Same trade the
    scale path takes at 100 TB (see ``product_stats_approx``).

    Windows are 30-day tumbles (epoch-aligned): event-time windows in
    append mode need a fixed duration, and calendar months aren't —
    the reference's 10 s windows have the same fixed-duration shape.
    Dims broadcast per micro-batch (stream-static join is stateless),
    exactly the reference's async dim lookup collapsed to a join.
    """
    li = lineitem.withColumn(
        "l_shipdate", F.col("l_shipdate").cast("timestamp")
    ).withWatermark("l_shipdate", delay)
    p = F.broadcast(part.select("p_partkey", "p_brand"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    refund = F.col("l_returnflag") == "R"
    return (
        j.groupBy(F.window("l_shipdate", "30 days"), "p_brand")
        .agg(
            F.count("*").alias("item_ct"),
            F.approx_count_distinct("l_orderkey").alias("order_ct_approx"),
            F.sum(dec2("l_quantity")).cast("double").alias("order_sku_num"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("order_amount"),
            F.sum(F.when(refund, 1).otherwise(0)).cast("long").alias("refund_ct"),
            F.sum(F.when(refund, dec2("l_extendedprice")).otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double")
            .alias("refund_amount"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "p_brand",
            "item_ct",
            "order_ct_approx",
            "order_sku_num",
            "order_amount",
            "refund_ct",
            "refund_amount",
        )
    )


def exact_dedup_stream(events: DataFrame, delay: str = "10 seconds") -> DataFrame:
    """At-least-once → effectively-once ingest dedup: drop redelivered
    copies of an event by id, holding each key only ``delay`` of
    event time (``dropDuplicatesWithinWatermark``). This is the tool
    for the reference's Kafka redelivery case — retransmitted records
    carry the *same* event_id but may arrive with slightly different
    ingest timestamps, which plain ``dropDuplicates(id, window)``
    mishandles at window edges and unbounded ``dropDuplicates(id)``
    handles only with infinite state. State is bounded by the
    watermark delay regardless of key cardinality.
    """
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["event_id"])


def interaction_pairs_stream(events: DataFrame, window_minutes: int = 30, delay: str = "3 seconds") -> DataFrame:
    """FULL-OUTER stream-stream interval join — the last join mode the
    streaming surface needed (inner: ``order_wide_stream``, left:
    ``asof_attribution_stream``): purchases ⟗ views of the same user
    within ±``window_minutes``. Unmatched rows on EITHER side emit
    (with nulls) once the watermark passes their join range — the
    reconciliation shape (`order_event_reconciliation`) running
    continuously instead of as a batch audit.

    State bound: both sides hold rows only until the watermark clears
    their time range — identical retention math to the inner interval
    join, plus the null-emitting timers.
    """
    wm = events.withWatermark("ts", delay)
    purch = wm.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pay_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pay_ts"),
    )
    views = wm.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    joined = purch.join(
        views,
        F.expr(
            f"""
            p_user = v_user
            AND view_ts BETWEEN pay_ts - INTERVAL {window_minutes} MINUTES
                            AND pay_ts + INTERVAL {window_minutes} MINUTES
            """
        ),
        "fullOuter",
    )
    return joined.select(
        F.coalesce(F.col("p_user"), F.col("v_user")).alias("user_id"),
        F.coalesce(F.col("pay_id"), F.lit(-1)).alias("pay_id"),
        F.coalesce(F.col("view_id"), F.lit(-1)).alias("view_id"),
        F.when(F.col("pay_id").isNotNull() & F.col("view_id").isNotNull(), 1)
        .otherwise(0)
        .alias("matched"),
    )


def incremental_dedup_stream(
    incoming: DataFrame,
    existing: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming twin of the ``dedup_incremental`` plan: a STREAM of
    incoming documents probed against the STATIC corpus index — the
    continuous form of the daily-delivery dedup (each micro-batch is
    a delivery).

    Emits one row per incoming doc that near-duplicates the corpus
    (same columns/values as the batch plan's ``is_dup = 1`` rows;
    clean docs emit nothing — a stream cannot prove absence, the
    batch plan's left join is the closing audit).

    Shape notes vs the batch operator: the stream side carries its
    shingle array THROUGH the band explode (4× the array in flight)
    because re-joining it afterwards would be a stream-stream
    self-join needing event-time watermarks documents don't have;
    deliveries are small, the corpus index is the big static side,
    so the trade is right. The pair-dedup (`dropDuplicates`) state is
    keyed by (incoming, existing) pair and never evicted — bounded by
    matches per delivery window; a deployment restarts the query per
    delivery day (availableNow), which resets it.
    """
    from gmall_realtime2021_spark.functions.text_arrow import shingles_and_minhash_arrow
    from gmall_realtime2021_spark.operators.dedup import MINHASH_COEFFS, _band_keys

    def sig(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "doc_id",
                shingles_and_minhash_arrow(F.col("text"), n, MINHASH_COEFFS).alias("sm"),
            )
            .select(
                F.col("doc_id").alias("id"),
                F.col("sm.sh").alias("sh"),
                F.col("sm.mh").alias("mh"),
            )
            .filter(F.size("sh") > 0)
        )

    inc = sig(incoming)
    # the static corpus index is re-evaluated by EVERY micro-batch of a
    # stream-static join — persist it once at query construction so a
    # batch pays delivery-sized work, not a corpus rescan + re-hash
    from pyspark import StorageLevel

    ex = sig(existing).persist(StorageLevel.MEMORY_AND_DISK)
    from gmall_realtime2021_spark.operators.dedup import _LIVE_CACHES

    _LIVE_CACHES.append(ex)
    inb = inc.select(
        F.col("id").alias("inc"),
        F.col("sh").alias("sha"),
        F.explode(_band_keys("mh")).alias("band_key"),
    )
    exb = ex.select(F.col("id").alias("ex"), F.explode(_band_keys("mh")).alias("band_key"))
    shb = ex.select(F.col("id").alias("ex"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = F.round(inter.cast("double") / union, 6)
    matched = (
        inb.join(exb, "band_key")
        .dropDuplicates(["inc", "ex"])
        .join(shb, "ex")
        .select("inc", "ex", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    best = F.max(F.struct(F.col("jaccard"), (-F.col("ex")).alias("neg_ex"))).alias("b")
    return (
        matched.groupBy("inc")
        .agg(F.count("*").alias("match_ct"), best)
        .select(
            F.col("inc").alias("doc_id"),
            F.lit(1).alias("is_dup"),
            "match_ct",
            (-F.col("b.neg_ex")).alias("best_match_id"),
            F.col("b.jaccard").alias("best_jaccard"),
        )
    )


def cumulate_window_stream(events: DataFrame, delay: str = "3 seconds") -> DataFrame:
    """Streaming CUMULATE windows (the batch plan
    ``cumulate_window_stats``'s expressions under a watermark): each
    event expands STATELESSLY to its ≤4 step-end windows, then one
    windowed-style aggregate keyed on (window_start, window_end)
    holds the only state. Early step windows emit before the hour
    closes — the entire point of CUMULATE. Update mode; each (ws, we)
    key's final emission equals the batch row (batch≡stream pinned).
    """
    # group on window(ts, 1 hour) — a window OVER THE WATERMARKED
    # column — plus the small step index k, NOT on derived timestamp
    # expressions: only the former carries the event-time tag, so
    # state for closed hours is EVICTED at the watermark instead of
    # growing one entry per step window forever (the continuous-mode
    # hazard; availableNow tests can't see it)
    expanded = (
        events.withWatermark("ts", delay)
        .select("ts", "value", F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"))
        .filter(
            F.col("ts")
            < F.date_trunc("hour", F.col("ts")) + F.expr("make_interval(0, 0, 0, 0, 0, 15 * k, 0)")
        )
    )
    return (
        expanded.groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(
            F.count("*").alias("event_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format(
                F.col("w.start") + F.expr("make_interval(0, 0, 0, 0, 0, 15 * k, 0)"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_end"),
            "event_ct",
            "value_sum",
        )
    )

def event_transitions_stream(events: DataFrame) -> DataFrame:
    """Streaming behavior-path mining: the keyed-state lag
    (``state.transition_pairs``) emits (prev, next) event-type pairs
    continuously — including pairs that straddle micro-batch
    boundaries, which the per-user ValueState carries. The raw pair
    stream is returned (one stateful operator per query); a grouped
    count over it is the batch plan ``event_transitions``, asserted
    equal in the batch≡stream pin.
    """
    from gmall_realtime2021_spark.streaming.state import transition_pairs

    return transition_pairs(events)

