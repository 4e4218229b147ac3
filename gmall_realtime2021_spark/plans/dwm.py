"""DWM layer — interval joins, dim enrichment, stateful derivations
(SURVEY.md §2.4, §2.6).

Reference apps re-expressed on the star schema (FIXTURES.md §3 maps
orders↔order_info, lineitem↔order_detail, events↔behavior log):

- ``OrderWideApp`` (J1/J3/P9)   → order_wide
- ``PaymentWideApp`` (J2/P9)    → payment_wide
- ``weidu_join`` (J4)           → temporal dim join
- ``Demo2_join`` (J5/A6)        → interval left join + conditional agg
- ``UniqueVisitApp`` (T2/W7)    → daily UV dedup
- ``BaseLogApp`` is_new repair (T1) → new-visitor repair
- ``UserJumpDetailApp`` (T3/W8) → bounce detection (CEP → lead/lag)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.plans.registry import register
from gmall_realtime2021_spark.tables import fan_out, load


#: The order_wide result contract, shared with ``bucketed_order_wide``
#: (the layout is value-invisible).
ORDER_WIDE_ORACLE = """
    SELECT o_orderkey AS order_id,
           o_custkey AS user_id,
           o_orderstatus AS order_status,
           o_totalprice AS total_amount,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
           CAST(epoch(o_orderdate) AS BIGINT) * 1000 AS create_ts,
           l_linenumber AS detail_id,
           l_partkey AS sku_id,
           l_quantity AS sku_num,
           l_extendedprice AS split_total_amount,
           strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_time
    FROM orders JOIN lineitem
      ON o_orderkey = l_orderkey
     AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 30 DAY
    """


@register(
    "order_wide",
    oracle=ORDER_WIDE_ORACLE,
    covers=("J1", "P2", "P9", "W3", "J6"),
)
def order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: order header ⋈ order detail within a time bound.

    Re-expression of ``OrderWideApp.java:101-112``: keyBy(order id),
    ``intervalJoin`` detail.ts ∈ [info.ts−5 ms, info.ts+5 ms], emit
    the flat OrderWide field-union (``OrderWide.java:58-91``). Batch
    semantics = equi-join on the key plus the range predicate (inner;
    Flink drops unmatched/late rows — SURVEY.md §2.4). The derived
    ``create_ts`` epoch-millis mirrors P2's bean enrichment
    (``OrderWideApp.java:50-81``). Streaming twin: watermarked
    stream-stream join (streaming/jobs.py).

    Scale: an equi-join on the shuffle key with the range as a
    post-join filter — Catalyst plans sort-merge or shuffled-hash on
    o_orderkey; AQE handles skewed order keys. No cross-product: the
    range predicate never becomes the join key. On the local fixture
    the planner broadcasts orders; ``fan_out`` on the lineitem side
    spreads the probe + the wide date-formatting projection off the
    single scan core (r13-opt; 4/4 interleaved A/B pairs faster,
    ~5%; no-op on a cluster-splittable scan).
    """
    orders = load(spark, sf_dir, "orders")
    li = fan_out(load(spark, sf_dir, "lineitem"), "l_orderkey")
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & li.l_shipdate.between(orders.o_orderdate, orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
    )
    return joined.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_amount"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("create_time"),
        (F.unix_timestamp("o_orderdate") * 1000).alias("create_ts"),
        F.col("l_linenumber").alias("detail_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_quantity").alias("sku_num"),
        F.col("l_extendedprice").alias("split_total_amount"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("ship_time"),
    )


#: The payment_wide result contract, shared with
#: ``bucketed_payment_wide``.
PAYMENT_WIDE_ORACLE = """
    SELECT p.user_id AS user_id,
           count(*) AS matched_ct,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS matched_value
    FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
     AND e.event_id <> p.event_id
    GROUP BY 1
    """


@register(
    "payment_wide",
    oracle=PAYMENT_WIDE_ORACLE,
    covers=("J2", "P9", "W3"),
)
def payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-window interval join: payment ⋈ prior activity.

    Re-expression of ``PaymentWideApp.java:65-75``: payment_info ⋈
    order_wide with order.ts ∈ [pay.ts − 1800 s, pay.ts] — the
    matched window looks *backwards* only, same 30-minute bound.
    Here purchase events play payments, joined to the same user's
    preceding events (the order_wide stand-in), rolled up per user.
    Streaming twin: ``streaming/jobs.payment_wide_stream`` (both
    sides watermarked; join state bounded by the 30-min range).
    """
    events = load(spark, sf_dir, "events")
    pay = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pay_ts"),
            F.col("event_id").alias("pay_id"),
        )
    )
    prior = events.select("user_id", "ts", "event_id", "value")
    return (
        pay.join(
            prior,
            (prior.user_id == pay.p_user)
            & prior.ts.between(pay.pay_ts - F.expr("INTERVAL 30 MINUTES"), pay.pay_ts)
            & (prior.event_id != pay.pay_id),
        )
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("matched_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("matched_value"),
        )
    )


@register(
    "dim_enrich_left",
    oracle="""
    WITH dim_part AS (SELECT p_partkey, p_brand, p_type FROM part WHERE p_size < 25)
    SELECT l_linestatus AS linestatus,
           coalesce(p_brand, 'UNKNOWN') AS brand,
           count(*) AS item_ct,
           CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unenriched_ct
    FROM lineitem LEFT JOIN dim_part ON l_partkey = p_partkey
    GROUP BY 1, 2
    """,
    covers=("J3", "S8", "S9"),
)
def dim_enrich_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-outer dim enrichment — record passes through un-enriched
    when the dim row is missing.

    Re-expression of ``DimAsyncFunction.java:21-79`` +
    ``OrderWideApp.java:114-167``: async Phoenix point-lookups with a
    Redis cache, left-outer semantics (missing dim → fields stay
    null). In Spark the entire lookup/cache machinery collapses into
    a broadcast hash left join against the dim table (re-read per
    micro-batch in streaming = the cache TTL). The p_size<25 subset
    simulates missing dim rows.
    """
    li = load(spark, sf_dir, "lineitem")
    dim_part = (
        load(spark, sf_dir, "part").filter(F.col("p_size") < 25).select("p_partkey", "p_brand", "p_type")
    )
    return (
        li.join(F.broadcast(dim_part), li.l_partkey == dim_part.p_partkey, "left")
        .groupBy(
            F.col("l_linestatus").alias("linestatus"),
            F.coalesce("p_brand", F.lit("UNKNOWN")).alias("brand"),
        )
        .agg(
            F.count("*").alias("item_ct"),
            F.sum(F.when(F.col("p_partkey").isNull(), 1).otherwise(0)).alias("unenriched_ct"),
        )
    )


@register(
    "temporal_dim_join",
    oracle="""
    SELECT n_name AS nation_name,
           count(*) AS event_ct,
           count(DISTINCT user_id) AS user_ct
    FROM events LEFT JOIN nation ON user_id % 25 = n_nationkey
    GROUP BY 1
    """,
    covers=("J4",),
)
def temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-table (stream-static) dim join.

    Re-expression of ``weidu_join.java:52-79``: ``LEFT JOIN dim FOR
    SYSTEM_TIME AS OF proctime`` — each record joins the dim's
    current snapshot. Batch: plain left join; streaming: static side
    re-read each micro-batch (streaming/jobs.py). The derived key
    (user_id % 25) stands in for the page_id lookup key.
    """
    events = load(spark, sf_dir, "events")
    nation = load(spark, sf_dir, "nation")
    return (
        events.join(F.broadcast(nation), events.user_id % 25 == nation.n_nationkey, "left")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count("*").alias("event_ct"), F.countDistinct("user_id").alias("user_ct"))
    )


@register(
    "interval_left_join_agg",
    oracle="""
    SELECT v.user_id,
           count(*) AS row_ct,
           CAST(sum(CASE WHEN s.event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched_ct
    FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup') s
      ON v.user_id = s.user_id AND s.ts BETWEEN v.ts - INTERVAL 10 MINUTE AND v.ts
    GROUP BY v.user_id
    """,
    covers=("J5", "A6", "W5"),
)
def interval_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL interval LEFT JOIN + conditional aggregate.

    Re-expression of ``Demo2_join.java:58-67`` / ``demo2.sql:37-46``:
    page LEFT JOIN start on uid within a rowtime bound, then a CASE
    aggregate per uid. The reference's ``count(case … else 0 end)``
    counts every row (CASE never yields NULL) — implemented here as
    the intended ``sum(case)`` (documented deviation, SURVEY.md §2.5
    A6), with ``row_ct`` capturing the reference's literal count.
    """
    events = load(spark, sf_dir, "events")
    v = events.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    s = (
        events.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user_id"), F.col("ts").alias("s_ts"), F.col("event_id").alias("s_event_id"))
    )
    return (
        v.join(
            s,
            (v.user_id == s.s_user_id)
            & s.s_ts.between(v.ts - F.expr("INTERVAL 10 MINUTES"), v.ts),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("row_ct"),
            F.sum(F.when(F.col("s_event_id").isNotNull(), 1).otherwise(0)).alias("matched_ct"),
        )
    )


@register(
    "unique_visitors",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT dt, count(*) AS uv_ct FROM ranked WHERE rn = 1 GROUP BY dt
    """,
    covers=("T2", "W7", "P6"),
)
def unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily UV dedup — first visit per (device, day).

    Re-expression of ``UniqueVisitApp.java:41-74``: keyed ValueState
    holding the last-seen date with a 1-day TTL; only the first
    record per (mid, day) survives. Batch form: one survivor per
    (user, day) — the TTL *is* the day partition. Streaming twin:
    ``dropDuplicates(["user_id","dt"])`` under a watermark
    (streaming/jobs.py), which bounds state exactly like the TTL.

    r14 (guide §2.3): the oracle's ``row_number() = 1`` picks one row
    per (user, day) and then only COUNTS survivors per day — which
    row survives never reaches the output — so the plan computes the
    value-identical ``distinct (user_id, day)`` + count instead of
    sorting every partition for a window: the two Sorts and the
    Window/WindowGroupLimit pair disappear and both aggregation
    phases partial-aggregate map-side (NULL user_ids still form one
    group per day, exactly like an rn=1 partition). Same 2 exchanges,
    0.326 → 0.193 s isolated, rows identical.
    """
    events = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    return (
        events.select(F.col("user_id"), day.alias("d"))
        .distinct()
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("dt"))
        .agg(F.count("*").alias("uv_ct"))
    )


@register(
    "new_visitor_repair",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('day', ts)) AS first_day FROM events GROUP BY user_id
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           CAST(sum(CASE WHEN date_trunc('day', ts) = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_ct,
           CAST(sum(CASE WHEN date_trunc('day', ts) > first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_ct
    FROM events JOIN firsts USING (user_id)
    GROUP BY 1
    """,
    covers=("T1",),
)
def new_visitor_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-visitor flag repair.

    Re-expression of ``BaseLogApp.java:156-204``: keyed ValueState
    remembers each device's first-visit date; an ``is_new=1`` claim
    on a later day is rewritten to 0. Batch form: min(day) over the
    key, then compare — a window/self-join instead of per-record
    state. The streaming twin keeps real per-key state via
    ``applyInPandasWithState`` (``streaming/state.new_visitor_flags``).
    """
    events = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id")
    return (
        events.withColumn("day", day)
        .withColumn("first_day", F.min("day").over(w))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("dt"))
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)).alias("new_ct"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)).alias("returning_ct"),
        )
    )


@register(
    "user_jump_detail",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               lag(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        FROM events
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           count(*) AS bounce_ct
    FROM seq
    WHERE (prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE)
      AND (next_ts IS NULL OR next_ts - ts > INTERVAL 30 MINUTE)
    GROUP BY 1
    """,
    covers=("T3", "W4", "W8"),
)
def user_jump_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce (jump) detection — CEP timeout pattern as lead/lag.

    Re-expression of ``UserJumpDetailApp.java:51-92``: CEP pattern
    «session-entry page with no successor within 10 s» where the
    *timeout* matches are the bounces. The 2-step pattern is exactly
    expressible with lag/lead over (key, time): entry ⇔ no previous
    event within the gap; bounce ⇔ entry ∧ no next event within the
    gap (30 min here — events are sparser than page views). The
    streaming twin (``streaming/jobs.user_jump_stream``) counts
    sessions with Spark's ``session_window``: a bounce is a session of
    exactly one event, and a session closes when the watermark passes
    last event + gap, the CEP timeout.
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("INTERVAL 30 MINUTES")
    seq = events.select(
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    return (
        seq.filter(
            (F.col("prev_ts").isNull() | (F.col("ts") - F.col("prev_ts") > gap))
            & (F.col("next_ts").isNull() | (F.col("next_ts") - F.col("ts") > gap))
        )
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt"))
        .agg(F.count("*").alias("bounce_ct"))
    )


#: SCD2 output timestamp shape — micro-precision strings, the same
#: stt/edt convention the DWS window plans use (segments.py).
SCD2_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
SCD2_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"
SCD2_OPEN_END = "9999-12-31 00:00:00.000000"


@register(
    "scd2_dim_build",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM marked WHERE prev IS NULL OR prev <> event_type
    ),
    scd AS (
        SELECT user_id, event_type, ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
        FROM changes
    )
    SELECT user_id, event_type,
           strftime(ts, '{SCD2_TS_FMT_DUCK}') AS valid_from,
           coalesce(strftime(nxt, '{SCD2_TS_FMT_DUCK}'), '{SCD2_OPEN_END}') AS valid_to,
           version,
           CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS is_current
    FROM scd
    """,
    covers=("J4", "T1"),
    doc="SCD Type-2 dimension build: change capture → versioned validity intervals",
)
def scd2_dim_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 built from the raw event
    stream: collapse consecutive equal attribute values (here
    ``event_type`` per user) into versioned rows with
    ``[valid_from, valid_to)`` intervals, the open row closed by a
    sentinel end date. This is the batch CONSTRUCTION of exactly the
    versioned dim table :func:`temporal_dim_join` consumes (the
    reference materializes its dims into Phoenix via
    ``DimUtil.java``/``BaseDBApp`` and joins them temporally) — build
    and consume now round-trip inside one engine.

    Scale: a change-capture filter first drops the stream to its
    distinct-run grain, then two user-keyed window passes run over
    change rows only; one hash partitioning on user_id is reused by
    both windows (same key, same order — a single Exchange in the
    plan). No global sort, no driver state. Ties break on event_id so
    intervals are deterministic under equal timestamps.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .drop("prev")
    )
    return (
        changes.withColumn("nxt", F.lead("ts").over(w))
        .withColumn("version", F.row_number().over(w).cast("long"))
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", SCD2_TS_FMT_SPARK).alias("valid_from"),
            F.coalesce(F.date_format("nxt", SCD2_TS_FMT_SPARK), F.lit(SCD2_OPEN_END)).alias(
                "valid_to"
            ),
            "version",
            F.when(F.col("nxt").isNull(), 1).otherwise(0).alias("is_current"),
        )
    )
