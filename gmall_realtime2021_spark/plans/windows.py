"""Window-operator extensions beyond the reference's tumbling-only
surface (SURVEY.md §2.7 — "no sliding/session windows anywhere").

The engine gets them from Spark for free; registering them here with
oracle twins proves exact semantics:

- ``session_window_stats`` — ``F.session_window`` (30-min gap).
  Oracle: gaps-and-islands (island id = running count of gap-breaks
  per user). Spark closes a session when the next event's ts >
  previous ts + gap (an event exactly one gap later still merges);
  window.end = last event + gap — the SQL twin reproduces both bounds.
- ``sliding_window_stats`` — hopping ``F.window(1 hour, 30 min)``.
  Oracle: each event expands to exactly size/slide = 2 rows via
  unnest, bucketed with time_bucket.
- ``cumulate_window_stats`` — Flink's CUMULATE TVF (hour-anchored
  growing 15-min steps) as a stateless ≤4-row slice expansion.
- ``dynamic_gap_sessions`` — per-event gap (Flink withDynamicGap):
  running-max reach merge semantics, pinned equal to
  ``F.session_window`` with a gap column in test_non_vacuous.py on
  data with no exact-gap ties.

Both are watermark-compatible streaming aggregations in the skin
(same expressions under ``withWatermark``); batch forms are the
oracle-checked surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.plans.registry import register
from gmall_realtime2021_spark.tables import load


@register(
    "session_window_stats",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    isl AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM seq
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS event_ct,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM isl
    GROUP BY user_id, island
    """,
    covers=(),
    doc="session windows (30-min gap) — engine extension over the reference",
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.

    Scale: Catalyst plans session_window as a single shuffle on
    (user_id) with in-partition merge of overlapping sessions — the
    same island computation the oracle does with window functions.
    """
    events = load(spark, sf_dir, "events")
    w = F.session_window("ts", "30 minutes")
    return (
        events.groupBy(w.alias("w"), "user_id")
        .agg(
            F.count("*").alias("event_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "event_ct",
            "value_sum",
        )
    )


@register(
    "sliding_window_stats",
    oracle="""
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(w_start + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
           event_type,
           count(*) AS ev_ct,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM (
        SELECT event_type, value,
               time_bucket(INTERVAL 30 MINUTE, ts) - k * (INTERVAL 30 MINUTE) AS w_start
        FROM events, unnest([0, 1]) AS u(k)
    )
    GROUP BY 1, 2, 3
    """,
    covers=(),
    doc="sliding (hopping) windows 1h/30min — engine extension",
)
def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate: 1-hour windows every 30 minutes —
    each event contributes to exactly two windows (Spark expands via
    its internal window generator; the oracle does the same expansion
    with unnest)."""
    events = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("ev_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type",
            "ev_ct",
            "value_sum",
        )
    )


@register(
    "cumulate_window_stats",
    oracle="""
    WITH expanded AS (
        SELECT date_trunc('hour', ts) AS ws,
               date_trunc('hour', ts) + INTERVAL (15 * k) MINUTE AS we,
               value
        FROM events
        CROSS JOIN unnest(generate_series(1, 4)) AS u(k)
        WHERE ts < date_trunc('hour', ts) + INTERVAL (15 * k) MINUTE
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(we, '%Y-%m-%d %H:%M:%S') AS window_end,
           count(*) AS event_ct,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM expanded
    GROUP BY ws, we
    """,
    covers=(),
    doc="CUMULATE windows (Flink TVF family): hour-anchored, 15-min steps",
)
def cumulate_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third window TVF of the reference's Flink era
    (TUMBLE = A3/A5, HOP = ``sliding_window_stats``, CUMULATE =
    this): windows share an hour-anchored start and grow by 15-minute
    steps to the full hour — early partial results for the hour
    without waiting for it to close.

    Spark has no native cumulate; the faithful rewrite expands each
    event to the step-end windows that contain it (≤ size/step = 4
    rows, exactly Flink's internal slice replication) and runs one
    hash aggregate on (start, end). Streaming skin: the same
    expressions under a watermark — the expansion is stateless, so
    only the aggregate holds state, like any windowed agg.
    """
    ev = load(spark, sf_dir, "events").select("ts", "value")
    ws = F.date_trunc("hour", F.col("ts"))
    expanded = (
        ev.select("ts", "value", ws.alias("ws"), F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"))
        .withColumn("we", F.expr("ws + make_interval(0, 0, 0, 0, 0, 15 * k, 0)"))
        .filter(F.col("ts") < F.col("we"))
    )
    return (
        expanded.groupBy("ws", "we")
        .agg(
            F.count("*").alias("event_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("we", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_ct",
            "value_sum",
        )
    )


@register(
    "dynamic_gap_sessions",
    oracle="""
    WITH typed AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN 60 ELSE 30 END AS gap_min
        FROM events
    ),
    horizon AS (
        SELECT user_id, ts, event_id, event_type,
               max(epoch_us(ts) + CAST(gap_min AS BIGINT) * 60000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS reach_us
        FROM typed
    ),
    flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN reach_us IS NULL OR epoch_us(ts) >= reach_us
                    THEN 1 ELSE 0 END AS new_session
        FROM horizon
    ),
    sess AS (
        SELECT user_id, ts, event_type,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           count(*) AS n_events,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
    FROM sess
    GROUP BY user_id, session_id
    """,
    covers=("W1", "T3"),
    doc="dynamic-gap sessions: purchases hold sessions open 60 min, other events 30",
)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT gap (Flink's
    ``SessionWindows.withDynamicGap`` analog; ``F.session_window``
    also accepts a gap column, and this plan states its exact merge
    semantics relationally so the oracle can check them): a purchase
    holds the session open 60 minutes, anything else 30.

    The subtle part pinned here: an event continues a session if it
    starts before the furthest reach of ANY prior event — a running
    MAX of (ts + gap) over the preceding frame — not merely the
    previous row's reach (a long-gap purchase followed by short-gap
    clicks must keep the session open past the clicks' own reach).
    ``session_funnel``'s fixed-gap flag form is the equal-gap special
    case EXCEPT at the boundary: the funnel keeps an exactly-gap
    event in-session (strict >), while this plan starts a new one
    (ts >= reach, half-open windows) — both conventions are
    boundary-pinned in their tests. ``F.session_window`` with a gap
    column merges an exactly-gap event like the funnel does, so it
    equals this plan only on data with no exact-gap ties.

    Scale: identical to the fixed-gap sessionizer — ONE user_id
    shuffle; the running max, the cumulative session id, and the
    session aggregate all share the (ts, event_id) sort.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    gap_min = F.when(F.col("event_type") == "purchase", 60).otherwise(30)
    typed = ev.withColumn(
        "reach_one", F.unix_micros("ts") + gap_min.cast("long") * F.lit(60_000_000).cast("long")
    )
    prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = typed.withColumn(
        "new_session",
        F.when(
            F.max("reach_one").over(prev).isNull()
            | (F.unix_micros("ts") >= F.max("reach_one").over(prev)),
            1,
        ).otherwise(0),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
    )
