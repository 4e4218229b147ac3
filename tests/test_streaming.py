"""Batch ≡ streaming equivalence (SURVEY.md §5, §7 M4).

Method: replay the sf0.001 fixtures through the file streaming source
in ts-ordered chunks (maxFilesPerTrigger=1 → real multi-batch runs,
so watermarks advance between batches and state/timeout paths
execute), run each streaming twin to a memory sink with
Trigger.AvailableNow, and compare against the batch plan's rows.

A far-future sentinel event (user_id = −1) closes the stream: it
pushes the watermark past every real event so append-mode windows
finalize and pending event-time timeouts fire — the "all watermarks
pass" side of the equivalence. Sentinel-derived rows are excluded
from comparison.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from gmall_realtime2021_spark.plans.registry import get_plans
from gmall_realtime2021_spark.sources import file_stream
from gmall_realtime2021_spark.streaming import (
    keyword_stats_stream,
    new_visitor_repair_stream,
    order_wide_stream,
    payment_wide_stream,
    unique_visitors_stream,
    user_jump_stream,
    visitor_stats_stream,
)
from gmall_realtime2021_spark.tables import load

SF = "/root/testdata/sf0.001"
SENTINEL_UID = -1


def _write_stream_files(out: str, dfs) -> None:
    """One single-file parquet per DataFrame in ``dfs``, mtimes
    ascending, so a ``maxFilesPerTrigger=1`` stream reads them as one
    micro-batch each, in order."""
    for i, df in enumerate(dfs):
        p = os.path.join(out, f"f{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))


def _chunked_replay(spark, tmpdir: str, name: str, ts_col: str, sentinel_row=None) -> str:
    """Write a fixture table as 2 ts-ordered parquet chunks (+ an
    optional sentinel chunk) with ascending mtimes; returns the dir."""
    df = load(spark, SF, name).orderBy(ts_col, *([] if name != "events" else ["event_id"]))
    rows = df.count()
    half = rows // 2
    out = os.path.join(tmpdir, name)
    first = df.limit(half)
    second = df.subtract(first) if name != "events" else df.exceptAll(first)
    _write_stream_files(out, [first, second] + ([sentinel_row] if sentinel_row is not None else []))
    return out


def _events_sentinel(spark):
    base = load(spark, SF, "events")
    max_ts = base.agg(F.max("ts")).collect()[0][0]
    return spark.createDataFrame(
        [(10**9, max_ts, SENTINEL_UID, "sentinel", 0.0, None)],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))


@pytest.fixture(scope="module")
def events_replay(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("replay"))
    return _chunked_replay(spark, tmpdir, "events", "ts", _events_sentinel(spark))


def _events_stream(spark, events_replay):
    schema = load(spark, SF, "events").schema
    return file_stream(spark, events_replay + "/*.parquet", schema, max_files_per_trigger=1)


def _run_stream(df, tmp_path, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return df.sparkSession.table(name)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_visitor_stats_stream_matches_batch(spark, events_replay, tmp_path):
    out = _run_stream(
        visitor_stats_stream(_events_stream(spark, events_replay)), tmp_path, "vs_stream"
    )
    batch = (
        get_plans()["visitor_stats"].build(spark, SF).drop("uv_ct")
    )
    got = out.filter(F.col("event_type") != "sentinel")
    assert _rows(got) == _rows(batch)


@pytest.mark.slow
def test_unique_visitors_stream_matches_batch(spark, events_replay, tmp_path):
    out = _run_stream(
        unique_visitors_stream(_events_stream(spark, events_replay)), tmp_path, "uv_stream"
    )
    batch = get_plans()["unique_visitors"].build(spark, SF)
    # sentinel adds one UV on its own far-future day
    got = out.join(batch.select("dt").distinct(), "dt", "left_semi")
    assert _rows(got) == _rows(batch)


def test_new_visitor_repair_stream_matches_batch(spark, events_replay, tmp_path):
    flags = _run_stream(
        new_visitor_repair_stream(_events_stream(spark, events_replay)),
        tmp_path,
        "nvr_stream",
    )
    rolled = (
        flags.filter(F.col("user_id") != SENTINEL_UID)
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt"))
        .agg(
            F.sum(F.col("is_new")).alias("new_ct"),
            F.sum(1 - F.col("is_new")).alias("returning_ct"),
        )
    )
    batch = get_plans()["new_visitor_repair"].build(spark, SF)
    assert _rows(rolled) == _rows(batch)


@pytest.mark.slow
def test_user_jump_stream_matches_batch(spark, events_replay, tmp_path):
    bounces = _run_stream(
        user_jump_stream(_events_stream(spark, events_replay)), tmp_path, "jump_stream"
    )
    rolled = (
        bounces.filter(F.col("user_id") != SENTINEL_UID)
        .groupBy(F.date_format(F.date_trunc("day", "bounce_ts"), "yyyy-MM-dd").alias("dt"))
        .agg(F.count("*").alias("bounce_ct"))
    )
    batch = get_plans()["user_jump_detail"].build(spark, SF)
    assert _rows(rolled) == _rows(batch)


def test_user_jump_stream_gap_boundaries(spark, tmp_path):
    """T3 boundary pin: a bounce is an entry with no successor MORE than
    the gap (30 min) away — the ``user_jump_detail`` rule. Crafted
    micro-batches cover each edge: a successor exactly the gap later
    (same batch: user 1; next batch: user 3) is not a bounce; one
    microsecond more (same batch: user 2; next batch: user 5) makes
    both events bounces; equal timestamps (user 4) are one visit; a
    lone event (user 6) only closes when the watermark passes it; and
    a three-event chain (user 7) is not a bounce while its later,
    separate entry is."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    m = lambda minutes, us=0: base + dt.timedelta(minutes=minutes, microseconds=us)  # noqa: E731
    rows_by_file = [
        [(1, m(0)), (1, m(30)), (2, m(0)), (2, m(30, 1)), (3, m(10)),
         (4, m(5)), (4, m(5)), (5, m(10)), (6, m(1))],
        [(3, m(40)), (5, m(40, 1)), (7, m(35)), (7, m(60)), (7, m(85))],
        [(7, m(130))],
        [(SENTINEL_UID, base + dt.timedelta(days=365))],
    ]
    eid = iter(range(1, 100))
    files = [
        [(next(eid), ts, uid, "view", 1.0, None) for uid, ts in rows]
        for rows in rows_by_file
    ]
    src = str(tmp_path / "jump_edges")
    schema = load(spark, SF, "events").schema
    _write_stream_files(src, [spark.createDataFrame(rows, schema) for rows in files])
    stream = file_stream(spark, src + "/*.parquet", schema, max_files_per_trigger=1)
    out = _run_stream(user_jump_stream(stream), tmp_path, "jump_edges")
    got = sorted(
        (r.user_id, r.bounce_ts)
        for r in out.filter(F.col("user_id") != SENTINEL_UID).collect()
    )
    assert got == [
        (2, m(0)), (2, m(30, 1)),
        (5, m(10)), (5, m(40, 1)),
        (6, m(1)),
        (7, m(130)),
    ]

    # the batch lead/lag rule on the same rows agrees
    sf = tmp_path / "jump_edges_sf"
    os.makedirs(sf)
    spark.createDataFrame(
        [r for rows in files[:-1] for r in rows], schema
    ).write.parquet(str(sf / "events.parquet"))
    batch = get_plans()["user_jump_detail"].build(spark, str(sf)).collect()
    assert [(r.dt, r.bounce_ct) for r in batch] == [("2024-01-01", len(got))]


def test_user_jump_stream_plan_has_no_python_operator(spark, tmp_path):
    """Plan-shape pin: the bounce stream is one session-window
    state-store aggregate, with no per-key Python UDF in its plan."""
    import datetime as dt

    src = str(tmp_path / "jump_plan")
    schema = load(spark, SF, "events").schema
    row = (1, dt.datetime(2024, 1, 1), 1, "view", 1.0, None)
    _write_stream_files(src, [spark.createDataFrame([row], schema)])
    q = (
        user_jump_stream(file_stream(spark, src + "/*.parquet", schema))
        .writeStream.format("memory")
        .queryName("jump_plan")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_jump_plan"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(False)
    assert "SessionWindowStateStoreSave" in plan, plan
    for node in ("FlatMapGroupsInPandasWithState", "ArrowEvalPython", "InPandas"):
        assert node not in plan, plan


@pytest.mark.slow
def test_keyword_stats_stream_matches_batch(spark, tmp_path):
    """A3 windowed form: docs get a deterministic ts (doc_id seconds
    apart, so 10 s windows hold ~10 docs each); streamed windowed
    keyword counts equal the batch computation of the same plan."""
    base = (
        load(spark, SF, "documents")
        .select("doc_id", "text")
        .withColumn(
            "ts",
            F.expr("timestamp_seconds(1700000000 + doc_id)").cast("timestamp"),
        )
    )
    src = str(tmp_path / "docs")
    base.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, spark.read.parquet(src).schema)
    # sentinel: one far-future empty doc closes every window
    sent = str(tmp_path / "docs" / "zz_sentinel.parquet")
    spark.createDataFrame(
        [(10**9, "closer", None)], "doc_id long, text string, ts timestamp"
    ).withColumn("ts", F.expr("timestamp_seconds(1800000000)")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(sent + ".dir")
    part = [f for f in os.listdir(sent + ".dir") if f.endswith(".parquet")][0]
    os.replace(os.path.join(sent + ".dir", part), sent)
    t = time.time() + 5
    os.utime(sent, (t, t))

    out = _run_stream(keyword_stats_stream(stream), tmp_path, "kw_stream")
    from gmall_realtime2021_spark.functions.text import tokenize

    batch = (
        base.select("ts", F.explode(tokenize(F.col("text"))).alias("keyword"))
        .groupBy(F.window("ts", "10 seconds").alias("w"), "keyword")
        .agg(F.count("*").alias("ct"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "keyword",
            "ct",
        )
    )
    got = out.filter(F.col("keyword") != "closer")
    assert _rows(got) == _rows(batch)


@pytest.fixture(scope="module")
def orders_replay(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("replay_o"))
    return _chunked_replay(spark, tmpdir, "orders", "o_orderdate")


@pytest.fixture(scope="module")
def lineitem_replay(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("replay_l"))
    return _chunked_replay(spark, tmpdir, "lineitem", "l_shipdate")


@pytest.mark.slow
def test_order_wide_stream_matches_batch(spark, orders_replay, lineitem_replay, tmp_path):
    o = file_stream(
        spark, orders_replay + "/*.parquet", load(spark, SF, "orders").schema, max_files_per_trigger=1
    )
    l = file_stream(
        spark,
        lineitem_replay + "/*.parquet",
        load(spark, SF, "lineitem").schema,
        max_files_per_trigger=1,
    )
    out = _run_stream(order_wide_stream(o, l), tmp_path, "ow_stream")
    batch = get_plans()["order_wide"].build(spark, SF)
    assert _rows(out) == _rows(batch)


@pytest.mark.slow
def test_payment_wide_stream_matches_batch(spark, events_replay, tmp_path):
    e = _events_stream(spark, events_replay).filter(F.col("user_id") != SENTINEL_UID)
    out = _run_stream(payment_wide_stream(e, e), tmp_path, "pw_stream")
    assert out.count() > 0  # non-vacuous: purchases really match prior events
    rolled = out.groupBy("user_id").agg(
        F.count("*").alias("matched_ct"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("matched_value"),
    )
    batch = get_plans()["payment_wide"].build(spark, SF)
    assert _rows(rolled) == _rows(batch)


@pytest.mark.slow
def test_late_data_dropped_by_watermark(spark, tmp_path):
    """W3 late-data semantics (SURVEY §2.7): once the watermark has
    finalized (emitted + evicted) a window, records falling into it
    are dropped — the reference's Flink default (no allowed-lateness,
    no late outputs), matched by Spark's watermark drop.

    Batch 0 seeds window 1 and pushes event time an hour ahead;
    batch 1 pushes another hour (watermark passes window 1's end →
    the window finalizes); batch 2 replays an event inside window 1
    — 2 h late. Assertions: window 1 emitted exactly once with only
    the on-time event, and the late arrival neither merged nor
    resurrected the window.
    """
    src = str(tmp_path / "late")
    os.makedirs(src, exist_ok=True)

    def write(name, rows, mtime_off):
        p = os.path.join(src, name)
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 100 + mtime_off
        os.utime(p, (t, t))

    import datetime

    T = datetime.datetime(2024, 1, 1, 0, 0, 30)
    late = datetime.datetime(2024, 1, 1, 0, 0, 31)
    far = T + datetime.timedelta(seconds=3600)
    far2 = T + datetime.timedelta(seconds=7200)
    write("a.parquet", [(1, T, 1, "view", 1.0, None), (2, far, 2, "view", 1.0, None)], 0)
    write("b.parquet", [(4, far2, 4, "view", 1.0, None)], 10)  # finalizes window 1
    write("c.parquet", [(3, late, 3, "view", 1.0, None)], 20)  # 2 h late

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    stream = file_stream(spark, src + "/*.parquet", schema, max_files_per_trigger=1)
    out = _run_stream(visitor_stats_stream(stream), tmp_path, "late_stream")
    rows = {(r.stt, r.event_type): r.pv_ct for r in out.collect()}
    assert rows[("2024-01-01 00:00:00", "view")] == 1  # late event dropped
    assert len([k for k in rows if k[0] == "2024-01-01 00:00:00"]) == 1  # no resurrection


def test_session_window_stream_append_matches_batch(spark, events_replay, tmp_path):
    """Session windows in streaming: Spark merges overlapping session
    fragments in state as events arrive; once the watermark passes a
    session's close, the merged window emits. Must equal the batch
    session_window_stats plan (gaps-and-islands oracle semantics)."""
    stream = _events_stream(spark, events_replay)
    w = F.session_window("ts", "30 minutes")
    out = _run_stream(
        stream.withWatermark("ts", "3 seconds")
        .groupBy(w.alias("w"), "user_id")
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
        ),
        tmp_path,
        "sess_stream",
    )
    batch = get_plans()["session_window_stats"].build(spark, SF)
    got = out.filter(F.col("user_id") != SENTINEL_UID)
    assert _rows(got) == _rows(batch)


@pytest.mark.slow
def test_grouped_count_update_mode_retract_analog(spark, tmp_path):
    """A8 retract semantics (Demo1.java toRetractStream): a
    non-windowed grouped count in update output mode re-emits a key's
    row whenever its count changes — Spark's update mode is the
    retract-stream analog (new value supersedes old, no explicit
    retraction tombstone). Two batches over the same key must produce
    two emissions with increasing counts."""
    src = str(tmp_path / "gc")
    os.makedirs(src, exist_ok=True)

    def add(name, rows, off):
        p = os.path.join(src, name)
        spark.createDataFrame(rows, "k string, v long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + off
        os.utime(p, (t, t))

    add("a.parquet", [("x", 1), ("x", 2), ("y", 3)], 0)
    add("b.parquet", [("x", 4)], 10)
    stream = file_stream(spark, src + "/*.parquet", "k string, v long", max_files_per_trigger=1)
    counts = stream.groupBy("k").count()
    q = (
        counts.writeStream.format("memory")
        .queryName("gc_upd")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emissions = [(r.k, r["count"]) for r in spark.table("gc_upd").collect()]
    # batch 0 emits x→2, y→1; batch 1 re-emits only the changed key x→3
    assert sorted(emissions) == [("x", 2), ("x", 3), ("y", 1)]


def test_stateful_operator_resumes_from_checkpoint(spark, tmp_path):
    """applyInPandasWithState state survives a query restart: run the
    new-visitor job over chunk 1, stop, add chunk 2, run a NEW query
    from the same checkpoint — flags for chunk-2 events must be
    computed against the restored first-visit state, so the union of
    both runs' outputs equals the batch plan over all events."""
    src = str(tmp_path / "nvr_ckpt")
    os.makedirs(src, exist_ok=True)
    df = load(spark, SF, "events").orderBy("ts", "event_id")
    half = df.count() // 2
    first, second = df.limit(half), df.exceptAll(df.limit(half))

    def add(chunk, name, off):
        p = os.path.join(src, name)
        chunk.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + off
        os.utime(p, (t, t))

    schema = load(spark, SF, "events").schema
    ckpt = str(tmp_path / "ck_nvr")
    out = str(tmp_path / "nvr_out")

    def run():
        stream = file_stream(spark, src + "/*.parquet", schema)
        q = (
            new_visitor_repair_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    add(first, "c0.parquet", 0)
    run()
    add(second, "c1.parquet", 10)
    run()

    flags = spark.read.parquet(out)
    rolled = (
        flags.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt"))
        .agg(
            F.sum(F.col("is_new")).alias("new_ct"),
            F.sum(1 - F.col("is_new")).alias("returning_ct"),
        )
    )
    batch = get_plans()["new_visitor_repair"].build(spark, SF)
    assert _rows(rolled) == _rows(batch)


@pytest.mark.slow
def test_asof_attribution_stream_matches_batch(spark, tmp_path):
    """The bounded-lookback as-of: chunked replay through the
    watermarked interval-join + windowed-argmax pipeline must equal
    the same job run on the batch frame (= the oracle-checked
    `asof_bounded` plan).

    Uses its own replay with THREE sentinel chunks: watermarks update
    at batch *end*, and each chained stateful operator drains one
    watermark-advancing batch later than the previous — batch N+1
    flushes the outer join's unmatched rows into the agg, batch N+2
    closes their agg windows. (The shared single-sentinel fixture
    leaves join-null rows stranded — pinned here because it's exactly
    the multi-operator drain subtlety a user hits.)

    Sentinels here are typed 'purchase'/'view', not 'sentinel': the
    branch filters push below the EventTimeWatermark node into the
    scan, so only rows *surviving the pushed filter* advance the
    watermark — an untyped sentinel would never move it."""
    from gmall_realtime2021_spark.streaming import asof_attribution_stream

    def _typed_sentinel(i: int):
        base = _events_sentinel(spark).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {10 * i} DAYS")
        )
        return base.withColumn("event_type", F.lit("purchase")).withColumn(
            "event_id", F.lit(10**9 + 2 * i)
        ).unionByName(
            base.withColumn("event_type", F.lit("view")).withColumn(
                "event_id", F.lit(10**9 + 2 * i + 1)
            )
        )

    replay = _chunked_replay(
        spark, str(tmp_path / "replay"), "events", "ts", _typed_sentinel(0)
    )
    for i in (1, 2):
        p = os.path.join(replay, f"zz_sentinel{i}.parquet")
        _typed_sentinel(i).coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() + 100 * (i + 1)
        os.utime(p, (t, t))

    out = _run_stream(
        asof_attribution_stream(_events_stream(spark, replay)), tmp_path, "asof_stream"
    )
    batch = get_plans()["asof_bounded"].build(spark, SF)
    got = out.filter(F.col("user_id") != SENTINEL_UID)
    assert _rows(got) == _rows(batch)


@pytest.mark.slow
def test_product_stats_stream_matches_batch(spark, tmp_path_factory, tmp_path):
    """The flagship DWS app's streaming twin: chunked lineitem replay
    through the stream-static dim join + 30-day windowed agg equals
    the same job on the batch frame — exactly, including the HLL
    distinct (register-max merge is order-independent). A far-future
    sentinel line (unjoinable partkey, so it emits nothing) closes
    the append-mode windows."""
    from gmall_realtime2021_spark.streaming import product_stats_stream

    li = load(spark, SF, "lineitem")
    sentinel = (
        li.limit(1)
        .withColumn("l_shipdate", F.col("l_shipdate") + F.expr("INTERVAL 3650 DAYS"))
        .withColumn("l_partkey", F.lit(-1))
        .withColumn("l_orderkey", F.lit(-1))
    )
    replay = _chunked_replay(
        spark, str(tmp_path_factory.mktemp("replay_ps")), "lineitem", "l_shipdate", sentinel
    )
    li_stream = file_stream(
        spark, replay + "/*.parquet", li.schema, max_files_per_trigger=1
    )
    part = load(spark, SF, "part")
    out = _run_stream(product_stats_stream(li_stream, part), tmp_path, "ps_stream")
    batch = product_stats_stream(li, part)
    assert _rows(out) == _rows(batch)
    assert out.count() > 0


def test_exact_dedup_stream_drops_redelivered(spark, tmp_path):
    """Redelivered events (same event_id, near-identical ts) collapse
    to one; distinct ids all survive. State is watermark-bounded."""
    from gmall_realtime2021_spark.streaming import exact_dedup_stream

    base = load(spark, SF, "events").limit(200)
    dup = base.limit(50).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    src = str(tmp_path / "dup_events")
    base.unionByName(dup).orderBy("ts").coalesce(1).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, load(spark, SF, "events").schema)
    out = _run_stream(exact_dedup_stream(stream), tmp_path, "dedup_stream")
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200


def _run_stream_with_progress(df, tmp_path, name: str):
    """Like _run_stream but also returns the query's progress events
    (one per micro-batch) so tests can assert on state-store metrics."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return df.sparkSession.table(name), list(q.recentProgress)


def _state_metric(progresses, metric: str) -> list[int]:
    """Per-batch sum of a stateOperators metric across operators."""
    out = []
    for p in progresses:
        ops = p.get("stateOperators") or []
        if ops:
            out.append(sum(int(op.get(metric, 0)) for op in ops))
    return out


@pytest.mark.slow
def test_uv_dedup_state_evicted_at_watermark(spark, events_replay, tmp_path):
    """W7 — the watermark must actually DROP state rows, not just gate
    output: the UV-dedup stream holds (user, day-window) keys only
    until the watermark passes the window, so the far-future sentinel
    batch must evict the accumulated real-event state
    (`UniqueVisitApp.java:49-50`'s 1-day ValueState TTL, expressed as
    watermark eviction)."""
    _, prog = _run_stream_with_progress(
        unique_visitors_stream(_events_stream(spark, events_replay)),
        tmp_path,
        "uv_evict",
    )
    removed = _state_metric(prog, "numRowsRemoved")
    totals = _state_metric(prog, "numRowsTotal")
    assert sum(removed) > 0, f"watermark advance never removed state rows: {prog}"
    # after the sentinel batch, only the sentinel's own day (+count
    # state) may remain — far less than the peak 30-day footprint
    assert totals[-1] < max(totals), (totals, removed)


@pytest.mark.slow
def test_interval_join_state_evicted_at_watermark(spark, orders_replay, lineitem_replay, tmp_path):
    """J1 state bound — the stream-stream interval join must shed
    buffered rows as the 1-day watermark advances across the 7-year
    orderdate span (Flink interval-join state retention,
    `OrderWideApp.java:101-112`, expressed as watermark eviction)."""
    o = file_stream(
        spark, orders_replay + "/*.parquet", load(spark, SF, "orders").schema, max_files_per_trigger=1
    )
    l = file_stream(
        spark,
        lineitem_replay + "/*.parquet",
        load(spark, SF, "lineitem").schema,
        max_files_per_trigger=1,
    )
    _, prog = _run_stream_with_progress(order_wide_stream(o, l), tmp_path, "ow_evict")
    removed = _state_metric(prog, "numRowsRemoved")
    assert sum(removed) > 0, f"interval-join watermark never evicted buffered rows: {prog}"


def test_pq_encode_is_stateless_streamable(spark, tmp_path):
    """PQ encoding is a pure map — it must run UNCHANGED on a
    streaming frame and emit exactly the batch rows (the property
    that lets a 100 TB ingest pipeline encode vectors on arrival
    instead of in a nightly batch)."""
    from gmall_realtime2021_spark.operators.similarity import pq_encode

    emb = load(spark, SF, "embeddings")
    src = str(tmp_path / "emb_stream")
    emb.coalesce(1).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, emb.schema)
    out = _run_stream(pq_encode(stream), tmp_path, "pq_stream")
    assert _rows(out) == _rows(pq_encode(emb))


@pytest.mark.slow
def test_full_outer_interval_join_stream_matches_batch(spark, tmp_path):
    """FULL-OUTER stream-stream interval join: once all watermarks
    pass, the streamed result (including the null-side rows the join
    emits for unmatched purchases AND unmatched views) must equal the
    same plan run on the batch frame.

    Sentinels are typed 'purchase'/'view' (the branch filters push
    below the watermark node — see the asof test), and TWO sentinel
    chunks run because the watermark updated at the end of batch N
    only applies (and flushes the join's null-side rows) in batch
    N+1."""
    from gmall_realtime2021_spark.streaming.jobs import interaction_pairs_stream

    def _typed_sentinel(i: int):
        base = _events_sentinel(spark).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {10 * i} DAYS")
        )
        return base.withColumn("event_type", F.lit("purchase")).withColumn(
            "event_id", F.lit(10**9 + 2 * i)
        ).unionByName(
            base.withColumn("event_type", F.lit("view")).withColumn(
                "event_id", F.lit(10**9 + 2 * i + 1)
            )
        )

    replay = _chunked_replay(
        spark, str(tmp_path / "replay_fo"), "events", "ts", _typed_sentinel(0)
    )
    p = os.path.join(replay, "zz_sentinel1.parquet")
    _typed_sentinel(1).coalesce(1).write.mode("overwrite").parquet(p + ".dir")
    part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
    os.replace(os.path.join(p + ".dir", part), p)
    t = time.time() + 200
    os.utime(p, (t, t))

    out = _run_stream(
        interaction_pairs_stream(_events_stream(spark, replay)), tmp_path, "fo_stream"
    )
    batch = interaction_pairs_stream(load(spark, SF, "events"))
    got = out.filter(F.col("user_id") != SENTINEL_UID)
    assert _rows(got) == _rows(batch)
    # non-vacuous on all three row classes
    assert got.filter("matched = 1").count() > 0
    assert got.filter("pay_id = -1").count() > 0
    assert got.filter("view_id = -1").count() > 0


@pytest.mark.slow
def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """batch≡stream for the incremental-ingest dedup: the streaming
    probe over the incoming docs (2 micro-batches) against the static
    corpus index must emit exactly the batch plan's is_dup=1 rows —
    same matches, counts, best ids and jaccards. Each incoming doc
    arrives in one micro-batch and all its index matches are static,
    so every doc emits exactly once."""
    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.streaming.jobs import incremental_dedup_stream

    docs = load(spark, SF, "documents")
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = docs.filter(F.col("doc_id") % 10 >= 8).orderBy("doc_id")
    half = incoming.count() // 2
    chunks = [incoming.limit(half), incoming.exceptAll(incoming.limit(half))]

    src = str(tmp_path / "inc_docs")
    os.makedirs(src, exist_ok=True)
    for i, ch in enumerate(chunks):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))

    stream = file_stream(spark, src + "/*.parquet", docs.schema, max_files_per_trigger=1)
    q = (
        incremental_dedup_stream(stream, existing)
        .writeStream.format("memory")
        .queryName("inc_dedup")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = {
        (r.doc_id, r.is_dup, r.match_ct, r.best_match_id, r.best_jaccard)
        for r in spark.table("inc_dedup").collect()
    }
    want = {
        (r.doc_id, r.is_dup, r.match_ct, r.best_match_id, r.best_jaccard)
        for r in get_plans()["dedup_incremental"].build(spark, SF).collect()
        if r.is_dup == 1
    }
    assert want and got == want


def test_cumulate_window_stream_matches_batch(spark, tmp_path):
    """batch≡stream for CUMULATE windows: the last update-mode
    emission per (window_start, window_end) equals the batch plan's
    row for every window."""
    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.streaming.jobs import cumulate_window_stream

    ev = load(spark, SF, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "cum_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))

    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    q = (
        cumulate_window_stream(stream)
        .writeStream.format("memory")
        .queryName("cum_win")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_cum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    last = {}
    for r in spark.table("cum_win").collect():  # emission order per key: later wins
        last[(r.window_start, r.window_end)] = (r.event_ct, r.value_sum)
    batch = {
        (r.window_start, r.window_end): (r.event_ct, r.value_sum)
        for r in get_plans()["cumulate_window_stats"].build(spark, SF).collect()
    }
    assert last == batch


def test_session_window_stream_matches_batch(spark, tmp_path):
    """batch≡stream for session windows: F.session_window under a
    watermark (update mode, 2 micro-batches in event-time order) —
    complete mode (update is unsupported for streaming session
    windows) — the final snapshot equals the batch plan exactly.
    Session merging across micro-batches is the hard part Spark's
    streaming session state handles."""
    from gmall_realtime2021_spark.plans import get_plans

    ev = load(spark, SF, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "sess_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))

    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "3 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
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
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = {
        (r.user_id, r.session_start): (r.session_end, r.event_ct, r.value_sum)
        for r in spark.table("sess_win").collect()
    }
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.event_ct, r.value_sum)
        for r in get_plans()["session_window_stats"].build(spark, SF).collect()
    }
    assert got == batch

def test_event_transitions_stream_matches_batch(spark, tmp_path):
    """batch≡stream for event transitions: the keyed-state lag fed
    two ts-ordered micro-batches emits exactly the batch plan's pair
    multiset — cross-batch pairs (first event of batch 2 pairing with
    the last event of batch 1, held in state) included."""
    from collections import Counter

    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.streaming.jobs import event_transitions_stream

    ev = load(spark, SF, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "trans_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))

    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    q = (
        event_transitions_stream(stream)
        .writeStream.format("memory")
        .queryName("trans_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_trans"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    streamed = Counter(
        (r.prev_type, r.next_type) for r in spark.table("trans_pairs").collect()
    )
    batch = {
        (r.prev_type, r.next_type): r.transition_ct
        for r in get_plans()["event_transitions"].build(spark, SF).collect()
    }
    assert dict(streamed) == batch



def test_first_touch_stream_matches_batch(spark, tmp_path):
    """batch≡stream for first-touch attribution: the two-scalar
    earliest-view state fed two ts-ordered micro-batches stamps every
    purchase exactly as the batch struct-min plan does — including
    purchases whose first view arrived in an earlier batch."""
    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.streaming.state import first_touch_attribution_pairs

    ev = load(spark, SF, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "ft_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))

    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    q = (
        first_touch_attribution_pairs(stream)
        .writeStream.format("memory")
        .queryName("ft_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ft"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    streamed = {
        r.event_id: (r.first_view_id, r.gap_us)
        for r in spark.table("ft_pairs").collect()
    }
    batch = {
        r.event_id: (r.first_view_id, r.gap_us)
        for r in get_plans()["first_touch_attribution"].build(spark, SF).collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_first_touch_stream_credits_same_ts_view_sorted_later(spark, tmp_path):
    """Tie semantics pin (review finding): a view with the SAME ts as
    the purchase but a HIGHER event_id must still be credited — the
    batch plan's inclusive fv_ts <= p.ts doesn't care about event_id
    order within the tie, so neither may the stream (views of a
    timestamp apply to state before purchases of that timestamp)."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.streaming.state import first_touch_attribution_pairs

    rows = [
        (3, "2021-06-01 10:00:00", 1, "purchase", 9.0),
        (5, "2021-06-01 10:00:00", 1, "view", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "tie_ev")
    os.makedirs(src, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "c0.parquet"))

    stream = file_stream(spark, src + "/*", df.schema)
    q = (
        first_touch_attribution_pairs(stream)
        .writeStream.format("memory")
        .queryName("ft_tie")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_tie"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    [r] = spark.table("ft_tie").collect()
    assert r.first_view_id == 5 and r.gap_us == 0


@pytest.mark.slow
def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Late-data contract: rows arriving behind the watermark are
    dropped from the windowed aggregate AND the drop is observable in
    StreamingQueryProgress (numRowsDroppedByWatermark) — the metric a
    production deployment alerts on. Nuance pinned here: watermark
    ENFORCEMENT lags its advancement by one micro-batch (state for a
    closed window is evicted at the END of the batch whose watermark
    passed it), so the late batch must be the third — late rows in
    the immediately-following batch still merge into live state, the
    documented at-least-the-watermark leniency."""
    from pyspark.sql import functions as F

    batches = [
        [(1, "2021-06-01 10:00:00", 1, "view", 0.0),
         (2, "2021-06-01 12:00:00", 1, "view", 0.0)],   # advances watermark to 11:59
        [(5, "2021-06-01 12:00:30", 2, "view", 0.0)],   # on time; 10:00 state evicts after this batch
        [(3, "2021-06-01 10:00:30", 1, "view", 0.0),    # LATE: behind the enforced watermark
         (4, "2021-06-01 10:01:00", 2, "view", 0.0)],   # LATE
    ]
    src = str(tmp_path / "late_ev")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        p = os.path.join(src, f"c{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))

    stream = file_stream(
        spark, src + "/*.parquet",
        "event_id long, ts timestamp, user_id long, event_type string, value double",
        max_files_per_trigger=1,
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("ct"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for prog in q.recentProgress
        for op in (prog["stateOperators"] or [])
    )
    assert dropped == 2  # exactly the two stale batch-3 rows
    final = {}
    for r in spark.table("late_drop").collect():  # update mode: later emission wins
        final[r["w"].start.strftime("%H:%M")] = r["ct"]
    assert final.get("10:00") == 1  # late rows never reached the evicted window
    assert final.get("12:00") == 2
    assert "10:01" not in final    # the late-created window never materialized


def test_transition_pairs_survive_chunked_arrow_delivery(spark, tmp_path):
    """The review-found hazard, pinned: with Arrow maxRecordsPerBatch
    forced tiny (2), a key's micro-batch arrives as MANY chunks — the
    state op must still sort globally per key-batch and produce the
    exact batch-plan pair multiset (per-chunk sorting would mis-pair
    everything)."""
    from collections import Counter

    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.streaming.jobs import event_transitions_stream

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        ev = load(spark, SF, "events").orderBy("ts", "event_id")
        src = str(tmp_path / "chunk_ev")
        os.makedirs(src, exist_ok=True)
        p = os.path.join(src, "c0.parquet")
        ev.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)

        stream = file_stream(spark, src + "/*", ev.schema)
        q = (
            event_transitions_stream(stream)
            .writeStream.format("memory")
            .queryName("chunked_pairs")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_chunk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None
        streamed = Counter(
            (r.prev_type, r.next_type) for r in spark.table("chunked_pairs").collect()
        )
        batch = {
            (r.prev_type, r.next_type): r.transition_ct
            for r in get_plans()["event_transitions"].build(spark, SF).collect()
        }
        assert dict(streamed) == batch
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
