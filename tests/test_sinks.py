"""Sink semantics (SURVEY.md §2.1 S3/S5/S6) — foreachBatch writers.

Exercised through real streaming queries over a 2-chunk file replay,
so multi-micro-batch behavior (upsert last-write-wins across batches,
append routing) is what's tested — not just the helper functions.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from gmall_realtime2021_spark.plans import get_plans
from gmall_realtime2021_spark.sources import file_stream
from gmall_realtime2021_spark.streaming import (
    dim_upsert_sink,
    dynamic_route_files,
    dynamic_topic_kafka,
    stats_store_sink,
)


def _write_chunks(spark, tmp_path, rows_per_chunk):
    """Write chunks of (id, v, ts) rows as separate files, ascending mtime."""
    import time

    d = str(tmp_path / "in")
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate(rows_per_chunk):
        df = spark.createDataFrame(rows, "id long, v string, ver long")
        p = os.path.join(d, f"c{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = time.time() - 60 + i * 10
        os.utime(p, (t, t))
    return d


def _run(df, fn, tmp_path, name):
    q = (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


@pytest.mark.slow
def test_dim_upsert_last_write_wins(spark, tmp_path):
    src = _write_chunks(
        spark,
        tmp_path,
        [
            [(1, "a", 1), (2, "b", 1)],
            [(1, "a2", 2), (3, "c", 1)],
        ],
    )
    schema = "id long, v string, ver long"
    stream = file_stream(spark, src + "/*.parquet", schema, max_files_per_trigger=1)
    dim_dir = str(tmp_path / "dim")
    _run(stream, dim_upsert_sink(dim_dir, "id", version_col="ver"), tmp_path, "dim")
    got = {(r.id, r.v, r.ver) for r in spark.read.parquet(dim_dir).collect()}
    assert got == {(1, "a2", 2), (2, "b", 1), (3, "c", 1)}


@pytest.mark.slow
def test_dynamic_route_files(spark, tmp_path):
    src = _write_chunks(
        spark,
        tmp_path,
        [[(1, "x", 1), (2, "y", 1)], [(3, "x", 1)]],
    )
    stream = (
        file_stream(spark, src + "/*.parquet", "id long, v string, ver long", max_files_per_trigger=1)
        .withColumn("sink_table", F.concat(F.lit("dwd_"), "v"))
    )
    out = str(tmp_path / "routed")
    _run(stream, dynamic_route_files(out), tmp_path, "route")
    routed = spark.read.parquet(out)
    got = {(r.sink_table, r.id) for r in routed.collect()}
    assert got == {("dwd_x", 1), ("dwd_y", 2), ("dwd_x", 3)}


def test_dynamic_topic_kafka_shape(spark):
    df = spark.createDataFrame([(1, "dwd_a")], "id long, sink_table string")
    shaped = dynamic_topic_kafka(df, brokers="unused:9092")
    row = shaped.collect()[0]
    assert shaped.columns == ["topic", "value"]
    assert row.topic == "dwd_a" and '"id":1' in row.value


@pytest.mark.slow
def test_stats_store_drops_transient_cols(spark, tmp_path):
    """Transient columns are dropped; rows carry the epoch partition
    column (__batch_id) that makes the store idempotent — a
    re-delivered micro-batch overwrites its own partition instead of
    double-appending (asserted by re-running the same write)."""
    src = _write_chunks(spark, tmp_path, [[(1, "a", 7)]])
    stream = file_stream(spark, src + "/*.parquet", "id long, v string, ver long")
    out = str(tmp_path / "stats")
    sink = stats_store_sink(out, transient_cols=("ver",))
    _run(stream, sink, tmp_path, "stats")
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["__batch_id", "id", "v"]
    assert got.count() == 1
    # simulate at-least-once redelivery of the same epoch: the write
    # must replace, not append
    sink(spark.createDataFrame([(1, "a", 7)], "id long, v string, ver long"), 0)
    assert spark.read.parquet(out).count() == 1


@pytest.mark.slow
def test_jdbc_stats_sink_real_roundtrip(spark, tmp_path):
    """S6's REAL write path: a streaming query foreachBatch'ing into
    an actual JDBC database (embedded Derby — it ships in Spark's own
    jars, no external service). Asserts the transient-column drop AND
    that multi-batch appends accumulate, then reads the table back
    through spark.read.jdbc for the full round trip the parquet
    stand-in can't exercise."""
    from gmall_realtime2021_spark.streaming import jdbc_stats_sink

    url = f"jdbc:derby:memory:stats_{os.getpid()};create=true"
    src = _write_chunks(spark, tmp_path, [[(1, "a", 7)], [(2, "b", 8)]])
    stream = file_stream(spark, src + "/*.parquet", "id long, v string, ver long")
    _run(stream, jdbc_stats_sink(url, "visitor_stats", transient_cols=("ver",)), tmp_path, "jdbc")
    got = spark.read.jdbc(url, "visitor_stats")
    assert sorted(c.lower() for c in got.columns) == ["id", "v"]
    cid, cv = sorted(got.columns, key=str.lower)
    assert sorted((r[cid], r[cv]) for r in got.collect()) == [(1, "a"), (2, "b")]


def test_idempotent_jdbc_sink_survives_redelivery(spark, tmp_path):
    """The at-least-once window: a micro-batch replayed after a crash
    between store-commit and checkpoint-commit must overwrite itself,
    not double-insert. Replay batch 0 twice, then deliver batch 1 —
    the store holds each batch's rows exactly once."""
    from gmall_realtime2021_spark.streaming.sinks import idempotent_jdbc_stats_sink

    url = "jdbc:derby:memory:idemdb;create=true"
    write = idempotent_jdbc_stats_sink(url, "stats_idem", transient_cols=("tmp",))
    b0 = spark.createDataFrame([(1, 10.0, "x"), (2, 20.0, "x")], "k long, v double, tmp string")
    b1 = spark.createDataFrame([(3, 30.0, "x")], "k long, v double, tmp string")

    write(b0, 0)
    write(b0, 0)  # redelivery of the same epoch
    write(b1, 1)

    back = spark.read.jdbc(url, "stats_idem")
    cols = {c.lower(): c for c in back.columns}
    rows = {
        (r[cols["k"]], r[cols["v"]], r[cols["__batch_id"]]) for r in back.collect()
    }
    assert rows == {(1, 10.0, 0), (2, 20.0, 0), (3, 30.0, 1)}
    assert "tmp" not in [c.lower() for c in back.columns]


@pytest.mark.slow
def test_hll_sketch_maintenance_sink_matches_batch(spark, tmp_path):
    """Streaming sketch maintenance ≡ batch: after two micro-batches,
    the stored per-day sketch table estimates exactly what one-pass
    batch sketching estimates for every day (HLL union register state
    is split-insensitive), without any fact re-read."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.operators.sketches import daily_user_sketches
    from gmall_realtime2021_spark.sources.streams import file_stream
    from gmall_realtime2021_spark.streaming.sinks import hll_sketch_maintenance_sink
    from gmall_realtime2021_spark.tables import load

    SF = "/root/testdata/sf0.001"
    ev = load(spark, SF, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "hll_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _time.time() - 60 + i * 10
        os.utime(p, (t, t))

    sketch_dir = str(tmp_path / "sketches")
    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(hll_sketch_maintenance_sink(sketch_dir))
        .option("checkpointLocation", str(tmp_path / "ck_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    streamed = {
        r.d: r.est
        for r in spark.read.parquet(sketch_dir)
        .select("d", F.hll_sketch_estimate("sketch").alias("est"))
        .collect()
    }
    batch = {
        r.d: r.est
        for r in daily_user_sketches(load(spark, SF, "events"))
        .select("d", F.hll_sketch_estimate("sketch").alias("est"))
        .collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_cms_sketch_maintenance_sink_equals_batch_exactly(spark, tmp_path):
    """Streaming Count-Min maintenance ≡ batch BIT-EXACTLY: counter
    sums are associative/commutative integers, so after two
    micro-batches the stored (d, i, bucket, ct) table must equal the
    one-pass batch build row for row (stronger than the HLL test's
    estimate equality), and range estimates must dominate exact
    counts."""
    import os
    import time as _time

    from gmall_realtime2021_spark.operators.sketches import (
        cms_range_estimate,
        daily_type_cms,
    )
    from gmall_realtime2021_spark.sources.streams import file_stream
    from gmall_realtime2021_spark.streaming.sinks import cms_sketch_maintenance_sink
    from gmall_realtime2021_spark.tables import load

    SF = "/root/testdata/sf0.001"
    ev = load(spark, SF, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "cms_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _time.time() - 60 + i * 10
        os.utime(p, (t, t))

    sketch_dir = str(tmp_path / "cms")
    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(cms_sketch_maintenance_sink(sketch_dir))
        .option("checkpointLocation", str(tmp_path / "ck_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    stored = spark.read.parquet(sketch_dir)
    streamed = {(r.d, r.i, r.bucket): r.ct for r in stored.collect()}
    batch = {
        (r.d, r.i, r.bucket): r.ct
        for r in daily_type_cms(load(spark, SF, "events")).collect()
    }
    assert streamed == batch

    exact = {
        r.event_type: r.ct
        for r in load(spark, SF, "events").groupBy("event_type").count().withColumnRenamed("count", "ct").collect()
    }
    terms = sorted(exact) + ["never_seen_type"]
    est = {r.term: r.est for r in cms_range_estimate(stored, terms).collect()}
    for t, c in exact.items():
        assert est[t] >= c, (t, est[t], c)
    # the phantom term has no floor other than 0; it must still be
    # present in the probe output (left join, coalesced counters)
    assert "never_seen_type" in est


def _payment_enrich_swap_case(spark, sf_dir, tmp_path, monkeypatch, store):
    """(deliver(k), state(), reference state) for the payment-enrich
    serving store: bootstrapped from the lake layout, then upserted with
    NEW purchase events; the reference is the ``bucketed_payment_enrich``
    plan over the layout the batches were ingested into."""
    from gmall_realtime2021_spark.streaming.sinks import (
        payment_enrich_bootstrap,
        payment_enrich_upsert_batch,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path / "wh"))
    payment_enrich_bootstrap(spark, sf_dir, store)
    ev = load(spark, sf_dir, "events")
    id_base = ev.agg(F.max("event_id")).collect()[0][0] + 1
    # disjoint users per batch, so no batch's recompute repairs rows an
    # earlier one wrote
    batches = [
        ev.filter(F.col("user_id") % 3 == k)
        .limit(20)
        .withColumn("event_id", F.col("event_id") + (k + 1) * id_base)
        .withColumn("event_type", F.lit("purchase"))
        for k in range(3)
    ]

    def deliver(k):
        assert payment_enrich_upsert_batch(spark, sf_dir, batches[k], k, store)

    def rows(df):
        return sorted(
            (r.pay_id, r.user_id, r.pay_time, r.prior_ct, round(r.prior_value or 0.0, 2))
            for r in df.collect()
        )

    def want():
        return rows(get_plans()["bucketed_payment_enrich"].build(spark, sf_dir))

    return deliver, lambda: rows(spark.read.parquet(store)), want


def test_dim_upsert_recovers_from_stale_old_next_to_intact_table(spark, tmp_path):
    """Crash window between `rename(tmp, dim_dir)` and `rmtree(old)`:
    both dim_dir and a NON-EMPTY .old exist. The next batch must
    discard the stale .old and proceed — not raise on renaming the
    table onto a non-empty directory (which would wedge the sink)."""
    import shutil

    from gmall_realtime2021_spark.streaming.sinks import dim_upsert_batch

    dim_dir = str(tmp_path / "dim")
    b1 = spark.createDataFrame([(1, "a")], "id long, v string")
    dim_upsert_batch(b1, dim_dir, "id")
    # simulate the crash: a populated .old sitting next to the intact table
    shutil.copytree(dim_dir, dim_dir + ".old")
    b2 = spark.createDataFrame([(2, "b")], "id long, v string")
    dim_upsert_batch(b2, dim_dir, "id")  # must not raise
    got = {(r.id, r.v) for r in spark.read.parquet(dim_dir).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert not os.path.isdir(dim_dir + ".old")


def test_dim_upsert_recovers_table_from_old_after_swap_crash(spark, tmp_path):
    """Crash window between `rename(dim_dir, old)` and `rename(tmp,
    dim_dir)`: .old holds the ONLY copy. The next batch must restore it
    before merging, so no prior upsert is lost."""
    from gmall_realtime2021_spark.streaming.sinks import dim_upsert_batch

    dim_dir = str(tmp_path / "dim")
    b1 = spark.createDataFrame([(1, "a")], "id long, v string")
    dim_upsert_batch(b1, dim_dir, "id")
    os.rename(dim_dir, dim_dir + ".old")  # simulate mid-swap crash
    b2 = spark.createDataFrame([(2, "b")], "id long, v string")
    dim_upsert_batch(b2, dim_dir, "id")
    got = {(r.id, r.v) for r in spark.read.parquet(dim_dir).collect()}
    assert got == {(1, "a"), (2, "b")}


@pytest.mark.parametrize("name", ["dim", "hll", "cms", "scd2", "bloom", "payment_enrich"])
def test_table_swap_recovers_both_crash_windows(spark, sf_dir, tmp_path, monkeypatch, name):
    """Every sink that rewrites its table through the ``.tmp``/``.old``
    directory swap survives both crash windows of that swap:

    - a crash between the two renames leaves ``.old`` as the ONLY copy
      (plus a half-written ``.tmp``) — the next batch must restore it
      before merging, or all prior history is lost;
    - a crash after them leaves a stale ``.old`` (here an older
      generation) next to the intact table — the next batch must
      discard it rather than restore it or fail renaming onto it.

    The store then equals a crash-free build over the same batches."""
    import shutil

    from gmall_realtime2021_spark.streaming.sinks import dim_upsert_sink

    target = str(tmp_path / name)
    if name == "payment_enrich":
        deliver, state, want = _payment_enrich_swap_case(
            spark, sf_dir, tmp_path, monkeypatch, target
        )
    else:
        specs = {s[0]: s[1:] for s in _event_sink_specs(spark)}
        _, chunks, frame, _ = specs["hll"]
        specs["dim"] = (
            lambda d: dim_upsert_sink(d, "user_id", "event_id"),
            chunks,
            frame,
            lambda d: sorted(tuple(r) for r in spark.read.parquet(d).collect()),
        )
        make_sink, chunks, frame, read = specs[name]
        # disjoint users per batch, so every batch leaves rows of its own
        # in the final table
        chunks = [[(u + 1000 * k, *rest) for u, *rest in c] for k, c in enumerate(chunks)]
        sink = make_sink(target)

        def deliver(k):
            sink(frame(chunks[k]), k)

        def state():
            return read(target)

        def want():
            ref = str(tmp_path / "ref")
            make_sink(ref)(frame([r for c in chunks[:3] for r in c]), 0)
            return read(ref)

    deliver(0)
    stale = str(tmp_path / "stale")
    shutil.copytree(target, stale)
    # window 1: died after rename(target, .old), before rename(.tmp, target)
    os.rename(target, target + ".old")
    os.makedirs(target + ".tmp")
    deliver(1)
    assert not os.path.exists(target + ".old")
    # window 2: died after both renames, before dropping .old
    shutil.copytree(stale, target + ".old")
    deliver(2)
    assert not os.path.exists(target + ".old")
    assert not os.path.exists(target + ".tmp")
    got = state()
    assert got and got == want()


def test_stats_store_sink_rejects_legacy_root_layout(spark, tmp_path):
    """A directory from the pre-partitioned append sink (bare parquet
    at the root) must fail fast with a clear message, not die later in
    partition discovery with 'conflicting directory structures'."""
    import pytest

    out = str(tmp_path / "stats")
    os.makedirs(out)
    with open(os.path.join(out, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1")
    sink = stats_store_sink(out)
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(ValueError, match="legacy append layout"):
        sink(batch, 0)


@pytest.mark.slow
def test_postings_index_incremental_equals_batch(spark, tmp_path):
    """The BM25 inverted index maintained incrementally (two
    deliveries through postings_index_sink, plus an at-least-once
    replay of the second epoch) must score IDENTICALLY to a batch
    index built over the full corpus — df and corpus stats are derived
    from the postings, so append-only maintenance is exact by
    construction, and the epoch-partitioned store makes the replay a
    no-op instead of a double-count."""
    from gmall_realtime2021_spark.operators.retrieval import (
        bm25_micro,
        doc_postings,
        query_terms,
    )
    from gmall_realtime2021_spark.streaming.sinks import postings_index_sink

    corpus = [
        (10, "spark shuffles the postings by token"),
        (11, "postings list the tokens of every document"),
        (12, "token frequencies weight the match"),
        (13, "an unrelated sentence about broadcast joins"),
    ]
    queries = spark.createDataFrame(
        [(0, "postings token match")], "doc_id long, text string"
    )
    idx = str(tmp_path / "index")
    sink = postings_index_sink(idx)
    delivery0 = spark.createDataFrame(corpus[:2], "doc_id long, text string")
    delivery1 = spark.createDataFrame(corpus[2:], "doc_id long, text string")
    sink(delivery0, 0)
    sink(delivery1, 1)
    sink(delivery1, 1)  # at-least-once: the SAME epoch redelivered verbatim

    incr_postings = spark.read.parquet(idx).drop("__batch_id")
    qterms = query_terms(queries)
    got = {
        (r.q_id, r.c_id): r.micro
        for r in bm25_micro(incr_postings, qterms).collect()
    }
    full = spark.createDataFrame(corpus, "doc_id long, text string")
    want = {
        (r.q_id, r.c_id): r.micro
        for r in bm25_micro(doc_postings(full), qterms).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_bloom_maintenance_sink_equals_batch_and_is_replay_safe(spark, tmp_path):
    """Streaming Bloom maintenance ≡ batch BIT-EXACTLY: the filter is
    a position SET, so after two micro-batches the stored positions
    must equal the one-pass batch build's (the same salted hash family
    bloom_membership uses), and re-delivering a batch must change
    NOTHING — Bloom union is idempotent, the replay-safety story the
    counter sketches need epochs for."""
    import os
    import time as _time

    from gmall_realtime2021_spark.operators.sketches import bloom_positions
    from gmall_realtime2021_spark.sources.streams import file_stream
    from gmall_realtime2021_spark.streaming.sinks import bloom_filter_maintenance_sink
    from gmall_realtime2021_spark.tables import load

    SF = "/root/testdata/sf0.001"
    orders = load(spark, SF, "orders").select("o_custkey").orderBy("o_custkey")
    src = str(tmp_path / "bf_orders")
    os.makedirs(src, exist_ok=True)
    half = orders.count() // 2
    chunks = [orders.limit(half), orders.exceptAll(orders.limit(half))]
    for i, ch in enumerate(chunks):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _time.time() - 60 + i * 10
        os.utime(p, (t, t))

    filter_dir = str(tmp_path / "bf")
    write = bloom_filter_maintenance_sink(filter_dir, "o_custkey")
    stream = file_stream(
        spark, src + "/*.parquet", orders.schema, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ck_bf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    streamed = {r.pos for r in spark.read.parquet(filter_dir).collect()}
    batch = {
        r.pos
        for r in load(spark, SF, "orders")
        .select(F.explode(bloom_positions(F.col("o_custkey"))).alias("pos"))
        .distinct()
        .collect()
    }
    assert streamed == batch and len(streamed) > 0

    # replay: re-deliver chunk 0 through the sink directly — idempotent
    write(spark.read.parquet(os.path.join(src, "c0.parquet")), 99)
    assert {r.pos for r in spark.read.parquet(filter_dir).collect()} == batch

    # no false negatives: every real key's k positions are all present
    probe = (
        load(spark, SF, "orders")
        .select(F.explode(bloom_positions(F.col("o_custkey"))).alias("pos"))
        .distinct()
    )
    assert probe.exceptAll(spark.read.parquet(filter_dir)).count() == 0


@pytest.mark.slow
def test_scd2_maintenance_sink_equals_batch_build(spark, tmp_path):
    """Streaming SCD2 maintenance ≡ batch build EXACTLY: after the
    event stream arrives in two in-order micro-batches, the at-rest
    versioned dim must equal scd2_dim_build's one-pass output row for
    row — versions, validity intervals, and the open current rows
    included. Chunk boundary falls mid-history for many users, so the
    seed-row stitch (close current, continue numbering) is exercised,
    not just appends."""
    import os
    import time as _time

    from gmall_realtime2021_spark.sources.streams import file_stream
    from gmall_realtime2021_spark.streaming.sinks import scd2_maintenance_sink
    from gmall_realtime2021_spark.tables import load

    SF = "/root/testdata/sf0.001"
    ev = (
        load(spark, SF, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("ts", "event_id")
    )
    src = str(tmp_path / "scd2_ev")
    os.makedirs(src, exist_ok=True)
    half = ev.count() // 2
    for i, ch in enumerate([ev.limit(half), ev.exceptAll(ev.limit(half))]):
        p = os.path.join(src, f"c{i}.parquet")
        ch.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _time.time() - 60 + i * 10
        os.utime(p, (t, t))

    dim_dir = str(tmp_path / "scd2_dim")
    stream = file_stream(spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(scd2_maintenance_sink(dim_dir))
        .option("checkpointLocation", str(tmp_path / "ck_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    cols = ("user_id", "event_type", "valid_from", "valid_to", "version", "is_current")
    streamed = sorted(tuple(r[c] for c in cols) for r in spark.read.parquet(dim_dir).collect())
    batch = sorted(
        tuple(r[c] for c in cols)
        for r in get_plans()["scd2_dim_build"].build(spark, SF).collect()
    )
    assert streamed == batch and len(streamed) > 0
    # the split genuinely exercised the stitch: some user must have
    # history on both sides of the boundary (version > 1 rows exist)
    assert any(t[4] > 1 for t in streamed)

    # at-least-once replay guard: foreachBatch may re-deliver an
    # already-applied batch after a crash-between-swap-and-checkpoint.
    # Re-delivering batch 1 (and the stale batch 0) directly through
    # the sink must be a NO-OP — without the _last_batch marker the
    # replayed events would sort around the event_id=-1 seed rows and
    # corrupt versions/intervals.
    write = scd2_maintenance_sink(dim_dir)
    c1 = spark.read.parquet(os.path.join(src, "c1.parquet"))
    write(c1, 1)
    write(spark.read.parquet(os.path.join(src, "c0.parquet")), 0)
    replayed = sorted(
        tuple(r[c] for c in cols) for r in spark.read.parquet(dim_dir).collect()
    )
    assert replayed == batch
    # a genuinely NEW batch id still applies (guard is <=, not ==):
    # deliver one later event for one user and expect a new version
    u = next(t[0] for t in streamed if t[5] == 1)
    cur_rows = [t for t in streamed if t[0] == u]
    newev = spark.createDataFrame(
        [(u, "__new_type__", c1.agg(F.max("ts")).collect()[0][0], 10**12)],
        ev.schema,
    )
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("sql.streaming.queryId", "lineage-A")
        write(newev, 2)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    after = [
        r
        for r in spark.read.parquet(dim_dir).collect()
        if r["user_id"] == u
    ]
    assert len(after) == len(cur_rows) + 1
    assert any(r["event_type"] == "__new_type__" and r["is_current"] == 1 for r in after)

    # checkpoint-reset detection: a NEW streaming lineage restarts
    # batch ids at 0; a batch_id at-or-below the marker must still
    # APPLY when the query id differs (else every delivery from the
    # fresh checkpoint silently no-ops until it outruns the stale
    # marker — silent data loss). Simulate via the thread-local the
    # sink reads inside foreachBatch.
    try:
        sc.setLocalProperty("sql.streaming.queryId", "fresh-lineage-after-reset")
        reset_ev = spark.createDataFrame(
            [(u, "__reset_type__", c1.agg(F.max("ts") + F.expr("INTERVAL 1 SECOND")).collect()[0][0], 10**12 + 1)],
            ev.schema,
        )
        write2 = scd2_maintenance_sink(dim_dir)
        write2(reset_ev, 0)  # 0 <= marker, but lineage differs → applies
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    post_reset = [
        r for r in spark.read.parquet(dim_dir).collect() if r["user_id"] == u
    ]
    assert any(
        r["event_type"] == "__reset_type__" and r["is_current"] == 1 for r in post_reset
    )
    # and the marker now records the new lineage
    with open(os.path.join(dim_dir, "_last_batch")) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "0" and lines[1] == "fresh-lineage-after-reset"

    # truncated-marker recovery: the marker is fsynced, but a power
    # loss can still leave it zero-length or garbled (torn write on a
    # non-journaling fs). An unparseable marker must degrade to
    # "absent" — the next delivery APPLIES (at-least-once semantics)
    # instead of raising IndexError/ValueError on every delivery and
    # wedging the sink until manual cleanup — and the rewrite heals
    # the marker.
    from datetime import timedelta

    last_ts = c1.agg(F.max("ts")).collect()[0][0]
    for n, garbage in enumerate(("", "not-a-number\nlineage-A")):
        with open(os.path.join(dim_dir, "_last_batch"), "w") as fh:
            fh.write(garbage)
        heal_ev = spark.createDataFrame(
            [(u, f"__heal_{n}__", last_ts + timedelta(seconds=n + 2), 10**12 + 2 + n)],
            ev.schema,
        )
        write3 = scd2_maintenance_sink(dim_dir)
        write3(heal_ev, 7 + n)  # must apply, not raise
        healed = [
            r for r in spark.read.parquet(dim_dir).collect() if r["user_id"] == u
        ]
        assert any(
            r["event_type"] == f"__heal_{n}__" and r["is_current"] == 1 for r in healed
        )
        with open(os.path.join(dim_dir, "_last_batch")) as fh:
            assert fh.read().splitlines()[0] == str(7 + n)  # marker healed


@pytest.mark.slow
def test_lm_counts_sink_incremental_equals_batch(spark, tmp_path):
    """The bigram-LM model maintained incrementally (two deliveries
    through lm_counts_sink, plus an at-least-once replay of the
    second epoch) must score IDENTICALLY to the batch model built
    over the full corpus in one pass — counts are additive integers
    and the score fold is position-pinned, so batch ==
    incrementally-maintained is exact, not approximate; the
    epoch-partitioned store makes the replay a no-op instead of a
    double-count."""
    from gmall_realtime2021_spark.operators.lm import (
        lm_model_counts,
        lm_posrows,
        lm_score_docs,
    )
    from gmall_realtime2021_spark.streaming.sinks import lm_counts_sink

    corpus = [
        (10, "the model scores fluent sentences higher than noise"),
        (11, "the model scores the corpus it was trained on"),
        (12, "noise tokens qqq zzz kkk scramble the fluent signal"),
        (13, "sentences trained on the corpus stay fluent"),
        (14, "zzz the the the qqq"),
        (15, "too"),  # single token: no bigrams, drops from scoring
    ]
    full = spark.createDataFrame(corpus, "doc_id long, text string")

    # batch model — the lm_bigram_score plan's in-plan count build
    posrows = lm_posrows(full)
    c1 = posrows.groupBy("w").agg(F.count("*").alias("c1"))
    c2 = posrows.groupBy("b").agg(F.count("*").alias("c2"))
    vrow = posrows.agg(F.count_distinct("w").alias("vsz"))
    want = {
        r.doc_id: (r.n_bigrams, r.lm_score)
        for r in lm_score_docs(posrows, c1, c2, vrow).collect()
    }

    # incremental model: two deliveries + a verbatim replay of epoch 1
    store = str(tmp_path / "lm_counts")
    sink = lm_counts_sink(store)
    sink(full.filter(F.col("doc_id") <= 12), 0)
    sink(full.filter(F.col("doc_id") > 12), 1)
    sink(full.filter(F.col("doc_id") > 12), 1)  # at-least-once redelivery
    ic1, ic2, ivrow = lm_model_counts(spark.read.parquet(store).drop("__batch_id"))
    got = {
        r.doc_id: (r.n_bigrams, r.lm_score)
        for r in lm_score_docs(lm_posrows(full), ic1, ic2, ivrow).collect()
    }
    assert got == want
    assert len(want) == 5 and 15 not in want  # bigram-less doc drops on both sides


@pytest.mark.slow
def test_phash_index_sink_incremental_equals_batch(spark, tmp_path):
    """The image-fingerprint index maintained incrementally (two
    media deliveries through phash_index_sink, plus an at-least-once
    replay of the second epoch) must yield IDENTICAL near-dup pairs
    to hashing the full media table in one batch — fingerprints are
    pure per-row functions of immutable payloads, so append-only
    maintenance is exact, and the epoch-partitioned store absorbs
    the replay."""
    from gmall_realtime2021_spark.multimodal import synthesize_media
    from gmall_realtime2021_spark.multimodal.phash import image_dhash
    from gmall_realtime2021_spark.operators.dedup import hamming_band_pairs
    from gmall_realtime2021_spark.plans.media_dedup import MEDIA_MAX_HAMMING
    from gmall_realtime2021_spark.streaming.sinks import phash_index_sink

    base = "a quick brown fox jumps over the lazy dog and keeps running " * 3
    docs = spark.createDataFrame(
        [
            (0, base),
            (3, base[:40] + "~" + base[41:]),  # near-dup of 0 (same length)
            (6, "a completely different document about spark shuffle economics " * 3),
            (9, base),  # exact dup of 0
        ],
        "doc_id long, text string",
    )
    media = synthesize_media(docs)

    def pair_set(fp):
        return {
            (r.a, r.b, r.hamming)
            for r in hamming_band_pairs(
                fp, max_hamming=MEDIA_MAX_HAMMING, id_col="media_id", fp_col="dhash", bits=64
            ).collect()
        }

    want = pair_set(image_dhash(media))
    assert (0, 9, 0) in want and any(a == 0 and b == 3 for a, b, _ in want)

    idx = str(tmp_path / "phash_index")
    sink = phash_index_sink(idx)
    sink(media.filter(F.col("media_id") <= 3), 0)
    sink(media.filter(F.col("media_id") > 3), 1)
    sink(media.filter(F.col("media_id") > 3), 1)  # at-least-once redelivery
    stored = spark.read.parquet(idx).drop("__batch_id")
    assert pair_set(stored) == want


@pytest.mark.slow
def test_phash_index_sink_through_real_stream(spark, tmp_path):
    """phash_index_sink driven by an ACTUAL Structured Streaming query
    (file source throttled to one file per micro-batch, foreachBatch,
    checkpointed): the index accumulated across the stream's
    micro-batches must yield the same near-dup pairs as one batch
    hash over the full media table — the wiring-level twin of the
    direct-write test above."""
    import time as _t

    from pyspark.sql import types as T

    from gmall_realtime2021_spark.multimodal import synthesize_media
    from gmall_realtime2021_spark.multimodal.phash import image_dhash
    from gmall_realtime2021_spark.operators.dedup import hamming_band_pairs
    from gmall_realtime2021_spark.plans.media_dedup import MEDIA_MAX_HAMMING
    from gmall_realtime2021_spark.sources import file_stream
    from gmall_realtime2021_spark.streaming.sinks import phash_index_sink

    base = "the same render re-encoded with one tiny edit somewhere " * 3
    docs = [
        (0, base),
        (3, base[:25] + "~" + base[26:]),
        (6, "an entirely different frame about watermark semantics " * 3),
        (9, base),
    ]
    # one parquet file per doc => maxFilesPerTrigger=1 forces one
    # micro-batch per document through the sink
    src = str(tmp_path / "media_in")
    os.makedirs(src, exist_ok=True)
    for i, row in enumerate(docs):
        p = os.path.join(src, f"m{i}.parquet")
        spark.createDataFrame([row], "doc_id long, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _t.time() - 60 + i * 10
        os.utime(p, (t, t))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = synthesize_media(file_stream(spark, src, schema, max_files_per_trigger=1))
    idx = str(tmp_path / "phash_idx")
    q = (
        stream.writeStream.foreachBatch(phash_index_sink(idx))
        .option("checkpointLocation", str(tmp_path / "ckpt_phash"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def pair_set(fp):
        return {
            (r.a, r.b, r.hamming)
            for r in hamming_band_pairs(
                fp, max_hamming=MEDIA_MAX_HAMMING, id_col="media_id", fp_col="dhash", bits=64
            ).collect()
        }

    stored = spark.read.parquet(idx)
    assert stored.select("__batch_id").distinct().count() > 1  # really multi-batch
    got = pair_set(stored.drop("__batch_id"))
    want = pair_set(
        image_dhash(synthesize_media(spark.createDataFrame(docs, "doc_id long, text string")))
    )
    assert got == want and (0, 9, 0) in want


# ---------------------------------------------------------------------------
# Randomized crash-replay chaos across ALL maintenance sinks
# ---------------------------------------------------------------------------


def _chaos_schedule(rng, n):
    """A legal at-least-once foreachBatch delivery schedule over batches
    0..n-1 within ONE checkpoint lineage: first deliveries arrive in
    order, but each crash-and-restart re-delivers a suffix of
    already-applied batches (checkpoint lag) before progress resumes —
    so the schedule contains DUPLICATES (same id twice) and REORDERING
    (an old id arriving after newer ones). One rewind is forced so
    every seed exercises replay; the run always ends with a crash
    after the final delivery whose restart replays a suffix including
    the final batch."""
    sched = []
    forced_rewind = rng.randrange(1, n)
    for frontier in range(n):
        if frontier > 0 and (frontier == forced_rewind or rng.random() < 0.4):
            start = rng.randrange(max(0, frontier - 3), frontier)
            sched.extend(range(start, frontier))
        sched.append(frontier)
    sched.extend(range(rng.randrange(max(0, n - 2), n), n))
    return sched


N_CHUNKS = 4


def _event_sink_specs(spark):
    """Per-sink (make_sink(dir), batch chunks, frame builder, state
    reader) specs of the event-fed maintenance sinks that rewrite their
    table in place (HLL, CMS, SCD2, Bloom). Frames are rebuilt from
    collected rows so a replayed batch is delivered VERBATIM, as
    Structured Streaming would re-deliver it from the offsets log."""
    import datetime

    from gmall_realtime2021_spark.streaming.sinks import (
        bloom_filter_maintenance_sink,
        cms_sketch_maintenance_sink,
        hll_sketch_maintenance_sink,
        scd2_maintenance_sink,
    )

    # events: 3 days × 15 users × 4 types, ordered by (ts, event_id) so
    # contiguous chunks satisfy the SCD2 per-user event-time contract
    ev_schema = "user_id long, event_type string, ts timestamp, event_id long"
    types = ["view", "cart", "buy", "fav"]
    ev_rows = []
    for i in range(120):
        ts = datetime.datetime(2021, 6, 1 + (i // 40), 8, i % 40, i % 7)
        ev_rows.append((i % 15, types[(i * 7 + i // 15) % 4], ts, i))
    ev_chunks = [ev_rows[i * 30 : (i + 1) * 30] for i in range(N_CHUNKS)]

    def ev_frame(rows):
        return spark.createDataFrame(rows, ev_schema)

    def read_store(d):
        return spark.read.parquet(str(d))

    def hll_state(d):
        return {
            r.d: r.est
            for r in read_store(d)
            .select("d", F.hll_sketch_estimate("sketch").alias("est"))
            .collect()
        }

    def cms_state(d):
        return {(r.d, r.i, r.bucket): r.ct for r in read_store(d).collect()}

    def scd2_state(d):
        cols = ("user_id", "event_type", "valid_from", "valid_to", "version", "is_current")
        return sorted(tuple(r[c] for c in cols) for r in read_store(d).collect())

    def bloom_state(d):
        return {r.pos for r in read_store(d).collect()}

    return [
        # (name, make_sink(dir), chunks, frame builder, state reader)
        ("hll", hll_sketch_maintenance_sink, ev_chunks, ev_frame, hll_state),
        ("cms", cms_sketch_maintenance_sink, ev_chunks, ev_frame, cms_state),
        ("scd2", scd2_maintenance_sink, ev_chunks, ev_frame, scd2_state),
        (
            "bloom",
            lambda d: bloom_filter_maintenance_sink(d, "user_id"),
            ev_chunks,
            ev_frame,
            bloom_state,
        ),
    ]


def _seed_chaos_specs(spark, tmp_path):
    """The chaos test's per-sink specs: the event-fed sinks of
    :func:`_event_sink_specs` plus the epoch-partitioned index sinks
    fed by documents and synthesized media."""
    from gmall_realtime2021_spark.multimodal import synthesize_media
    from gmall_realtime2021_spark.streaming.sinks import (
        afp_index_sink,
        lm_counts_sink,
        phash_index_sink,
        postings_index_sink,
        video_index_sink,
    )


    # documents: doc_id mod 3 cycles media kind (0=image, 1=audio,
    # 2=video) so ONE synthesized media table feeds all three
    # fingerprint index sinks; each modality has an exact dup pair
    # split across batch boundaries (0/9 image, 1/4 audio, 2/5 video)
    base = "a quick brown fox jumps over the lazy dog and keeps running " * 3
    base2 = "spark shuffles the postings by token and weights the match " * 2
    base3 = "token frequencies weight the match in every document " * 2
    doc_rows = [
        (0, base),
        (1, base2),
        (2, base3),
        (3, base[:40] + "~" + base[41:]),
        (9, base),      # image dup of 0
        (4, base2),     # audio dup of 1
        (5, base3),     # video dup of 2
        (7, "a completely different document about shuffle economics " * 2),
    ]
    doc_chunks = [doc_rows[i * 2 : (i + 1) * 2] for i in range(N_CHUNKS)]

    def doc_frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    media_schema = synthesize_media(doc_frame(doc_rows)).schema
    media_chunks = [
        synthesize_media(doc_frame(rows)).collect() for rows in doc_chunks
    ]

    def media_frame(rows):
        return spark.createDataFrame(rows, media_schema)

    def read_store(d):
        return spark.read.parquet(str(d))

    def epoch_state(d):
        df = read_store(d).drop("__batch_id")
        return sorted(tuple(r) for r in df.collect())

    def lm_state(d):
        merged = (
            read_store(d)
            .groupBy("kind", "k")
            .agg(F.sum("ct").alias("ct"))
            .collect()
        )
        return {(r.kind, r.k): r.ct for r in merged}

    return _event_sink_specs(spark) + [
        # (name, make_sink(dir), chunks, frame builder, state reader)
        ("phash", phash_index_sink, media_chunks, media_frame, epoch_state),
        ("afp", afp_index_sink, media_chunks, media_frame, epoch_state),
        ("video", video_index_sink, media_chunks, media_frame, epoch_state),
        ("lm", lm_counts_sink, doc_chunks, doc_frame, lm_state),
        ("postings", postings_index_sink, doc_chunks, doc_frame, epoch_state),
    ]


@pytest.mark.slow
def test_maintenance_sinks_survive_crash_replay_chaos(spark, tmp_path):
    """Randomized kill-and-restart chaos across ALL maintenance sinks
    at once: the same legal at-least-once delivery schedule —
    duplicate deliveries, rewound (reordered) replays of old batches,
    and a crash that leaves the FINAL batch missing until a late
    restart delivers it — is fed to every foreachBatch maintainer, and
    each store must end IDENTICAL to a clean single-delivery batch
    build. Mid-run, at the crash point where the final batch has not
    yet arrived, each store must equal the batch build over the
    delivered prefix (consistent, not torn). Covers all three
    idempotence families: set/register union (bloom, HLL),
    epoch-partitioned overwrite (phash, afp, video, lm, postings),
    and the _last_batch marker guard (scd2, cms — counter sums would
    double-count without it)."""
    import random

    specs = _seed_chaos_specs(spark, tmp_path)
    n = len(specs[0][2])
    for seed in (7, 23):
        if seed != 7:
            # second seed re-rolls the schedule only for the two sinks
            # whose correctness DEPENDS on schedule shape (the
            # _last_batch marker guard); the idempotent families were
            # already swept under the first seed
            specs = [s for s in specs if s[0] in ("scd2", "cms")]
        rng = random.Random(seed)
        sched = _chaos_schedule(rng, n)
        # the schedule genuinely contains chaos, not just 0..n-1:
        # every batch delivered, at least one duplicate, at least one
        # old id arriving after a newer one
        assert set(sched) == set(range(n)) and len(sched) > n, sched
        assert any(sched[i] > sched[i + 1] for i in range(len(sched) - 1)), sched
        cut = sched.index(n - 1)  # first delivery of the final batch

        for name, make_sink, chunks, frame, state in specs:
            chaos_dir = str(tmp_path / f"{name}_chaos_{seed}")
            sink = make_sink(chaos_dir)
            for b in sched[:cut]:
                sink(frame(chunks[b]), b)
            # crash point: final batch missing — store must equal the
            # batch build over batches 0..n-2 (delivered in order)
            prefix_dir = str(tmp_path / f"{name}_prefix_{seed}")
            prefix_rows = [r for c in chunks[: n - 1] for r in c]
            make_sink(prefix_dir)(frame(prefix_rows), 0)
            assert state(chaos_dir) == state(prefix_dir), (name, seed, "prefix")
            # restart delivers the rest (incl. replays of the final batch)
            for b in sched[cut:]:
                sink(frame(chunks[b]), b)
            full_dir = str(tmp_path / f"{name}_full_{seed}")
            full_rows = [r for c in chunks for r in c]
            make_sink(full_dir)(frame(full_rows), 0)
            got, want = state(chaos_dir), state(full_dir)
            assert got == want and len(want) > 0, (name, seed)


def test_bucketed_append_ingest_and_rebuild(spark, tmp_path, monkeypatch):
    """Incremental ingest into the bucketed fact layout
    (sources/warehouse.append_bucketed_batch):

    1. values: base + two appended batches == the upstream rows
       (bucketed table contents equal the union, bucket layout is
       value-invisible);
    2. replay: re-delivering a batch id is an exact skip (marker
       guard), row count unchanged;
    3. plan: the fact⋈fact merge join stays SHUFFLE-FREE after
       appends (bucketing is table metadata) while the zero-SORT
       guarantee honestly degrades (>1 file per bucket) — and
       rebuild_bucketed_facts (compaction from the upstream lake)
       restores it.
    """
    import re as _re

    from gmall_realtime2021_spark.sources.warehouse import (
        append_bucketed_batch,
        ensure_bucketed_facts,
        rebuild_bucketed_facts,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    orders_t, lineitem_t = ensure_bucketed_facts(spark, sf_dir)

    li = load(spark, sf_dir, "lineitem")
    base_max = li.agg(F.max("l_orderkey")).collect()[0][0]
    b1 = li.limit(500).withColumn("l_orderkey", F.col("l_orderkey") + base_max + 1)
    b2 = li.limit(300).withColumn("l_orderkey", F.col("l_orderkey") + 2 * (base_max + 1))
    n0 = spark.table(lineitem_t).count()
    assert append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey")
    assert append_bucketed_batch(spark, lineitem_t, b2, 2, "l_orderkey")
    # replay of batch 2 must skip exactly
    assert not append_bucketed_batch(spark, lineitem_t, b2, 2, "l_orderkey")
    assert spark.table(lineitem_t).count() == n0 + 800

    # values equal the upstream union (checksum over key+price)
    def sig(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("sk"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")).alias("sp"),
        ).collect()[0]

    assert sig(spark.table(lineitem_t)) == sig(li.unionByName(b1).unionByName(b2))

    def join_plan():
        o = spark.table(orders_t)
        l = spark.table(lineitem_t)
        return (
            l.hint("merge")
            .join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = join_plan()
    assert not _re.search(r"Exchange hashpartitioning", p)  # buckets still co-locate
    assert _re.search(r"\n\s*[+:]- Sort ", p)  # fragmented buckets: sort honestly returns
    rebuild_bucketed_facts(spark, sf_dir)
    assert spark.table(lineitem_t).count() == n0  # compaction = rebuild from the lake
    p2 = join_plan()
    assert not _re.search(r"Exchange hashpartitioning", p2)
    assert not _re.search(r"\n\s*[+:]- Sort ", p2)  # one file per bucket again


def test_bucketed_append_through_real_stream(spark, tmp_path, monkeypatch):
    """append_bucketed_batch driven by an ACTUAL Structured Streaming
    query (file source, one file per micro-batch, foreachBatch,
    checkpointed): rows accumulated across micro-batches equal the
    batch union, and the post-stream fact join still plans with zero
    shuffle exchanges — incremental ingest keeps the layout's
    join-elision property."""
    import re as _re
    import time as _t

    from pyspark.sql import types as T

    from gmall_realtime2021_spark.sources import file_stream
    from gmall_realtime2021_spark.sources.warehouse import (
        append_bucketed_batch,
        ensure_bucketed_facts,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path / "wh"))
    sf_dir = "/root/testdata/sf0.001"
    orders_t, lineitem_t = ensure_bucketed_facts(spark, sf_dir)
    n0 = spark.table(lineitem_t).count()

    li = load(spark, sf_dir, "lineitem")
    base_max = li.agg(F.max("l_orderkey")).collect()[0][0]
    incoming = [
        li.limit(200).withColumn("l_orderkey", F.col("l_orderkey") + (j + 1) * (base_max + 1))
        for j in range(3)
    ]
    src = str(tmp_path / "ingest_in")
    os.makedirs(src, exist_ok=True)
    for j, df in enumerate(incoming):
        p = os.path.join(src, f"b{j}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _t.time() - 60 + j * 10
        os.utime(p, (t, t))

    schema = load(spark, sf_dir, "lineitem").schema
    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: append_bucketed_batch(spark, lineitem_t, df, bid, "l_orderkey")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert spark.table(lineitem_t).count() == n0 + 600
    o = spark.table(orders_t)
    l = spark.table(lineitem_t)
    plan = (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not _re.search(r"Exchange hashpartitioning", plan)


def test_event_day_upsert_idempotent_partition_overwrite(spark, tmp_path, monkeypatch):
    """upsert_event_days (dynamic partition overwrite): ingesting two
    complete days rewrites exactly those day directories; replaying
    the same batch is a no-op by construction (same partitions, same
    rows — no marker needed); a corrected re-delivery of one day
    REPLACES that day without touching the others; untouched days
    keep their original rows throughout."""
    from gmall_realtime2021_spark.sources.warehouse import (
        ensure_partitioned_events,
        upsert_event_days,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    dst = ensure_partitioned_events(spark, sf_dir)
    base = spark.read.parquet(dst)
    n0 = base.count()
    day_cts = {str(r.event_date): r.n for r in base.groupBy("event_date").agg(F.count("*").alias("n")).collect()}
    assert n0 > 0 and len(day_cts) > 2

    # two NEW complete days built from shifted source rows
    ev = load(spark, sf_dir, "events")
    newdays = ev.limit(400).withColumn("ts", F.col("ts") + F.expr("INTERVAL 300 DAYS"))
    dst = upsert_event_days(spark, sf_dir, newdays, batch_id=0)  # new current generation
    after = spark.read.parquet(dst)
    assert after.count() == n0 + 400
    # replay: same batch again — value-level idempotent (a fresh
    # generation with identical rows; the snapshot handle re-resolves)
    dst = upsert_event_days(spark, sf_dir, newdays, batch_id=0)
    after2 = spark.read.parquet(dst)
    assert after2.count() == n0 + 400
    # corrected re-delivery: one of the new days arrives with half the
    # rows — that day is REPLACED, others untouched
    one_day = newdays.withColumn("d", F.to_date("ts"))
    target = one_day.groupBy("d").count().orderBy("d").collect()[0]
    corrected = one_day.filter(F.col("d") == target.d).drop("d").limit(int(target["count"]) // 2)
    dst = upsert_event_days(spark, sf_dir, corrected, batch_id=1)
    after3 = spark.read.parquet(dst)
    assert after3.count() == n0 + 400 - int(target["count"]) + int(target["count"]) // 2
    # original days never touched
    for r in after3.groupBy("event_date").agg(F.count("*").alias("n")).collect():
        if str(r.event_date) in day_cts:
            assert r.n == day_cts[str(r.event_date)]


def test_bucketed_layout_cross_session_adoption(spark, tmp_path, monkeypatch):
    """The r10 ADVICE defect: the catalog is session-scoped, the files
    are not — a NEW session finding an intact layout on disk must
    ADOPT it (CREATE TABLE over the existing files), never overwrite
    from the lake, or streaming-ingested batches the checkpoint
    considers committed silently vanish.

    Simulated session death = dropping the catalog entries (external
    tables: files + ``_ingest`` markers stay, exactly the disk state a
    fresh process sees). After re-ensure: appended rows still present,
    replay guard still skips the committed batch id, and the fact join
    still plans shuffle-free."""
    import re as _re

    from gmall_realtime2021_spark.sources.warehouse import (
        append_bucketed_batch,
        ensure_bucketed_facts,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    orders_t, lineitem_t = ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n0 = spark.table(lineitem_t).count()
    base_max = li.agg(F.max("l_orderkey")).collect()[0][0]
    b1 = li.limit(400).withColumn("l_orderkey", F.col("l_orderkey") + base_max + 1)
    assert append_bucketed_batch(spark, lineitem_t, b1, 7, "l_orderkey")
    assert spark.table(lineitem_t).count() == n0 + 400

    # "new session": catalog entries gone, disk intact
    spark.sql(f"DROP TABLE {orders_t}")
    spark.sql(f"DROP TABLE {lineitem_t}")
    orders_t2, lineitem_t2 = ensure_bucketed_facts(spark, sf_dir)
    assert (orders_t2, lineitem_t2) == (orders_t, lineitem_t)
    # adopted, not rebuilt: the ingested batch survived
    assert spark.table(lineitem_t2).count() == n0 + 400
    # the replay marker survived with it: batch 7 is still a skip
    assert not append_bucketed_batch(spark, lineitem_t2, b1, 7, "l_orderkey")
    assert spark.table(lineitem_t2).count() == n0 + 400
    # join-elision property carried across the adoption
    o, l = spark.table(orders_t2), spark.table(lineitem_t2)
    plan = (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not _re.search(r"Exchange hashpartitioning", plan)


def test_layouts_rebuild_on_source_fingerprint_change(spark, tmp_path, monkeypatch):
    """The r10 ADVICE staleness hole: a regenerated upstream fixture
    at the SAME sf_dir path must invalidate the materialized layouts.
    The source fingerprint (path+mtime+size sidecar) makes the ensure
    pass re-materialize instead of silently serving the stale files."""
    import shutil as _sh

    from gmall_realtime2021_spark.sources.warehouse import (
        append_bucketed_batch,
        ensure_bucketed_facts,
        ensure_partitioned_events,
    )
    from gmall_realtime2021_spark.tables import load

    # a writable copy of the fixture so we can "regenerate" it
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for t in ("orders", "lineitem", "events"):
        _sh.copy2(f"/root/testdata/sf0.001/{t}.parquet", os.path.join(sf_dir, f"{t}.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path / "wh"))

    orders_t, lineitem_t = ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n0 = spark.table(lineitem_t).count()
    base_max = li.agg(F.max("l_orderkey")).collect()[0][0]
    b1 = li.limit(300).withColumn("l_orderkey", F.col("l_orderkey") + base_max + 1)
    assert append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey")
    dst = ensure_partitioned_events(spark, sf_dir)
    ev_n0 = spark.read.parquet(dst).count()

    # steady state: re-ensure keeps the appended rows (fingerprint matches)
    ensure_bucketed_facts(spark, sf_dir)
    assert spark.table(lineitem_t).count() == n0 + 300

    # "regenerate" the fixtures in place: fewer rows, new files
    for t, n in (("lineitem", 1000), ("events", 500)):
        fixture = os.path.join(sf_dir, f"{t}.parquet")
        staged = os.path.join(sf_dir, f"new_{t}.dir")
        load(spark, sf_dir, t).limit(n).write.mode("overwrite").parquet(staged)
        os.remove(fixture)
        os.rename(staged, fixture)

    # ensure now detects the drift and rebuilds from the NEW lake state
    ensure_bucketed_facts(spark, sf_dir)
    assert spark.table(lineitem_t).count() == 1000
    dst2 = ensure_partitioned_events(spark, sf_dir)
    assert spark.read.parquet(dst2).count() == 500 != ev_n0


def test_bucketed_append_auto_compaction(spark, tmp_path, monkeypatch):
    """VERDICT r10 item #7: past the file-count threshold the append
    path compacts AUTOMATICALLY — and compaction is ROW-PRESERVING
    (base + every appended batch survive, unlike the lake rebuild),
    restores one file per bucket, the zero-sort merge-join property,
    and keeps the replay markers (committed batch ids still skip)."""
    import re as _re

    from gmall_realtime2021_spark.sources.warehouse import (
        N_BUCKETS,
        append_bucketed_batch,
        ensure_bucketed_facts,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    orders_t, lineitem_t = ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n0 = spark.table(lineitem_t).count()
    base_max = li.agg(F.max("l_orderkey")).collect()[0][0]

    def batch(j):
        return li.limit(100).withColumn("l_orderkey", F.col("l_orderkey") + (j + 1) * (base_max + 1))

    def join_plan():
        o, l = spark.table(orders_t), spark.table(lineitem_t)
        return (
            l.hint("merge")
            .join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    def n_files():
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {lineitem_t}")
            .filter("col_name = 'Location'")
            .collect()[0]["data_type"]
            .removeprefix("file:")
        )
        return sum(1 for f in os.listdir(loc) if f.startswith("part-") and f.endswith(".parquet"))

    # threshold 2×N_BUCKETS: batch 1 fragments (sort returns), batch 2
    # crosses the threshold and auto-compacts
    assert append_bucketed_batch(
        spark, lineitem_t, batch(0), 1, "l_orderkey", auto_compact_files=2 * N_BUCKETS
    )
    assert _re.search(r"\n\s*[+:]- Sort ", join_plan())  # fragmented: sort back
    assert append_bucketed_batch(
        spark, lineitem_t, batch(1), 2, "l_orderkey", auto_compact_files=2 * N_BUCKETS
    )
    assert n_files() <= N_BUCKETS  # one file per non-empty bucket again
    p = join_plan()
    assert not _re.search(r"Exchange hashpartitioning", p)
    assert not _re.search(r"\n\s*[+:]- Sort ", p)  # zero-sort property restored
    # row-preserving: base + both batches
    assert spark.table(lineitem_t).count() == n0 + 200
    # replay markers survived compaction
    assert not append_bucketed_batch(spark, lineitem_t, batch(1), 2, "l_orderkey")
    assert spark.table(lineitem_t).count() == n0 + 200


def test_ivf_index_incremental_ingest(spark, tmp_path, monkeypatch):
    """Streaming ingest into the at-rest IVF index (r11): appended
    vectors land in their assigned cell directories with the same
    centroids/norm fold as the base materialization, a replayed batch
    id is an exact skip, the serving plan KEEPS dynamic partition
    pruning after appends, and the appended vectors are retrievable
    through the probe join."""
    import re as _re

    from gmall_realtime2021_spark.operators.similarity import ivf_assign, ivf_topk_at_rest
    from gmall_realtime2021_spark.sources.warehouse import (
        append_ivf_batch,
        ensure_ivf_embeddings,
        read_ivf_embeddings,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    ensure_ivf_embeddings(spark, sf_dir)
    n0 = read_ivf_embeddings(spark, sf_dir).count()
    emb = load(spark, sf_dir, "embeddings")
    base_max = emb.agg(F.max("vec_id")).collect()[0][0]
    batch = emb.limit(20).withColumn("vec_id", F.col("vec_id") + base_max + 1)

    assert append_ivf_batch(spark, sf_dir, batch, 1)
    assert not append_ivf_batch(spark, sf_dir, batch, 1)  # replay skip
    back = read_ivf_embeddings(spark, sf_dir)
    assert back.count() == n0 + 20

    # appended rows carry the assignment the base pass would give them
    want = {r.vec_id: (r.cell, r.norm) for r in ivf_assign(batch).collect()}
    got = {r.vec_id: (r.cell, r.norm) for r in back.filter(F.col("vec_id") > base_max).collect()}
    assert got == want and len(got) == 20

    # ensure() after the append must ADOPT, not rebuild (fingerprint
    # unchanged): appended vectors survive
    ensure_ivf_embeddings(spark, sf_dir)
    assert read_ivf_embeddings(spark, sf_dir).count() == n0 + 20

    # serving keeps DPP after appends, and an appended vector is
    # reachable: probe with two of the new vectors as the query set
    # (a selective FILTER on the probe side — DPP requires one, a bare
    # LIMIT doesn't qualify as a pruning filter)
    queries = batch.filter(F.col("vec_id") < base_max + 3)
    corpus = read_ivf_embeddings(spark, sf_dir)
    out = ivf_topk_at_rest(queries, corpus, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    rows = out.collect()
    # the appended query vector itself is reachable in the index at
    # cos 1.0 (its source vector — an exact copy with a lower id —
    # ties at 1.0 and wins rank 1 on the id tiebreak, so assert
    # membership, not rank)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 2
    for qid, rs in by_q.items():
        hits = {r.neighbor_id: r.cos for r in rs}
        assert qid in hits and abs(hits[qid] - 1.0) < 1e-6


def test_ivf_cell_auto_compaction(spark, tmp_path, monkeypatch):
    """IVF cell compaction (r11): appends fragment cells one file per
    batch; past the per-cell threshold the append auto-compacts the
    FRAGMENTED cells only (untouched cells keep their original file),
    rows/values survive bit-exactly, replay markers at the index root
    survive, and the serving values are unchanged."""
    from gmall_realtime2021_spark.sources.warehouse import (
        append_ivf_batch,
        compact_ivf_cells,
        ensure_ivf_embeddings,
        read_ivf_embeddings,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    ensure_ivf_embeddings(spark, sf_dir)

    def cell_files():
        # re-resolve: compaction moves the current generation (r13)
        gen = ensure_ivf_embeddings(spark, sf_dir)
        return {
            d: sum(1 for f in os.listdir(os.path.join(gen, d)) if f.endswith(".parquet"))
            for d in os.listdir(gen)
            if d.startswith("cell=")
        }

    emb = load(spark, sf_dir, "embeddings")
    base_max = emb.agg(F.max("vec_id")).collect()[0][0]
    # 3 batches, compaction off: every populated cell gains files
    for j in range(3):
        b = emb.limit(40).withColumn("vec_id", F.col("vec_id") + (j + 1) * (base_max + 1))
        assert append_ivf_batch(spark, sf_dir, b, j + 1, auto_compact_files=None)
    before = {r.vec_id: (r.cell, r.norm) for r in read_ivf_embeddings(spark, sf_dir).collect()}
    frag_files = cell_files()
    assert max(frag_files.values()) >= 3

    # manual compaction at threshold 2: fragmented cells drop to one
    # file; values identical; markers intact (replay still skips)
    n = compact_ivf_cells(spark, sf_dir, max_files_per_cell=2)
    assert n == sum(1 for v in frag_files.values() if v > 2) > 0
    after_files = cell_files()
    for d, v in frag_files.items():
        assert after_files[d] == (1 if v > 2 else v), d
    after = {r.vec_id: (r.cell, r.norm) for r in read_ivf_embeddings(spark, sf_dir).collect()}
    assert after == before
    b1 = emb.limit(40).withColumn("vec_id", F.col("vec_id") + base_max + 1)
    assert not append_ivf_batch(spark, sf_dir, b1, 1)  # marker survived

    # auto path: a 4th batch with threshold 1 triggers compaction inline
    b4 = emb.limit(40).withColumn("vec_id", F.col("vec_id") + 4 * (base_max + 1))
    assert append_ivf_batch(spark, sf_dir, b4, 4, auto_compact_files=1)
    assert max(cell_files().values()) == 1
    assert read_ivf_embeddings(spark, sf_dir).count() == len(before) + 40


@pytest.mark.slow
def test_ivf_ingest_through_real_stream(spark, tmp_path, monkeypatch):
    """append_ivf_batch driven by an ACTUAL Structured Streaming query
    (file source, one file per micro-batch, foreachBatch,
    checkpointed): vectors accumulated across micro-batches equal the
    batch union with base-pass-identical cell assignments, and the
    probe join still plans with dynamic partition pruning afterward."""
    import time as _t

    from gmall_realtime2021_spark.operators.similarity import ivf_assign, ivf_topk_at_rest
    from gmall_realtime2021_spark.sources import file_stream
    from gmall_realtime2021_spark.sources.warehouse import (
        append_ivf_batch,
        ensure_ivf_embeddings,
        read_ivf_embeddings,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path / "wh"))
    sf_dir = "/root/testdata/sf0.001"
    ensure_ivf_embeddings(spark, sf_dir)
    n0 = read_ivf_embeddings(spark, sf_dir).count()

    emb = load(spark, sf_dir, "embeddings")
    base_max = emb.agg(F.max("vec_id")).collect()[0][0]
    incoming = [
        emb.limit(25).withColumn("vec_id", F.col("vec_id") + (j + 1) * (base_max + 1))
        for j in range(3)
    ]
    src = str(tmp_path / "ivf_in")
    os.makedirs(src, exist_ok=True)
    for j, df in enumerate(incoming):
        p = os.path.join(src, f"b{j}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = [f for f in os.listdir(p + ".dir") if f.endswith(".parquet")][0]
        os.replace(os.path.join(p + ".dir", part), p)
        t = _t.time() - 60 + j * 10
        os.utime(p, (t, t))

    stream = file_stream(spark, src, emb.schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: append_ivf_batch(spark, sf_dir, df, bid)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_ivf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    back = read_ivf_embeddings(spark, sf_dir)
    assert back.count() == n0 + 75
    union = incoming[0].unionByName(incoming[1]).unionByName(incoming[2])
    want = {r.vec_id: (r.cell, r.norm) for r in ivf_assign(union).collect()}
    got = {r.vec_id: (r.cell, r.norm) for r in back.filter(F.col("vec_id") > base_max).collect()}
    assert got == want and len(got) == 75

    queries = union.filter(F.col("vec_id") < base_max + 3)
    out = ivf_topk_at_rest(queries, back, k=3, n_probe=2)
    assert "dynamicpruning" in out._jdf.queryExecution().executedPlan().toString()
    assert len(out.collect()) > 0


def test_event_day_retention_expiry(spark, tmp_path, monkeypatch):
    """expire_event_days (r11): partitions strictly older than the
    cutoff drop at the directory level — surviving days keep their
    exact rows (never read or rewritten), the dropped day strings are
    returned, re-expiry is a no-op, and an upsert after expiry can
    backfill a dropped day (expiry is derived state, not a tombstone
    contract)."""
    from gmall_realtime2021_spark.sources.warehouse import (
        ensure_partitioned_events,
        expire_event_days,
        upsert_event_days,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    dst = ensure_partitioned_events(spark, sf_dir)
    base = spark.read.parquet(dst)
    day_cts = {
        str(r.event_date): r.n
        for r in base.groupBy("event_date").agg(F.count("*").alias("n")).collect()
    }
    days = sorted(day_cts)
    cutoff = days[3]  # drop the three oldest days
    dropped = expire_event_days(spark, sf_dir, before=cutoff)
    assert dropped == days[:3]

    # snapshot isolation (r13): the handle captured BEFORE the expiry
    # still serves the full pre-expiry generation until GC grace —
    # readers re-resolve through ensure to see retention applied
    assert spark.read.parquet(dst).count() == sum(day_cts.values())
    dst = ensure_partitioned_events(spark, sf_dir)
    after = spark.read.parquet(dst)
    got = {
        str(r.event_date): r.n
        for r in after.groupBy("event_date").agg(F.count("*").alias("n")).collect()
    }
    assert got == {d: n for d, n in day_cts.items() if d >= cutoff}
    # idempotent: nothing older than the cutoff remains
    assert expire_event_days(spark, sf_dir, before=cutoff) == []

    # backfill: a complete re-delivery of a dropped day restores it
    ev = load(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    redeliver = ev.filter(F.col("d") == days[0]).drop("d")
    dst = upsert_event_days(spark, sf_dir, redeliver, batch_id=9)  # new current generation
    got2 = {
        str(r.event_date): r.n
        for r in spark.read.parquet(dst).groupBy("event_date").agg(F.count("*").alias("n")).collect()
    }
    assert got2[days[0]] == day_cts[days[0]]
    assert days[1] not in got2 and days[2] not in got2  # still expired


def test_bucketed_compaction_crash_recovery(spark, tmp_path, monkeypatch):
    """Crash windows under the r13 manifest scheme — all benign by
    construction, pinned here: (a) a crash MID-GENERATION-BUILD
    leaves an unlisted gen dir no reader ever resolves (the manifest
    never pointed there) and the next maintenance writer sweeps it;
    (b) a crash AFTER the manifest flip but BEFORE the catalog
    re-point leaves the table serving the retired-but-intact old
    generation, and the next ensure re-points it in one ALTER — in
    both windows appended batches and their replay markers (family
    root ``_ingest``) survive, which is the no-discard promise the
    pre-r13 rename-swap recovery existed to keep."""
    import json as _json

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    orders_t, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n0 = spark.table(lineitem_t).count()
    mx = li.agg(F.max("l_orderkey")).collect()[0][0]
    b1 = li.limit(200).withColumn("l_orderkey", F.col("l_orderkey") + mx + 1)
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)
    gen0 = W._table_location(spark, lineitem_t)
    root = W._family_root_of(gen0)

    # (a) crash mid-build: an unlisted generation dir appears beside
    # the live one — readers resolve the manifest and never see it
    junk = os.path.join(root, "gen-0099999")
    os.makedirs(junk)
    open(os.path.join(junk, "partial.parquet"), "w").close()
    assert spark.table(lineitem_t).count() == n0 + 200
    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    assert not os.path.isdir(junk), "next writer must sweep crash debris"
    assert spark.table(lineitem_t).count() == n0 + 200  # batch survived
    assert not W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey")  # marker survived

    # (b) crash between flip and catalog re-point: simulate by
    # flipping the manifest back to the RETIRED (still intact within
    # grace) generation while the table points at the compacted one
    cur = W._table_location(spark, lineitem_t)
    man = _json.load(open(os.path.join(root, W._MANIFEST)))
    assert man["current"] == os.path.basename(cur)
    W._flip_manifest(root, os.path.basename(gen0))
    W.ensure_bucketed_facts(spark, sf_dir)
    assert W._table_location(spark, lineitem_t) == gen0  # re-pointed, no drop
    assert spark.table(lineitem_t).count() == n0 + 200
    assert not W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey")


def test_ivf_legacy_migration_resolves_tombs(spark, tmp_path, monkeypatch):
    """Pre-r13 layouts migrate in place into ``gen-0000001`` — and a
    pre-r13 per-cell swap crash riding along (an underscore tomb
    whose live cell is missing) is resolved DURING migration: the
    tomb restores when its cell is gone, sweeps when the cell exists,
    and the migrated index serves row-exact. Also pins that the
    legacy ``_ingest`` markers hoist to the family root (replay
    idempotence survives the upgrade)."""
    import shutil as _sh

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    gen = W.ensure_ivf_embeddings(spark, sf_dir)
    root = W._family_root_of(gen)
    emb = load(spark, sf_dir, "embeddings").limit(20)
    assert W.append_ivf_batch(spark, sf_dir, emb, 7, auto_compact_files=None)
    n0 = W.read_ivf_embeddings(spark, sf_dir).count()

    # reconstruct the PRE-r13 on-disk form: files directly under the
    # family root, markers inside, no manifest — plus a crashed
    # per-cell swap (live cell renamed to its tomb, never restored)
    legacy = str(tmp_path / "legacy_sim")
    _sh.move(gen, legacy)
    _sh.move(os.path.join(root, "_ingest"), os.path.join(legacy, "_ingest"))
    _sh.rmtree(root)
    _sh.move(legacy, root)
    cells = sorted(d for d in os.listdir(root) if d.startswith("cell="))
    victim = cells[0].split("=", 1)[1]
    os.rename(os.path.join(root, f"cell={victim}"), os.path.join(root, f"_precompact_cell_{victim}"))

    gen1 = W.ensure_ivf_embeddings(spark, sf_dir)
    assert os.path.basename(gen1) == "gen-0000001"
    assert W.read_ivf_embeddings(spark, sf_dir).count() == n0  # tomb restored, rows exact
    assert not os.path.isdir(os.path.join(gen1, "_precompact_cell_" + victim))
    assert os.path.isdir(os.path.join(root, "_ingest")), "markers must hoist to the root"
    # replay marker survived the migration: batch 7 skips
    assert not W.append_ivf_batch(spark, sf_dir, emb, 7, auto_compact_files=None)


def test_expire_event_days_refuses_total_drop_and_isolates_readers(spark, tmp_path, monkeypatch):
    """Retention guardrails: a cutoff that would drop EVERY day raises
    (a data-less generation would stay 'intact' forever and serve an
    unreadable layout), leaving the live generation untouched; a
    successful expiry lands in a NEW generation whose surviving days
    are HARDLINKS of the old files (same inodes — retention never
    rewrites surviving bytes), while a reader planned before the
    expiry keeps serving the full old snapshot (r13)."""
    import pytest as _pytest

    from gmall_realtime2021_spark.sources import warehouse as W

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    gen0 = W.ensure_partitioned_events(spark, sf_dir)
    n0 = spark.read.parquet(gen0).count()
    n_days = sum(1 for d in os.listdir(gen0) if d.startswith("event_date="))

    with _pytest.raises(ValueError, match="would drop all"):
        W.expire_event_days(spark, sf_dir, before="2099-01-01")
    assert W.ensure_partitioned_events(spark, sf_dir) == gen0  # refusal = no new generation
    assert sum(1 for d in os.listdir(gen0) if d.startswith("event_date=")) == n_days
    assert spark.read.parquet(gen0).count() == n0

    pre = spark.read.parquet(gen0).groupBy().count()  # planned before expiry
    days = sorted(d.split("=", 1)[1] for d in os.listdir(gen0) if d.startswith("event_date="))
    dropped = W.expire_event_days(spark, sf_dir, before=days[1])
    assert dropped == [days[0]]
    gen1 = W.ensure_partitioned_events(spark, sf_dir)
    assert gen1 != gen0
    assert pre.collect()[0][0] == n0  # old snapshot served through the expiry
    # surviving days are the SAME inodes (hardlinked, never rewritten)
    surv = f"event_date={days[1]}"
    old_files = {f: os.stat(os.path.join(gen0, surv, f)).st_ino
                 for f in os.listdir(os.path.join(gen0, surv)) if f.endswith(".parquet")}
    new_files = {f: os.stat(os.path.join(gen1, surv, f)).st_ino
                 for f in os.listdir(os.path.join(gen1, surv)) if f.endswith(".parquet")}
    assert old_files == new_files and old_files


def test_rebuild_discards_stranded_compaction_generations(spark, tmp_path, monkeypatch):
    """rebuild_bucketed_facts is the contracted RESET: every
    generation, the manifest, the replay markers, and any pre-r13
    legacy sibling must go — a surviving retired generation or legacy
    ``__precompact`` dir would otherwise be migrated/re-adopted later,
    silently resurrecting the pre-rebuild rows (r11 review, carried
    into the r13 manifest scheme)."""
    import shutil as _sh

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    orders_t, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n_lake = li.count()
    mx = li.agg(F.max("l_orderkey")).collect()[0][0]
    b1 = li.limit(150).withColumn("l_orderkey", F.col("l_orderkey") + mx + 1)
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)

    # a retired generation (within grace) + a legacy sibling both
    # survive normal maintenance — rebuild must discard them anyway
    gen0 = W._table_location(spark, lineitem_t)
    root = W._family_root_of(gen0)
    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    assert os.path.isdir(gen0)  # retired, in grace
    _sh.copytree(gen0, root + "__precompact")

    W.rebuild_bucketed_facts(spark, sf_dir)
    assert spark.table(lineitem_t).count() == n_lake  # reset really happened
    assert not os.path.exists(root + "__precompact")
    # rebuild nuked the family: numbering restarted with a single
    # lake-exact generation (rebuild is the one contracted reset —
    # pre-planned readers across it are explicitly out of scope)
    assert set(W._manifest(root)["generations"]) == {"gen-0000001"}
    assert W._data_file_count(W._table_location(spark, lineitem_t)) == W.N_BUCKETS
    # replay markers were reset with the layout: batch 1 applies again
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)
    assert spark.table(lineitem_t).count() == n_lake + 150


def test_ivf_reader_during_compaction_swap(spark, tmp_path, monkeypatch):
    """What a CONCURRENT reader of the at-rest IVF index observes
    across a per-cell compaction.

    r13 (VERDICT r12 item #1): the pre-r13 contract made an
    already-planned scan FAIL mid-swap (missing files); under the
    manifest scheme compaction lands in a new generation and flips
    the pointer, so BOTH reader classes are isolated:
    - a scan planned BEFORE the compaction keeps serving the retired
      generation's intact files (old snapshot, not an error);
    - a scan planned AFTER reads the compacted generation, row-exact,
      with untouched cells carried across as hardlinks (same inodes —
      compaction cost ∝ fragmented bytes, never the index).
    """
    import glob as _glob

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    gen0 = W.ensure_ivf_embeddings(spark, sf_dir)
    # fragment a few cells so the compaction has real work
    emb = load(spark, sf_dir, "embeddings").limit(40)
    assert W.append_ivf_batch(spark, sf_dir, emb, 1, auto_compact_files=None)
    n0 = W.read_ivf_embeddings(spark, sf_dir).count()
    cells = sorted(
        int(p.rsplit("=", 1)[1]) for p in _glob.glob(os.path.join(gen0, "cell=*"))
    )
    j = cells[0]

    # a reader planned BEFORE the swap: file listing captured now
    pre_planned = spark.read.parquet(gen0).filter(F.col("cell") == j)
    pre_n = pre_planned.count()
    assert pre_n > 0  # listing is live

    assert W.compact_ivf_cells(spark, sf_dir, max_files_per_cell=1) > 0
    gen1 = W.ensure_ivf_embeddings(spark, sf_dir)
    assert gen1 != gen0 and os.path.isdir(gen0)

    # (a) the already-planned scan serves the OLD snapshot — no error
    spark.catalog.clearCache()
    assert pre_planned.count() == pre_n

    # (b) a fresh read serves the compacted generation, row-exact,
    # every cell a single file
    back = W.read_ivf_embeddings(spark, sf_dir)
    assert back.count() == n0
    assert back.filter(F.col("cell") == j).count() > 0
    for d in os.listdir(gen1):
        if d.startswith("cell="):
            n_files = sum(1 for f in os.listdir(os.path.join(gen1, d)) if f.endswith(".parquet"))
            assert n_files == 1, d

    # (c) GC grace: the retired generation goes only once the window
    # has expired and a writer runs
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "0")
    assert W.gc_layout_generations(spark, sf_dir).get("embeddings_ivf") == [
        os.path.basename(gen0)
    ]
    assert not os.path.isdir(gen0)
    assert W.read_ivf_embeddings(spark, sf_dir).count() == n0


def test_ivf_unlisted_gen_sweep_is_writer_only(spark, tmp_path, monkeypatch):
    """r13 descendant of the r12 sweep-discipline review: an UNLISTED
    generation directory (a writer crashed mid-build, or a LIVE
    writer is mid-build) must never be swept by a bare READ path —
    readers are concurrent with maintenance by design, and the
    manifest never points at an unlisted generation, so reads don't
    need the sweep either. Only maintenance WRITERS (who hold the
    family lock, under which an unlisted gen is crash debris by
    construction) sweep it. Pins:
    (a) a read leaves the unlisted gen alone and serves row-exact;
    (b) the next maintenance writer (compaction) sweeps it;
    (c) a source-fingerprint rebuild also sweeps it (the rebuild IS a
        writer)."""
    import glob as _glob

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    gen = W.ensure_ivf_embeddings(spark, sf_dir)
    root = W._family_root_of(gen)
    n0 = W.read_ivf_embeddings(spark, sf_dir).count()

    # (a) unlisted gen: reads neither fail nor sweep
    junk = os.path.join(root, "gen-0099999")
    os.makedirs(os.path.join(junk, "cell=0"), exist_ok=True)
    assert W.read_ivf_embeddings(spark, sf_dir).count() == n0
    assert os.path.isdir(junk), "read path swept an in-flight generation build"

    # (b) the next writer sweeps it: fragment one cell then compact
    emb = load(spark, sf_dir, "embeddings").limit(10)
    assert W.append_ivf_batch(spark, sf_dir, emb, 1, auto_compact_files=None)
    assert W.compact_ivf_cells(spark, sf_dir, max_files_per_cell=1) > 0
    assert not os.path.isdir(junk)
    assert W.read_ivf_embeddings(spark, sf_dir).count() == n0 + 10

    # (c) rebuild (stale fingerprint) sweeps a fresh orphan too
    os.makedirs(os.path.join(junk, "cell=0"), exist_ok=True)
    cur = W.ensure_ivf_embeddings(spark, sf_dir)
    os.remove(os.path.join(cur, W._FP_NAME))  # forces the rebuild branch
    assert W.read_ivf_embeddings(spark, sf_dir).count() == n0  # lake reset
    assert not os.path.isdir(junk)


def test_payment_enrich_streaming_maintenance_matches_batch(spark, tmp_path, monkeypatch):
    """r13 (VERDICT r12 item #6): the enrich serving form maintained
    INCREMENTALLY from the ingest topology must equal the batch plan
    recomputed over the same serving state — bootstrap from the lake
    layout, stream three event batches (including LATE events that
    land inside the 30-minute lookback of payments ingested earlier
    AND of lake-resident payments), and compare the store against
    ``bucketed_payment_enrich`` built on the ingested layout."""
    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.streaming.sinks import (
        payment_enrich_bootstrap,
        payment_enrich_upsert_batch,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    store = str(tmp_path / "enrich_store")
    n0 = payment_enrich_bootstrap(spark, sf_dir, store)
    plan = get_plans()["bucketed_payment_enrich"]
    assert n0 == plan.build(spark, sf_dir).count()

    ev = load(spark, sf_dir, "events")
    id_base = ev.agg(F.max("event_id")).collect()[0][0] + 1
    # three batches of NEW events: a purchase burst, then prior-events
    # delivered LATE into the lookback of both lake and streamed
    # payments, then more purchases on top
    b1 = ev.limit(60).withColumn("event_id", F.col("event_id") + id_base)
    b2 = (
        ev.limit(40)
        .withColumn("event_id", F.col("event_id") + 2 * id_base)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
        .withColumn("event_type", F.lit("click"))  # pure prior-mass, retro-updates frames
    )
    b3 = (
        ev.limit(30)
        .withColumn("event_id", F.col("event_id") + 3 * id_base)
        .withColumn("event_type", F.lit("purchase"))
    )
    for bid, b in enumerate((b1, b2, b3)):
        assert payment_enrich_upsert_batch(spark, sf_dir, b, bid, store)

    got = {
        r.pay_id: (r.user_id, r.pay_time, r.prior_ct, round(r.prior_value or 0.0, 2))
        for r in spark.read.parquet(store).collect()
    }
    want = {
        r.pay_id: (r.user_id, r.pay_time, r.prior_ct, round(r.prior_value or 0.0, 2))
        for r in plan.build(spark, sf_dir).collect()  # layout now holds lake + batches
    }
    assert got == want


def test_payment_enrich_maintenance_replay_and_crash(spark, tmp_path, monkeypatch):
    """Delivery contract of the enrich maintainer: a replayed batch is
    an exact skip (store byte-identical); a crash BETWEEN the layout
    append and the store merge (simulated by a marker rollback after
    a completed call) re-runs the recompute against the identical
    layout state — the append side skips via its own marker, the
    retry converges to the same store."""
    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.streaming.sinks import (
        payment_enrich_bootstrap,
        payment_enrich_upsert_batch,
    )
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    store = str(tmp_path / "enrich_store")
    payment_enrich_bootstrap(spark, sf_dir, store)
    ev = load(spark, sf_dir, "events")
    id_base = ev.agg(F.max("event_id")).collect()[0][0] + 1
    b1 = ev.limit(50).withColumn("event_id", F.col("event_id") + id_base)

    assert payment_enrich_upsert_batch(spark, sf_dir, b1, 1, store)
    snap = sorted(
        (r.pay_id, r.prior_ct, round(r.prior_value or 0.0, 2))
        for r in spark.read.parquet(store).collect()
    )
    events_n = spark.table(W.ensure_bucketed_events(spark, sf_dir)).count()

    # steady-state replay: exact skip on BOTH sides
    assert not payment_enrich_upsert_batch(spark, sf_dir, b1, 1, store)
    assert spark.table(W.ensure_bucketed_events(spark, sf_dir)).count() == events_n
    assert sorted(
        (r.pay_id, r.prior_ct, round(r.prior_value or 0.0, 2))
        for r in spark.read.parquet(store).collect()
    ) == snap

    # crash window: store marker lost after the layout append landed
    # (the replayed delivery must re-merge, not double-append)
    os.remove(store.rstrip("/") + "__ingest/_last_batch")
    assert payment_enrich_upsert_batch(spark, sf_dir, b1, 1, store)
    assert spark.table(W.ensure_bucketed_events(spark, sf_dir)).count() == events_n  # append skipped
    assert sorted(
        (r.pay_id, r.prior_ct, round(r.prior_value or 0.0, 2))
        for r in spark.read.parquet(store).collect()
    ) == snap  # retry converged


def test_day_bucketed_upsert_zero_window_serving(spark, tmp_path, monkeypatch):
    """Day-grain ingest into the composed day+user serving layout
    (r13): a complete-day redelivery REPLACES that day with freshly
    bucketed files while every other day hardlinks across (same
    inodes); the new generation's table is registered BEFORE the
    manifest flips, so a reader holding the previous generation's
    TABLE NAME keeps serving the old snapshot (no drop window); the
    date-bounded enrich plan picks up the new state on its next
    build; replay is value-idempotent; and the serving plan keeps
    PartitionFilters + zero exchanges on the upserted generation."""
    import re as _re

    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    name0 = W.ensure_day_bucketed_events(spark, sf_dir)
    gen0 = W._table_location(spark, name0)
    n0 = spark.table(name0).count()
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(gen0) if d.startswith("event_date=")
    )
    target, kept = days[1], days[2]

    # complete-day redelivery: half the day's rows (a correction)
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    day_rows = ev.filter(F.col("event_date") == target)
    n_day = day_rows.count()
    corrected = day_rows.limit(n_day // 2)
    name1 = W.upsert_day_bucketed_events(spark, sf_dir, corrected, batch_id=1)

    assert name1 != name0
    # old snapshot: the previous table name still serves pre-upsert rows
    assert spark.table(name0).count() == n0
    # new state: target day replaced, others intact
    got = {
        str(r.event_date): r.n
        for r in spark.table(name1).groupBy("event_date").agg(F.count("*").alias("n")).collect()
    }
    assert got[target] == n_day // 2
    assert sum(got.values()) == n0 - n_day + n_day // 2
    # untouched days are hardlinks (same inodes), replaced day is not
    gen1 = W._table_location(spark, name1)
    def inodes(gen, day):
        d = os.path.join(gen, f"event_date={day}")
        return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}
    assert inodes(gen0, kept) == inodes(gen1, kept)
    assert not (set(inodes(gen0, target).values()) & set(inodes(gen1, target).values()))

    # replay: value-idempotent (fresh generation, identical rows)
    name2 = W.upsert_day_bucketed_events(spark, sf_dir, corrected, batch_id=1)
    got2 = {
        str(r.event_date): r.n
        for r in spark.table(name2).groupBy("event_date").agg(F.count("*").alias("n")).collect()
    }
    assert got2 == got

    # ensure resolves to the upserted generation; the serving plan
    # keeps its physical contract on it
    assert W.ensure_day_bucketed_events(spark, sf_dir) == name2
    df = get_plans()["bucketed_payment_enrich_day"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "PartitionFilters" in plan
    assert _re.search(r"Bucketed: true", plan)
    for t in (name0, name1, name2):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_and_compact_resolve_manifest_not_stale_catalog(spark, tmp_path, monkeypatch):
    """r13 self-review hardening: a session whose CATALOG pointer is
    stale (a foreign process compacted since its last ensure) must
    not append into — or compact from — the retired generation it
    still points at; both paths re-resolve the MANIFEST first. The
    stale state is simulated by ALTERing the table back onto the
    retired generation after a compaction (exactly what a foreign
    flip leaves in another session's catalog)."""
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n0 = spark.table(lineitem_t).count()
    mx = li.agg(F.max("l_orderkey")).collect()[0][0]
    gen0 = W._table_location(spark, lineitem_t)
    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    gen1 = W._table_location(spark, lineitem_t)

    # simulate the stale foreign-session catalog: point back at the
    # retired generation
    spark.sql(f"ALTER TABLE {lineitem_t} SET LOCATION '{gen0}'")
    spark.catalog.refreshTable(lineitem_t)

    # (a) append: must land in the CURRENT generation (manifest),
    # repointing the catalog on the way
    b1 = li.limit(100).withColumn("l_orderkey", F.col("l_orderkey") + mx + 1)
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)
    assert W._table_location(spark, lineitem_t) == gen1
    assert spark.table(lineitem_t).count() == n0 + 100
    # the retired generation got nothing
    assert W._data_file_count(gen0) == W.N_BUCKETS

    # (b) compact: stale again; must compact the CURRENT generation's
    # rows (base + the appended batch), not the retired one's
    spark.sql(f"ALTER TABLE {lineitem_t} SET LOCATION '{gen0}'")
    spark.catalog.refreshTable(lineitem_t)
    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    assert spark.table(lineitem_t).count() == n0 + 100  # appended rows survived
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")


def test_appends_hold_the_family_maintenance_lock(spark, tmp_path, monkeypatch):
    """r13 self-review: appends are serialized with maintenance under
    the family lock (an append racing a compaction could commit files
    the rewrite never listed — lost at the old generation's GC).
    Pins that both append paths enter the lock for their family root
    during the write, and that a LIVE foreign writer's lock makes the
    append wait (TimeoutError at a short budget) instead of writing
    into a generation mid-rewrite."""
    import json as _json
    import subprocess
    import sys

    import pytest as _pytest

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    W.ensure_ivf_embeddings(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_orderkey")).collect()[0][0]
    b = li.limit(10).withColumn("l_orderkey", F.col("l_orderkey") + mx + 1)
    emb = load(spark, sf_dir, "embeddings").limit(5)

    # (a) the lock is entered with the right family root
    entered = []
    real = W._maintenance_lock

    def spy(root, *a, **k):
        entered.append(os.path.basename(root.rstrip("/")))
        return real(root, *a, **k)

    monkeypatch.setattr(W, "_maintenance_lock", spy)
    assert W.append_bucketed_batch(spark, lineitem_t, b, 1, "l_orderkey", auto_compact_files=None)
    assert W.append_ivf_batch(spark, sf_dir, emb, 1, auto_compact_files=None)
    monkeypatch.setattr(W, "_maintenance_lock", real)
    assert "lineitem" in entered and "embeddings_ivf" in entered

    # (b) a LIVE foreign writer blocks the append (bounded, loud)
    root = os.path.join(str(tmp_path), W._tag(sf_dir), "lineitem")
    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        _json.dump({"pid": proc.pid, "ts": 0}, open(W._lock_path(root), "w"))
        monkeypatch.setattr(W, "_LOCK_WAIT_S", 0.3)
        b2 = b.withColumn("l_orderkey", F.col("l_orderkey") + mx + 1)
        with _pytest.raises(TimeoutError):
            W.append_bucketed_batch(spark, lineitem_t, b2, 2, "l_orderkey", auto_compact_files=None)
    finally:
        proc.kill()
        proc.wait()
        with open(W._lock_path(root), "w") as fh:
            pass
        os.remove(W._lock_path(root))
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")
