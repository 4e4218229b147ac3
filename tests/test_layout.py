"""Storage-layout tests: the two levers that delete shuffles/scans
entirely at 100 TB.

- **Bucketing**: facts bucketed on the join key join with ZERO
  exchange — the co-located join (SURVEY.md §2.4 J6; the reference
  gets the same effect from Kafka keyed partitioning carried through
  `keyBy`). On a real cluster this is how order⋈detail-scale joins
  avoid moving 100 TB through the network every run.
- **Partitioned writes**: the corpus written `partitionBy(split)`
  prunes non-selected partitions at the *metadata* level — a reader
  of `split='train'` never opens val/test files.
"""

from __future__ import annotations

import glob
import os
import re

import pytest


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed+sorted on the key: the join plan has no
    Exchange at all (and no per-task Sort either, since sortBy
    pre-sorted the buckets)."""
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    try:
        (
            orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", str(tmp_path / "orders_b"))
            .saveAsTable("orders_bucketed")
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", str(tmp_path / "lineitem_b"))
            .saveAsTable("lineitem_bucketed")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("orders_bucketed").join(
                spark.table("lineitem_bucketed"),
                spark.table("orders_bucketed").o_orderkey
                == spark.table("lineitem_bucketed").l_orderkey,
            )
            plan = _executed(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # co-located AND co-sorted: no per-task sort before the merge
            assert joined.count() == lineitem.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")


def test_unbucketed_join_needs_exchanges(spark):
    """Control: the same join over plain parquet shuffles both sides
    (this is the cost bucketing deletes)."""
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed(orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey))
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_corpus_write_and_pruning(spark, tmp_path):
    """Write the split corpus partitioned by split; assert layout,
    bounded file sizes, and metadata-level partition pruning on read."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.functions.text import poly_hash
    from gmall_realtime2021_spark.tables import load

    out = str(tmp_path / "corpus")
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    bucket = poly_hash(F.lower(F.col("text"))) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    (
        docs.withColumn("split", split)
        .write.partitionBy("split")
        .option("maxRecordsPerFile", 100_000)  # bounds worst-case file size at scale
        .parquet(out)
    )
    # layout: one directory per split value
    dirs = {os.path.basename(p) for p in glob.glob(os.path.join(out, "split=*"))}
    assert dirs == {"split=train", "split=val", "split=test"}

    back = spark.read.parquet(out).filter(F.col("split") == "train")
    plan = _executed(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "split" in m.group(1), plan
    # pruning is real: only train files are listed by the scan
    n_train = back.count()
    assert 0 < n_train < docs.count()


@pytest.mark.slow
def test_compact_parquet_dir(spark, tmp_path):
    """20 per-batch appends → a handful of size-targeted files, same
    rows/values — the maintenance op every streaming sink dir needs."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.maintenance import compact_parquet_dir

    path = str(tmp_path / "sink")
    for i in range(20):
        spark.range(i * 50, (i + 1) * 50).withColumn("b", F.col("id") * 2).write.mode(
            "append"
        ).parquet(path)
    before_rows = sorted(r.id for r in spark.read.parquet(path).collect())

    n_before, n_after = compact_parquet_dir(spark, path, target_rows_per_file=500)
    assert n_before >= 20
    assert n_after == 2  # 1000 rows / 500
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == before_rows
    assert after.filter(F.col("b") != F.col("id") * 2).count() == 0


def test_schema_evolution_merge_read(spark, tmp_path):
    """Corpus drops evolve: files written before a column existed
    read as NULL under mergeSchema — the additive-evolution contract
    a long-lived pipeline relies on."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolve")
    spark.range(5).select("id", F.lit("a").alias("source")).write.mode("append").parquet(path)
    spark.range(5, 8).select(
        "id", F.lit("b").alias("source"), F.lit(0.9).alias("quality")
    ).write.mode("append").parquet(path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"id", "source", "quality"}
    assert df.filter(F.col("quality").isNull()).count() == 5
    assert df.count() == 8


def test_ivf_embeddings_layout_lossless_and_partitioned(spark, tmp_path, monkeypatch):
    """The at-rest IVF index (r11): one hive directory per cell, rows
    lossless vs a fresh ivf_assign pass (ids, vectors, bit-equal
    norms, same cells), and re-ensure is a no-op while a regenerated
    source fingerprint would rebuild (shared lifecycle helpers,
    pinned on the other layouts)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.operators.similarity import ivf_assign
    from gmall_realtime2021_spark.sources.warehouse import ensure_ivf_embeddings
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    dst = ensure_ivf_embeddings(spark, sf_dir)
    dirs = {os.path.basename(p) for p in _glob.glob(os.path.join(dst, "cell=*"))}
    assert dirs and all(d.startswith("cell=") for d in dirs)

    back = spark.read.parquet(dst)
    fresh = ivf_assign(load(spark, sf_dir, "embeddings"))
    b = {r.vec_id: r for r in back.collect()}
    f = {r.vec_id: r for r in fresh.collect()}
    assert b.keys() == f.keys() and len(b) > 0
    for k in b:
        assert b[k].cell == f[k].cell
        assert b[k].norm == f[k].norm          # bit-equal double round-trip
        assert list(b[k].embedding) == list(f[k].embedding)

    mtime0 = os.path.getmtime(os.path.join(dst, "_SUCCESS"))
    assert ensure_ivf_embeddings(spark, sf_dir) == dst
    assert os.path.getmtime(os.path.join(dst, "_SUCCESS")) == mtime0  # no rewrite


def test_sort_spec_change_forces_rebuild_not_adoption(spark, tmp_path, monkeypatch):
    """r12: the fingerprint is SPEC-stamped (bucket key, sort columns,
    bucket count). A layout on disk written under a different sort
    spec must fail the intact check and rebuild — adopting it would
    register an ordering claim the files don't satisfy, and a merge
    join or range window would then return silently wrong rows. This
    is exactly the r11→r12 migration: events_by_user moved from
    sortBy(user_id) to sortBy(user_id, ts)."""
    import json

    from gmall_realtime2021_spark.sources import warehouse as W

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    events_t = W.ensure_bucketed_events(spark, sf_dir)
    gen0 = W._table_location(spark, events_t)
    fp_path = os.path.join(gen0, W._FP_NAME)
    fp = json.load(open(fp_path))
    assert fp["spec"] == {"bucket_key": "user_id", "sort": ["user_id", "ts"], "n_buckets": W.N_BUCKETS}

    # same files, stamped as the r11 single-column sort spec → stale
    fp["spec"]["sort"] = ["user_id"]
    json.dump(fp, open(fp_path, "w"))
    assert not W._layout_intact(
        gen0, sf_dir, "events",
        spec={"bucket_key": "user_id", "sort": ["user_id", "ts"], "n_buckets": W.N_BUCKETS},
    )
    spark.sql(f"DROP TABLE IF EXISTS {events_t}")
    assert W.ensure_bucketed_events(spark, sf_dir) == events_t
    gen1 = W._table_location(spark, events_t)
    assert gen1 != gen0  # rebuilt into a NEW generation, not adopted
    assert json.load(open(os.path.join(gen1, W._FP_NAME)))["spec"]["sort"] == ["user_id", "ts"]
    spark.sql(f"DROP TABLE IF EXISTS {events_t}")


@pytest.mark.slow
def test_layout_health_flags_fragmentation(spark, tmp_path, monkeypatch):
    """r12 (VERDICT r11 item #4): layout_health must (a) report all
    four families healthy on a fresh materialization and (b) FLAG a
    deliberately fragmented fixture — an appended bucketed batch
    breaks the single-file-per-bucket sort-serving property, and an
    appended IVF batch past the (lowered) per-cell threshold makes
    compaction due."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    plan = get_plans()["layout_health"]

    fresh = {r["family"]: r.asDict() for r in plan.build(spark, sf_dir).collect()}
    assert set(fresh) == {
        "facts_orders", "facts_lineitem", "events_by_user",
        "events_by_day", "embeddings_ivf", "documents_split",
        "events_day_user",
    }
    for fam, row in fresh.items():
        assert row["units"] > 0 and row["data_files"] > 0 and row["total_bytes"] > 0, fam
        assert not row["compact_due"] and row["fragmented_units"] == 0, fam
    for fam in ("facts_orders", "facts_lineitem", "events_by_user"):
        assert fresh[fam]["sorted_serving"] is True

    # fragment the lineitem table (no auto-compaction) ...
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    b1 = load(spark, sf_dir, "lineitem").limit(64)
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)
    # ... and a few IVF cells past a lowered per-cell threshold
    monkeypatch.setattr(W, "IVF_AUTO_COMPACT_FILES", 1)
    emb = load(spark, sf_dir, "embeddings").limit(32).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    assert W.append_ivf_batch(spark, sf_dir, emb, 1, auto_compact_files=None)

    after = {r["family"]: r.asDict() for r in plan.build(spark, sf_dir).collect()}
    li = after["facts_lineitem"]
    assert li["fragmented_units"] > 0 and li["max_files_per_unit"] > 1
    assert li["sorted_serving"] is False
    ivf = after["embeddings_ivf"]
    assert ivf["fragmented_units"] > 0 and ivf["compact_due"] is True
    # untouched families stay healthy
    assert not after["facts_orders"]["compact_due"]
    assert after["documents_split"] == fresh["documents_split"]

    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    W.compact_ivf_cells(spark, sf_dir, max_files_per_cell=1)
    healed = {r["family"]: r.asDict() for r in plan.build(spark, sf_dir).collect()}
    assert healed["facts_lineitem"]["sorted_serving"] is True
    assert healed["facts_lineitem"]["fragmented_units"] == 0
    assert healed["embeddings_ivf"]["fragmented_units"] == 0
    for t in (lineitem_t,):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_reader_during_compaction_swap(spark, tmp_path, monkeypatch):
    """r13 (VERDICT r12 item #1): compaction is INVISIBLE to readers.
    The rewrite lands in a new generation, the manifest flips
    atomically, and the serving table re-points via ALTER … SET
    LOCATION — so a scan PLANNED BEFORE the swap keeps serving the
    retired generation's intact files (the pre-r13 contract made
    exactly this reader fail with TABLE_NOT_FOUND/missing files),
    fresh plans see the compacted generation, and the retired
    snapshot is GC'd only once the grace window expires."""
    import shutil

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    orders_t, _ = W.ensure_bucketed_facts(spark, sf_dir)
    b1 = load(spark, sf_dir, "orders").limit(64)
    assert W.append_bucketed_batch(spark, orders_t, b1, 1, "o_orderkey", auto_compact_files=None)
    n0 = spark.table(orders_t).count()
    gen0 = W._table_location(spark, orders_t)

    # a reader planned BEFORE the swap: file listing captured now
    pre = spark.table(orders_t).filter(F.col("o_orderstatus") == "F")
    pre_n = pre.count()
    assert pre_n > 0

    W.compact_bucketed_table(spark, orders_t, "o_orderkey")

    gen1 = W._table_location(spark, orders_t)
    assert gen1 != gen0 and os.path.isdir(gen0)  # old snapshot retained in grace
    # the already-planned scan is served from the retired generation —
    # the old snapshot, not an error (the r12 failure mode is gone)
    assert pre.count() == pre_n
    # fresh plans read the compacted generation; rows preserved
    assert spark.table(orders_t).count() == n0
    assert W._data_file_count(gen1) == W.N_BUCKETS

    # GC grace: with the window at zero, the NEXT maintenance writer
    # sweeps every retired generation; within the window it must not
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "0")
    W.compact_bucketed_table(spark, orders_t, "o_orderkey")
    assert not os.path.isdir(gen0) and not os.path.isdir(gen1)
    assert spark.table(orders_t).count() == n0
    for t in (orders_t,):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_sort_spec_is_append_guarded_and_compaction_restamps(spark, tmp_path, monkeypatch):
    """r12 follow-up on the spec-stamped fingerprint: the two ways a
    layout's sort claim could silently degrade are both closed.

    (a) APPEND with weaker sort_cols than the table spec: Spark
    validates the writer's bucket spec (incl. sort columns) against
    the existing table and raises — loud, never corruption.
    (b) COMPACTION invoked with weaker sort_cols: the rewrite is
    legal (staging is a fresh table), but the carried fingerprint now
    re-stamps the spec to what compaction actually wrote, so the next
    ensure sees spec != expected and REBUILDS rather than adopting
    files whose ts-order claim is gone."""
    import json

    import pytest

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    events_t = W.ensure_bucketed_events(spark, sf_dir)
    b = load(spark, sf_dir, "events").limit(10)
    with pytest.raises(Exception, match="bucketing does not match"):
        W.append_bucketed_batch(spark, events_t, b, 1, "user_id")  # default (user_id,) sort

    # compaction with the weaker sort: files rewritten user_id-sorted,
    # the new generation's fingerprint spec must say so
    W.compact_bucketed_table(spark, events_t, "user_id")  # sort_cols defaults to (key,)
    gen_weak = W._table_location(spark, events_t)
    fp = json.load(open(os.path.join(gen_weak, W._FP_NAME)))
    assert fp["spec"]["sort"] == ["user_id"]

    # next ensure: spec mismatch vs the expected (user_id, ts) → rebuild
    spark.sql(f"DROP TABLE IF EXISTS {events_t}")
    assert W.ensure_bucketed_events(spark, sf_dir) == events_t
    gen_strong = W._table_location(spark, events_t)
    assert gen_strong != gen_weak  # rebuilt into a fresh generation
    assert json.load(open(os.path.join(gen_strong, W._FP_NAME)))["spec"]["sort"] == ["user_id", "ts"]
    spark.sql(f"DROP TABLE IF EXISTS {events_t}")


def test_maintenance_lock_blocks_recovery_until_writer_dies(spark, tmp_path, monkeypatch):
    """r12 high-effort review: a LIVE maintenance writer's transient
    tombs/staging must not be 'recovered' by a concurrent reader —
    recovery waits on the lock while the writer's pid is alive, raises
    TimeoutError rather than healing a live writer, and proceeds
    normally once the lock is crash debris (dead pid)."""
    import json
    import subprocess
    import sys

    import pytest

    from gmall_realtime2021_spark.sources import warehouse as W

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    gen = W.ensure_ivf_embeddings(spark, sf_dir)
    root = W._family_root_of(gen)
    lock = W._lock_path(root)

    # live foreign writer: a real subprocess pid
    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        json.dump({"pid": proc.pid, "ts": 0}, open(lock, "w"))
        with pytest.raises(TimeoutError):
            W._wait_no_live_maintenance(root, timeout_s=0.3)
        assert os.path.isfile(lock)  # a live writer's lock is never removed
        # READERS are not writers: the resolve-and-scan path never
        # waits on the maintenance lock under the manifest scheme
        assert W.read_ivf_embeddings(spark, sf_dir).count() > 0
        # but a maintenance WRITER queues behind the live peer
        with pytest.raises(TimeoutError):
            with W._maintenance_lock(root, timeout_s=0.3):
                pass
    finally:
        proc.kill()
        proc.wait()

    # the same lock is now crash debris (pid dead): the next writer
    # clears it and proceeds
    W._wait_no_live_maintenance(root, timeout_s=0.3)
    assert not os.path.isfile(lock)
    # and the full read path serves normally again
    assert W.read_ivf_embeddings(spark, sf_dir).count() > 0


def test_ensure_fast_path_takes_no_lock(spark, tmp_path, monkeypatch):
    """An intact current generation is served WITHOUT touching the
    family's maintenance lock: streaming sinks ensure the events
    layout on every micro-batch, so the fast path must never queue
    behind a maintenance writer. Each of the six ensure families is
    built once (which does take the lock — the spy is live), then
    ensured again: no lock is entered, and every call returns the
    same table name or generation path as the build did."""
    from gmall_realtime2021_spark.sources import warehouse as W

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    ensures = (
        W.ensure_bucketed_facts,
        W.ensure_bucketed_events,
        W.ensure_day_bucketed_events,
        W.ensure_partitioned_events,
        W.ensure_split_documents,
        W.ensure_ivf_embeddings,
    )
    entered = []
    real = W._maintenance_lock

    def spy(root, *a, **k):
        entered.append(os.path.basename(root.rstrip("/")))
        return real(root, *a, **k)

    monkeypatch.setattr(W, "_maintenance_lock", spy)
    first = [ensure(spark, sf_dir) for ensure in ensures]
    built = sorted(set(entered))
    entered.clear()
    second = [ensure(spark, sf_dir) for ensure in ensures]
    monkeypatch.setattr(W, "_maintenance_lock", real)

    assert built == sorted(
        ["orders", "lineitem", "events_by_user", W.DAY_EVENTS_ALIAS, "events", "documents_split", "embeddings_ivf"]
    )
    assert entered == [], f"fast path took the lock for {entered}"
    assert second == first
    for table in (*first[0], first[1], first[2]):
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_expire_event_days_rejects_malformed_cutoff(spark, tmp_path, monkeypatch):
    """r12 high-effort review: day partitions compare as strings, so a
    non-zero-padded cutoff ('2024-6-1') would silently drop days AFTER
    the intended date; the guard makes it a loud ValueError before any
    directory is touched."""
    import pytest

    from gmall_realtime2021_spark.sources import warehouse as W

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    dst = W.ensure_partitioned_events(spark, sf_dir)
    days_before = sorted(d for d in os.listdir(dst) if d.startswith("event_date="))
    for bad in ("2024-6-1", "2024-06-1", "20240601", "yesterday", ""):
        with pytest.raises(ValueError, match="zero-padded"):
            W.expire_event_days(spark, sf_dir, bad)
    assert sorted(d for d in os.listdir(dst) if d.startswith("event_date=")) == days_before


def test_compaction_failure_releases_lock_and_leaves_table_serving(spark, tmp_path, monkeypatch):
    """ADVICE r12 medium #1, closed structurally in r13: a failure
    ANYWHERE inside compaction (staging write, manifest flip, catalog
    re-point) must release the maintenance lock — the pre-r13 code
    entered the lock manually with no try/finally around the staging
    write, so a disk-full there wedged every peer's wait for the full
    timeout. Under the manifest scheme the failed attempt is also
    INVISIBLE: the live table keeps serving, rows intact, and the next
    writer both succeeds and sweeps the debris generation."""
    import pytest

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    b = load(spark, sf_dir, "lineitem").limit(32)
    assert W.append_bucketed_batch(spark, lineitem_t, b, 1, "l_orderkey", auto_compact_files=None)
    n0 = spark.table(lineitem_t).count()
    gen0 = W._table_location(spark, lineitem_t)
    root = W._family_root_of(gen0)

    # (a) failure AFTER the staging write, BEFORE the commit (flip)
    real_flip = W._flip_manifest

    def boom(*a, **k):
        raise RuntimeError("simulated disk-full at commit time")

    monkeypatch.setattr(W, "_flip_manifest", boom)
    with pytest.raises(RuntimeError, match="disk-full"):
        W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    monkeypatch.setattr(W, "_flip_manifest", real_flip)

    assert not os.path.isfile(W._lock_path(root)), "lock leaked on failure"
    assert W._table_location(spark, lineitem_t) == gen0  # table untouched
    assert spark.table(lineitem_t).count() == n0
    # a peer writer is NOT blocked (the pre-r13 failure mode was a
    # 120 s wait then TimeoutError); it also sweeps the debris gen
    debris = [d for d in os.listdir(root) if W._GEN_RE.match(d) and d != os.path.basename(gen0)]
    assert debris  # the failed attempt left an unlisted generation
    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    gen1 = W._table_location(spark, lineitem_t)
    assert gen1 != gen0 and spark.table(lineitem_t).count() == n0
    assert not any(
        os.path.isdir(os.path.join(root, d)) for d in debris
    ), "next writer must sweep the failed attempt"

    # (b) failure in the staging WRITE itself (the literal ADVICE
    # scenario): make the bucketed write blow up mid-job
    def bad_read(*a, **k):
        raise RuntimeError("simulated staging write failure")

    monkeypatch.setattr(W.SparkSession, "read", property(lambda self: (_ for _ in ()).throw(RuntimeError("simulated staging write failure"))), raising=False)
    try:
        with pytest.raises(RuntimeError, match="staging write failure"):
            W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    finally:
        monkeypatch.undo()
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    assert not os.path.isfile(W._lock_path(root)), "lock leaked on staging failure"
    assert spark.table(lineitem_t).count() == n0  # still serving
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")


@pytest.mark.slow
def test_cross_process_reader_unaffected_by_compaction(spark, tmp_path, monkeypatch):
    """The r12 contract said a SEPARATE session reading the same
    warehouse dir during compaction was 'outside the contract' (it
    could see TABLE_NOT_FOUND / missing files). Under the r13
    manifest scheme that scenario is INSIDE the contract: a second OS
    process running its own SparkSession ensures + scans the same
    family in a loop while this session runs two row-preserving
    compactions — every read in the foreign process must succeed with
    the exact committed row count (its ensure re-points via ALTER on
    each flip, never a drop), and the retired generations it may
    still be scanning stay on disk for the grace window."""
    import subprocess
    import sys
    import textwrap

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_orderkey")).collect()[0][0]
    b1 = li.limit(64).withColumn("l_orderkey", F.col("l_orderkey") + mx + 1)
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)
    expected = spark.table(lineitem_t).count()
    done_flag = str(tmp_path / "_writer_done")

    reader_src = textwrap.dedent(
        f"""
        import os, sys, time
        os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = {str(tmp_path)!r}
        os.environ["SPARK_GRAFT_LAYOUT_GC_GRACE_S"] = "3600"
        sys.path.insert(0, {os.getcwd()!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.driver.memory", "1g")
                 .config("spark.ui.enabled", "false")
                 .appName("foreign_reader").getOrCreate())
        from gmall_realtime2021_spark.sources import warehouse as W
        print("READY", flush=True)
        deadline = time.time() + 120
        reads = 0
        while time.time() < deadline:
            _, t = W.ensure_bucketed_facts(spark, {sf_dir!r})
            n = spark.table(t).count()
            assert n == {expected}, f"foreign reader saw {{n}} rows, want {expected}"
            reads += 1
            if os.path.exists({done_flag!r}) and reads >= 5:
                break
        print("READS", reads, flush=True)
        spark.stop()
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", reader_src],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        assert proc.stdout.readline().strip() == "READY"  # session is up and looping
        # two full maintenance cycles under the live foreign reader
        W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
        W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
        assert spark.table(lineitem_t).count() == expected
        open(done_flag, "w").close()
        out, err = proc.communicate(timeout=150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    assert proc.returncode == 0, f"foreign reader failed:\n{err[-3000:]}"
    reads = int([l for l in out.splitlines() if l.startswith("READS")][0].split()[1])
    assert reads >= 5
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")
