"""Sinks for the streaming skin (SURVEY.md §2.1 S2/S3/S5/S6).

The reference's sink zoo collapses into two Spark shapes:

- the built-in Kafka sink (a ``topic`` column gives S3's per-record
  dynamic routing, `MyKafkaUtil.java:36-42`);
- ``foreachBatch`` for everything that upserts or batches into a
  store (Phoenix dim upsert `DimSink.java:22-94`, ClickHouse batch
  insert `ClickHouseUtil.java:31-76`).

foreachBatch is at-least-once: after a crash between the store
commit and the checkpoint commit the last micro-batch is delivered
again. Every exactly-once writer here belongs to one of three
idempotence families (SURVEY.md §2.12):

- **epoch-partitioned overwrite** — rows are stamped with the batch
  id and written as a dynamic overwrite of that epoch's partition
  (:func:`stats_store_sink` and the index sinks built on it,
  :func:`dynamic_route_files`, :func:`idempotent_jdbc_stats_sink`):
  a replay replaces its own partition;
- **idempotent merge-swap** — the stored table is merged with the
  batch by an operation that absorbs a second delivery (pk merge,
  HLL register max, Bloom set union) and swapped in through
  :func:`_merge_swap` (:func:`dim_upsert_batch`, HLL, Bloom);
- **marker-guarded merge-swap** — the merge is NOT idempotent (CMS
  counter sums, SCD2 versions, the payment-enrich store fed by a
  layout append), so the swap runs behind the engine's one replay
  guard, :func:`sources.warehouse.replay_guard`, which skips a batch
  id the ``_last_batch`` marker already records.

:func:`jdbc_stats_sink` is the one documented at-least-once writer.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_realtime2021_spark.sources import warehouse as W


@contextmanager
def _replace_dir(target: str) -> Iterator[str]:
    """Crash-safe single-writer replace of the directory ``target``.

    Yields the ``.tmp`` sibling to write the new generation into (plus
    an optional ``_last_batch`` marker, :func:`sources.warehouse.
    replay_guard`), then swaps it in: rename ``target`` → ``.old``,
    ``.tmp`` → ``target``, drop ``.old``. A body that writes nothing
    (a skipped replay) or raises leaves ``target`` as it was.

    Crash recovery runs on entry, before the body reads ``target`` or
    its marker. A run that died between the two renames left ``.old``
    as the ONLY copy: it is restored, or a replayed batch would
    rebuild the table from its own rows and the final rmtree would
    delete all prior history. A run that died after them left a stale
    ``.old`` next to the intact table: it is discarded, or the swap's
    rename onto it would fail and wedge the sink.
    """
    target = target.rstrip("/")
    tmp, old = target + ".tmp", target + ".old"
    if os.path.isdir(old) and not os.path.isdir(target):
        os.rename(old, target)
    else:
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    yield tmp
    if not os.path.isdir(tmp):
        return
    if os.path.isdir(target):
        os.rename(target, old)
    os.rename(tmp, target)
    shutil.rmtree(old, ignore_errors=True)


def _merge_swap(
    table_dir: str,
    fresh: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    guard: tuple[int, str] | None = None,
) -> None:
    """The one rewrite path of every table rewritten per micro-batch:
    write ``merge(stored, fresh)`` — or ``fresh`` alone while no table
    exists — into the ``.tmp`` sibling and swap it in
    (:func:`_replace_dir`). The tmp write materializes the plan,
    including its read of the stored table, before any rename, so the
    result goes straight from the executors to disk.

    ``guard=(batch_id, sink_name)`` runs the write behind
    :func:`sources.warehouse.replay_guard`: a replayed batch id
    rewrites nothing, and the ``_last_batch`` marker is written into
    ``.tmp`` so it flips with the table.
    """
    spark = fresh.sparkSession
    with _replace_dir(table_dir) as tmp:
        replay = (
            W.replay_guard(spark, table_dir, *guard, marker_dir=tmp)
            if guard
            else nullcontext(True)
        )
        with replay as apply:
            if not apply:
                return
            if os.path.isdir(table_dir):
                fresh = merge(spark.read.parquet(table_dir), fresh)
            fresh.write.mode("overwrite").parquet(tmp)


def _key_merge(pk: str) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Merge by primary key: fresh rows replace stored rows with the
    same ``pk``; every other stored row is carried over."""
    return lambda stored, fresh: stored.join(fresh, pk, "left_anti").unionByName(fresh)


__all__ = [
    "dynamic_topic_kafka",
    "dynamic_route_files",
    "dim_upsert_batch",
    "dim_upsert_sink",
    "stats_store_sink",
    "jdbc_stats_sink",
    "idempotent_jdbc_stats_sink",
    "hll_sketch_maintenance_sink",
    "cms_sketch_maintenance_sink",
    "postings_index_sink",
    "payment_enrich_bootstrap",
    "payment_enrich_upsert_batch",
]


def dynamic_topic_kafka(df: DataFrame, brokers: str, topic_col: str = "sink_table") -> DataFrame:
    """S3 — shape a routed stream for the Kafka sink: per-record topic
    from ``topic_col``, payload = JSON of all other columns. Write
    with ``.writeStream.format("kafka")`` on a cluster with brokers.
    """
    payload_cols = [c for c in df.columns if c != topic_col]
    return df.select(
        F.col(topic_col).alias("topic"),
        F.to_json(F.struct(*payload_cols)).alias("value"),
    )


def dynamic_route_files(base_dir: str, topic_col: str = "sink_table") -> Callable:
    """S3 stand-in without a broker: foreachBatch writer that routes
    each record to ``{base_dir}/{sink_table}/`` via a partitioned
    write — same routing semantics, file-backed (used by tests and
    local replay). Epoch-stamped dynamic overwrite like
    :func:`stats_store_sink`, so a replayed micro-batch replaces its
    own files instead of double-appending.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("__batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(topic_col, "__batch_id")
            .parquet(base_dir)
        )

    return write


def dim_upsert_batch(
    batch: DataFrame, dim_dir: str, pk: str, version_col: str | None = None
) -> None:
    """S5 — merge-by-pk upsert of one micro-batch into a parquet dim
    table (last-write-wins, like Phoenix UPSERT `DimSink.java:78-93`).

    Within a batch the winner per pk is the row with the highest
    ``version_col``; without one, ``dropDuplicates`` keeps an
    ARBITRARY row per pk (not necessarily the last), so a caller whose
    batch can hold several rows for one key passes ``version_col`` or
    reduces the batch first. Against the existing table the batch
    always wins. The swap is write-new-then-rename
    (:func:`_merge_swap`) — single-writer semantics, which matches
    the one-streaming-query-per-dim-table topology. On a lakehouse
    deployment this function is the one place to swap in a
    Delta/Iceberg MERGE.
    """
    w_cols = batch.columns
    if version_col is not None:
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy(pk).orderBy(F.col(version_col).desc())
        )
        batch = batch.withColumn("_rn", rn).filter(F.col("_rn") == 1).select(w_cols)
    else:
        batch = batch.dropDuplicates([pk])
    _merge_swap(dim_dir, batch, _key_merge(pk))


def dim_upsert_sink(dim_dir: str, pk: str, version_col: str | None = None) -> Callable:
    """foreachBatch wrapper of :func:`dim_upsert_batch`."""

    def write(batch: DataFrame, batch_id: int) -> None:
        dim_upsert_batch(batch, dim_dir, pk, version_col)

    return write


def stats_store_sink(path: str, transient_cols: Sequence[str] = ()) -> Callable:
    """S6 — stats-store writer, dropping transient columns
    (`@TransientSink`, `ClickHouseUtil.java:45-64`). The parquet
    table stands in for the ClickHouse JDBC batch insert; point a
    ``df.write.jdbc`` here on a cluster with the driver jar.

    Idempotent by construction: rows are stamped with the micro-batch
    epoch and written as a DYNAMIC overwrite of that epoch's
    partition — a replayed batch (crash between store-commit and
    checkpoint-commit) replaces its own partition instead of
    double-appending, the same delete-then-insert recipe as
    :func:`idempotent_jdbc_stats_sink`. Readers see the extra
    ``__batch_id`` partition column (drop it or use it for lineage).

    Layout compatibility: this partitioned form is INCOMPATIBLE with a
    directory produced by the pre-r04 root-level append sink — Spark's
    partition discovery rejects bare parquet files mixed with
    ``__batch_id=N/`` directories ("conflicting directory structures").
    Pointing it at such a directory fails fast with a clear message;
    either start a fresh path or do a one-time migration of the old
    files into a ``__batch_id=-1/`` subdirectory.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        if os.path.isdir(path):
            legacy = [
                e
                for e in os.listdir(path)
                if not e.startswith(("__batch_id=", "_", "."))
            ]
            if legacy:
                raise ValueError(
                    f"stats_store_sink: {path} contains root-level files "
                    f"from the legacy append layout ({legacy[:3]}...); "
                    "use a fresh path or move them into __batch_id=-1/"
                )
        (
            batch.drop(*transient_cols)
            .withColumn("__batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    return write


def jdbc_stats_sink(
    url: str,
    table: str,
    transient_cols: Sequence[str] = (),
    properties: dict[str, str] | None = None,
) -> Callable:
    """S6, the REAL path — foreachBatch JDBC batch append with
    `@TransientSink` column drops (`ClickHouseUtil.java:31-76`): each
    micro-batch becomes batched ``INSERT``s through ``df.write.jdbc``,
    executor-side and parallel per partition, exactly how the
    reference's JdbcSink pushes stats rows into ClickHouse.

    Engine-agnostic by URL: ``jdbc:clickhouse://...`` on a cluster
    with the driver jar, ``jdbc:derby:memory:...`` in tests (Derby
    ships inside Spark's own jars, so the round-trip is executable
    with no external service — tests/test_sinks.py runs it).
    ``stats_store_sink`` remains the lakehouse-flavored stand-in.

    At-least-once note: JDBC append has no dedup key, so replayed
    micro-batches double-insert (the reference has the same semantics
    minus its Kafka-source transactions); deployments needing
    exactly-once use ReplacingMergeTree-style dedup on the store —
    documented deviation, SURVEY.md §2.12.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.drop(*transient_cols).write.mode("append").jdbc(
            url, table, properties=properties or {}
        )

    return write


def idempotent_jdbc_stats_sink(
    url: str,
    table: str,
    transient_cols: Sequence[str] = (),
    properties: dict[str, str] | None = None,
) -> Callable:
    """Exactly-once upgrade of :func:`jdbc_stats_sink`: every row is
    stamped with its micro-batch epoch id and the write is preceded
    by ``DELETE WHERE __batch_id = <id>`` — a replayed batch (crash
    between commit-to-store and commit-to-checkpoint, the
    at-least-once window) overwrites itself instead of
    double-inserting. This delete-then-insert keyed on the epoch is
    the standard idempotence recipe when the store has no MERGE;
    ClickHouse deployments get the same effect from
    ReplacingMergeTree keyed on (__batch_id, pk).

    The DELETE is one driver-side statement (epoch-keyed, cheap);
    the inserts stay executor-side and parallel via ``df.write.jdbc``.
    First-ever batch: the table's absence is detected via JDBC
    metadata and only then is the DELETE skipped — connection or
    DELETE failures FAIL the batch (never swallowed: a missed DELETE
    on replay means double-inserted rows).
    """
    def write(batch: DataFrame, batch_id: int) -> None:
        stamped = batch.drop(*transient_cols).withColumn("__batch_id", F.lit(int(batch_id)))
        jvm = batch.sparkSession._jvm
        props = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            props.setProperty(k, v)
        # connect with the SAME credentials as the insert; auth or
        # connectivity failures must FAIL the batch (a swallowed
        # DELETE silently breaks exactly-once), so only the
        # table-not-yet-created case is tolerated — checked via
        # metadata, not a blanket except
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            rs = conn.getMetaData().getTables(None, None, "%", None)
            exists = False
            while rs.next():
                if rs.getString("TABLE_NAME").lower() == table.lower():
                    exists = True
                    break
            rs.close()
            if exists:
                st = conn.createStatement()
                # identifiers starting with _ need delimiting, but the
                # delimiter is PER-DIALECT: hardcoding ANSI double quotes
                # would make MySQL's default sql_mode read "__batch_id"
                # as a string LITERAL — the DELETE silently matches zero
                # rows and a replayed batch double-inserts. Ask the
                # driver for its quote string instead (Derby → ", MySQL
                # → `); a driver reporting "no quoting" (single space
                # per the JDBC spec) gets the bare identifier.
                q = conn.getMetaData().getIdentifierQuoteString().strip()
                st.executeUpdate(
                    f"DELETE FROM {table} WHERE {q}__batch_id{q} = {int(batch_id)}"
                )
                st.close()
        finally:
            conn.close()
        stamped.write.mode("append").jdbc(url, table, properties=properties or {})

    return write


def hll_sketch_maintenance_sink(sketch_dir: str) -> Callable:
    """foreachBatch maintainer of the per-day HLL sketch table
    (``operators/sketches.py``): each micro-batch sketches ITS OWN
    rows per day, unions them with the stored sketches for the same
    days, and rewrites the table — incremental distinct maintenance
    where no fact row is ever re-read. HLL union is associative and
    partition-insensitive, so any batch split yields register state
    identical to a single pass (pinned in test_approx.py). The union
    is also idempotent — a register max absorbs a second delivery of
    the same rows — so a replayed batch rewrites the same table and
    needs no marker (the idempotent merge-swap family; the
    crash-replay chaos test in tests/test_sinks.py delivers
    duplicates and rewound replays).

    The rewrite is the :func:`_merge_swap` tmp/old swap,
    leftover-recovery included: this table is the ONLY copy of the
    accumulated history, so a crash mid-overwrite of the directory
    itself would lose every prior day.
    """

    def merge(stored: DataFrame, fresh: DataFrame) -> DataFrame:
        return stored.unionByName(fresh).groupBy("d").agg(F.hll_union_agg("sketch").alias("sketch"))

    def write(batch: DataFrame, batch_id: int) -> None:
        from gmall_realtime2021_spark.operators.sketches import daily_user_sketches

        _merge_swap(sketch_dir, daily_user_sketches(batch), merge)

    return write


def cms_sketch_maintenance_sink(sketch_dir: str) -> Callable:
    """foreachBatch maintainer of the per-day Count-Min counter table
    (``operators/sketches.daily_type_cms``): each micro-batch counts
    ITS OWN rows into ≤ depth·width counters per day, merges them with
    the stored counters by counter-wise SUM, and swaps the table —
    incremental frequency maintenance where no fact row is ever
    re-read. Counter sums are associative, commutative, and EXACT, so
    any batch split yields counters bit-identical to one batch pass —
    a stronger invariant than the HLL sink's register equality
    (pinned in test_sinks.py) — and the batch-built sketch from
    ``plans/sketches.py`` (same ``cm{i}:`` salts) is interchangeable
    with the maintained table.

    Crash safety is the :func:`_merge_swap` tmp/old swap,
    leftover-recovery included: like the HLL table, this directory is
    the only copy of the accumulated counters.

    Replay safety (r08): counter SUMS are NOT idempotent — foreachBatch
    is at-least-once, and a replayed delivery would double-count every
    event it carries (unlike the HLL sink, whose register max makes
    replays free no-ops). The swap therefore runs behind the engine's
    replay guard (:func:`sources.warehouse.replay_guard`: batch id +
    query lineage written into tmp before the atomic swap), which
    skips replayed batch_ids within one checkpoint lineage, restoring
    exactly-once counters; pinned under randomized crash-replay chaos
    in tests/test_sinks.py.
    """

    def merge(stored: DataFrame, fresh: DataFrame) -> DataFrame:
        return stored.unionByName(fresh).groupBy("d", "i", "bucket").agg(F.sum("ct").alias("ct"))

    def write(batch: DataFrame, batch_id: int) -> None:
        from gmall_realtime2021_spark.operators.sketches import daily_type_cms

        _merge_swap(
            sketch_dir, daily_type_cms(batch), merge, guard=(batch_id, "cms_sketch_maintenance_sink")
        )

    return write


def scd2_maintenance_sink(dim_dir: str) -> Callable:
    """foreachBatch maintainer of the SCD Type-2 dimension table that
    ``plans/dwm.scd2_dim_build`` constructs in one batch pass:
    micro-batches of (user_id, event_type, ts, event_id) events merge
    into the at-rest versioned table so batch-built ≡ incrementally-
    maintained, row for row (pinned in test_sinks.py).

    Incremental shape — the 100 TB property is that work is
    DELIVERY-sized, not history-sized on the update path: only users
    present in the batch are touched; each contributes its stored
    CURRENT row as a seed pseudo-event (tie-broken BEFORE any real
    event via event_id −1, with its version as the numbering base),
    the batch's own change-capture window runs over seed+delivery,
    and closed history rows are carried through untouched. The swap
    is the :func:`_merge_swap` tmp/old recipe.

    Delivery contract: per-user event-time ORDER across batches;
    replay safety is enforced here rather than assumed — foreachBatch
    is at-least-once, and a replayed batch would re-derive changes
    against a current row the original delivery already advanced
    (its events now sort around the event_id=-1 seed and corrupt
    versions). The engine's replay guard
    (:func:`sources.warehouse.replay_guard`) writes a ``_last_batch``
    marker (batch id + streaming query id) INTO the tmp directory
    before the atomic swap, so marker and table always travel
    together; ``write`` no-ops (with a loud log) when ``batch_id`` is
    at or below the stored marker AND the query lineage matches — a
    lineage change (fresh checkpoint, batch ids reset to 0) applies
    the batch instead of silently dropping deliveries. Late events
    belong in a retraction layer, not here; the batch builder is the
    recovery path (rebuild from facts).
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from gmall_realtime2021_spark.plans.dwm import (
            SCD2_OPEN_END,
            SCD2_TS_FMT_SPARK,
        )

        ev = batch.select("user_id", "event_type", "ts", "event_id")
        users = ev.select("user_id").distinct()

        def versioned(allrows: DataFrame, base: DataFrame) -> DataFrame:
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            changes = (
                allrows.withColumn("prev", F.lag("event_type").over(w))
                .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
                .drop("prev")
            )
            return (
                changes.withColumn("nxt", F.lead("ts").over(w))
                .withColumn("rn", F.row_number().over(w).cast("long"))
                .join(F.broadcast(base), "user_id", "left")
                .select(
                    "user_id",
                    "event_type",
                    F.date_format("ts", SCD2_TS_FMT_SPARK).alias("valid_from"),
                    F.coalesce(
                        F.date_format("nxt", SCD2_TS_FMT_SPARK), F.lit(SCD2_OPEN_END)
                    ).alias("valid_to"),
                    (F.coalesce(F.col("vbase") - 1, F.lit(0)) + F.col("rn")).alias(
                        "version"
                    ),
                    F.when(F.col("nxt").isNull(), 1).otherwise(0).alias("is_current"),
                )
            )

        def merge(stored: DataFrame, _fresh: DataFrame) -> DataFrame:
            # untouched users and closed history pass through; each
            # touched user's CURRENT row re-enters the change capture
            # as a seed event ahead of the batch's own
            untouched = stored.join(users, "user_id", "left_anti")
            affected = stored.join(F.broadcast(users), "user_id", "left_semi")
            cur = affected.filter(F.col("is_current") == 1)
            seed = cur.select(
                "user_id",
                "event_type",
                F.to_timestamp("valid_from", SCD2_TS_FMT_SPARK).alias("ts"),
                F.lit(-1).cast("long").alias("event_id"),
            )
            base = cur.select("user_id", F.col("version").alias("vbase"))
            return (
                untouched.unionByName(affected.filter(F.col("is_current") == 0))
                .unionByName(versioned(seed.unionByName(ev), base))
            )

        fresh = versioned(ev, users.select("user_id", F.lit(None).cast("long").alias("vbase")))
        _merge_swap(dim_dir, fresh, merge, guard=(batch_id, "scd2_maintenance_sink"))

    return write


def bloom_filter_maintenance_sink(filter_dir: str, key_col: str) -> Callable:
    """foreachBatch maintainer of an at-rest Bloom filter, stored as
    its set of DISTINCT bit positions (``pos int`` parquet — ≤ m rows
    forever, the relational form of an m-bit array): each micro-batch
    hashes ITS OWN keys to positions (``operators/sketches.
    bloom_positions`` — the same salted family the batch plan
    ``bloom_membership`` builds from, so batch-built ≡
    stream-maintained, pinned in test_sinks.py), unions them with the
    stored positions, distincts, and swaps the table.

    Bloom union is SET union — associative, commutative, and
    IDEMPOTENT — so unlike the CMS counters this maintenance is
    replay-safe with no epoch bookkeeping at all: delivering a batch
    twice ORs in bits already set. Crash safety is the
    :func:`_merge_swap` tmp/old swap, leftover-recovery included:
    the directory is the only copy of the accumulated filter.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        from gmall_realtime2021_spark.operators.sketches import bloom_positions

        fresh = batch.select(F.explode(bloom_positions(F.col(key_col))).alias("pos")).distinct()
        _merge_swap(filter_dir, fresh, lambda stored, fresh: stored.unionByName(fresh).distinct())

    return write


def phash_index_sink(index_dir: str) -> Callable:
    """Incremental image-fingerprint index maintenance: each
    micro-batch of media rows appends its own dHash fingerprints
    ``(media_id, dhash, decoder)`` (``multimodal/phash.image_dhash``
    — one delivery-sized Arrow pass) to the at-rest index. A
    fingerprint is a pure per-row function of an immutable payload,
    so append IS the whole maintenance story (the postings-sink
    argument); downstream pairing (``operators/dedup.
    hamming_band_pairs``) and clustering read the accumulated table
    and are exact over it — batch-built ≡ incrementally-built pairs,
    replay included, pinned in tests/test_sinks.py. Idempotence and
    layout come from :func:`stats_store_sink` (epoch-partitioned
    dynamic overwrite; a replayed batch replaces its own partition).

    Scale: per-batch work is delivery-sized; the index grows by 8
    bytes + tag per image and is the ONLY thing dedup reads — payload
    bytes never re-enter any maintenance or pairing job.
    """
    from gmall_realtime2021_spark.multimodal.phash import image_dhash

    store = stats_store_sink(index_dir)

    def write(batch: DataFrame, batch_id: int) -> None:
        store(image_dhash(batch), batch_id)

    return write


def afp_index_sink(index_dir: str) -> Callable:
    """Incremental AUDIO-fingerprint index maintenance — the audio
    twin of :func:`phash_index_sink`: each micro-batch of media rows
    appends its envelope-hash fingerprints ``(media_id, afp,
    decoder)`` (``multimodal/afp.audio_afp``, one delivery-sized
    Arrow pass) to the at-rest index. Fingerprints are pure per-row
    functions of immutable payloads, so append is the whole
    maintenance story; ``audio_dedup_incremental``'s probe reads this
    index. Epoch-partitioned idempotence via :func:`stats_store_sink`.
    """
    from gmall_realtime2021_spark.multimodal.afp import audio_afp

    store = stats_store_sink(index_dir)

    def write(batch: DataFrame, batch_id: int) -> None:
        store(audio_afp(batch), batch_id)

    return write


def video_index_sink(index_dir: str) -> Callable:
    """Incremental VIDEO-fingerprint index maintenance — the video
    twin of :func:`phash_index_sink`: each micro-batch of media rows
    appends its majority-fold frame fingerprints ``(media_id, vhash,
    n_frames)`` (``multimodal/video.video_fingerprints`` — frame
    sampling + per-frame envelope hash + majority fold, all inside
    one delivery-sized Arrow pass plus a delivery-grain fold
    aggregate) to the at-rest index; ``video_dedup_incremental``'s
    probe reads it. Epoch-partitioned idempotence via
    :func:`stats_store_sink`.
    """
    from gmall_realtime2021_spark.multimodal.video import video_fingerprints

    store = stats_store_sink(index_dir)

    def write(batch: DataFrame, batch_id: int) -> None:
        store(video_fingerprints(batch), batch_id)

    return write


def lm_counts_sink(counts_dir: str) -> Callable:
    """Incremental bigram-LM model maintenance: each micro-batch of
    documents appends ITS OWN model-count rows ``(kind, k, ct)``
    (``operators/lm.lm_batch_counts`` — unigram-context and
    bigram-hash counts of the delivery only) to the at-rest store.
    The model tables are ADDITIVE aggregates of those rows
    (``operators/lm.lm_model_counts`` re-sums them at read time), so
    append IS the whole maintenance story — the streaming twin of the
    ``lm_bigram_score`` plan's in-plan count build, exact by algebra
    rather than approximation.

    Counts are NOT idempotent under replay, so delivery epochs ride
    :func:`stats_store_sink`'s partitioned dynamic overwrite — a
    replayed batch replaces its own partition instead of
    double-counting (the CMS sink's recipe). tests/test_sinks.py pins
    batch-built == incrementally-built scores bit-for-bit, replay
    included.

    Scale: per-batch work is delivery-sized (one Arrow pass + two
    map-side-combined aggregates); the store grows by the delivery's
    DISTINCT keys only, and a compaction pass (re-sum into one epoch)
    is the same one-aggregate job the reader already runs.
    """
    from gmall_realtime2021_spark.operators.lm import lm_batch_counts

    store = stats_store_sink(counts_dir)

    def write(batch: DataFrame, batch_id: int) -> None:
        store(lm_batch_counts(batch), batch_id)

    return write


def postings_index_sink(index_dir: str) -> Callable:
    """Incremental inverted-index maintenance: each micro-batch of
    documents appends its postings ``(c_id, dl, tok, tf)`` to the
    at-rest index — the streaming twin of the BM25 plans' batch index
    build. Because a document's postings never change after ingest
    (ids unique, docs immutable) and document frequencies / corpus
    stats are derived aggregates OF the postings
    (``operators.retrieval.bm25_micro`` recomputes them from the
    table), append IS the whole maintenance story — no read-modify-
    write, no merge. Idempotence and layout come from
    :func:`stats_store_sink` (epoch-partitioned dynamic overwrite, so
    a replayed batch replaces its own partition); readers drop the
    ``__batch_id`` lineage column.

    Scale: per-batch work is delivery-sized (tokenize + one token-
    keyed aggregate of the delivery only); the index grows append-only
    like any fact table. THIS store is epoch-partitioned parquet, not
    token-bucketed — a lakehouse deployment writes the same frame via
    ``bucketBy("tok")`` ``saveAsTable`` to get posting-list-sized
    per-term reads; the layout is a writer choice, the maintenance
    contract is identical. tests/test_sinks.py pins batch-built ==
    incrementally-built BM25 scores, replay included.
    """
    from gmall_realtime2021_spark.operators.retrieval import doc_postings

    store = stats_store_sink(index_dir)

    def write(batch: DataFrame, batch_id: int) -> None:
        store(doc_postings(batch, cluster_by_tok=False), batch_id)

    return write


def payment_enrich_bootstrap(spark, sf_dir: str, store_dir: str) -> int:
    """Initial full build of the payment-enrich serving store: the
    ``bucketed_payment_enrich`` contract computed over the CURRENT
    user-bucketed events layout (zero exchanges — the layout serves
    the window's distribution and ordering), written as the store's
    first generation. Returns the row count. Run once before wiring
    :func:`payment_enrich_upsert_batch` into the ingest topology;
    re-running resets the store to the layout's current state (the
    derived-state rebuild discipline)."""
    from gmall_realtime2021_spark.plans.warehouse import enrich_rows

    events_t = W.ensure_bucketed_events(spark, sf_dir)
    with _replace_dir(store_dir) as tmp:
        enrich_rows(spark.table(events_t)).write.mode("overwrite").parquet(tmp)
    return spark.read.parquet(store_dir).count()


def payment_enrich_upsert_batch(
    spark,
    sf_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    sink_name: str = "payment_enrich",
) -> bool:
    """Streaming maintenance of the BOUNDED enrich serving form (r13,
    VERDICT r12 item #6): the reference's PaymentWideApp is a
    STREAMING job (``PaymentWideApp.java:65-75``); this is its
    foreachBatch twin over the engine's serving layout. Per
    micro-batch of events:

    1. append the batch into the user-bucketed events layout
       (:func:`sources.warehouse.append_bucketed_batch` — its own
       replay marker, sorted user buckets, auto-compaction);
    2. recompute the enrich rows of the AFFECTED SLICE ONLY — the
       batch's users within ``[batch_min_ts − 30 min, batch_max_ts +
       30 min]``. The frame reaches 30 minutes BACK, so a (possibly
       late) batch event can change exactly the payments up to 30
       minutes AFTER it and nothing else; the margin before
       ``batch_min`` only feeds frame context. The slice scan rides
       the bucketed layout (users broadcast-semi-joined, window
       exchange-free);
    3. merge-by-pk into the serving store: recomputed payments
       replace their ``pay_id`` rows, every other row is carried over
       unchanged (:func:`_merge_swap` with the same key merge as
       :func:`dim_upsert_batch`, ``DimSink.java:78-93``).

    Returns True if applied, False if skipped as a replay. The
    RECOMPUTE (step 2) is ∝ batch span × affected users' event
    density and never reads history; the MERGE (step 3) is not
    bounded that way: it anti-joins the recomputed rows against the
    WHOLE store and rewrites the whole store into a fresh directory,
    so every batch reads and writes ∝ the store's size, and the
    bytes written per input byte grow with the store. Delivery: the
    store-level marker (:func:`sources.warehouse.replay_guard` on
    ``<store>__ingest``) makes steady-state replays exact skips; a crash between the layout
    append and the store merge replays into an append-side skip plus
    a recompute against the identical layout state — the recompute is
    a pure function of (layout, slice), so the retry converges
    (pinned by the chaos test). The bounded driver-side ``.collect()``
    reads ONE row (the batch's min/max ts)."""
    from gmall_realtime2021_spark.plans.warehouse import enrich_rows

    events_t = W.ensure_bucketed_events(spark, sf_dir)
    guard_dir = store_dir.rstrip("/") + "__ingest"
    with W.replay_guard(spark, guard_dir, batch_id, sink_name) as apply:
        if not apply:
            return False
        # persist: the append, the span and the user list are three
        # actions over the batch, and the merge reads the recomputed
        # slice on both sides of its anti-join + union — without it the
        # source is scanned three times (progress would report 3x
        # numInputRows) and the slice recomputed twice (same discipline
        # as base_log_app)
        cached = [batch_df.persist()]
        try:
            W.append_bucketed_batch(
                spark,
                events_t,
                batch_df,
                batch_id,
                W.EVENTS_BUCKET_KEY,
                sink_name=f"{sink_name}_events",
                sort_cols=W.EVENTS_SORT_COLS,
            )
            # bounded: one row — the batch's time span
            span = batch_df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
            if span.lo is None:
                return True
            users = batch_df.select("user_id").distinct()
            margin = F.expr("INTERVAL 30 MINUTES")
            slice_ev = (
                spark.table(events_t)
                .filter((F.col("ts") >= F.lit(span.lo) - margin) & (F.col("ts") <= F.lit(span.hi) + margin))
                .join(F.broadcast(users), "user_id", "left_semi")
            )
            recomputed = enrich_rows(slice_ev).filter(
                F.col("pay_time") >= F.date_format(F.lit(span.lo), "yyyy-MM-dd HH:mm:ss")
            )
            cached.append(recomputed.persist())
            _merge_swap(store_dir, recomputed, _key_merge("pay_id"))
        finally:
            for df in cached:
                df.unpersist()
    return True
