"""Open-loop streaming workload: ODS → DWD → DWM → DWS.

A generator thread publishes event files into an ODS directory on a
fixed schedule (atomic rename, one file every ``PERIOD_S``). Rows are
resampled from the fixture's ``events`` with the run seed; they get
fresh ``event_id``s and a UTC ``TIMESTAMP`` that continues past the
fixture horizon, ``EVENT_TIME_SPEEDUP`` event seconds per wall second.
Six apps read the directory concurrently in one session:
``base_log_app`` (DWD), ``unique_visitors_app`` and ``user_jump_app``
(DWM), ``payment_wide_app`` (DWM join), ``visitor_stats_app`` (DWS) and
``warehouse_ingest_app(layout="payment_enrich")`` (serving layout).

Set-up ends once every app has committed ``WARM_FILES`` warm files.
Then a burst of ``BURST_ROWS`` rows, one file published to idle apps,
measures drain capacity: burst rows over the time until every app has
committed them. A single file lands in one listing, so no app splits
the burst over two micro-batches. The burst also warms the apps for the
steady phase that follows: ``--seconds`` of one file every
``PERIOD_S``. A file's freshness runs from when it was due until the
last app has committed a micro-batch containing it; files are attributed
to batches through each source's file log in the query checkpoint. A
closing sentinel file far ahead in event time closes every window; the
sinks are then reconciled against the ``streaming/jobs.py`` functions
applied to the static union of the published files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures import event_props, event_values
from oracle import result_hash
from report import APPS, percentile

PERIOD_S = 0.5
STEADY_ROWS = 50  # per file: 100 events/s
#: published before the apps start, drained in set-up
WARM_FILES = 2
BURST_ROWS = 4000
EVENT_TIME_SPEEDUP = 600
SENTINEL_USER = -1
SENTINEL_AHEAD_US = 2 * 86_400 * 1_000_000
#: checkpoint name of an app whose name differs from the app's
CHECKPOINTS = {"payment_enrich": "warehouse_payment_enrich"}
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


class Generator:
    """Seeded event files, published into ``ods_dir`` by rename."""

    def __init__(self, sf_dir: str, seed: int, ods_dir: str, staging_dir: str) -> None:
        base = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts", "user_id", "event_type"])
        self.users = base.column("user_id").to_numpy()
        self.types = base.column("event_type").to_numpy(zero_copy_only=False)
        self.rng = np.random.default_rng(seed)
        self.next_id = 10**9
        horizon = base.column("ts").to_numpy().max().astype("datetime64[us]").astype(np.int64)
        self.clock_us = int(horizon) + 1_000_000
        self.ods_dir, self.staging_dir = ods_dir, staging_dir
        os.makedirs(ods_dir, exist_ok=True)
        os.makedirs(staging_dir, exist_ok=True)
        self.files: list[dict] = []

    def make(self, rows: int, span_s: float) -> pa.Table:
        idx = self.rng.integers(0, len(self.users), rows)
        span_us = int(span_s * EVENT_TIME_SPEEDUP * 1e6)
        ts = self.clock_us + np.sort(self.rng.integers(0, span_us, rows))
        self.clock_us += span_us
        ids = np.arange(self.next_id, self.next_id + rows)
        self.next_id += rows
        return pa.table(
            [
                ids,
                pa.array(ts, pa.timestamp("us", tz="UTC")),
                self.users[idx],
                self.types[idx],
                event_values(self.rng, rows),
                event_props(self.rng, rows),
            ],
            schema=ARROW_SCHEMA,
        )

    def sentinel(self) -> pa.Table:
        ts = self.clock_us + SENTINEL_AHEAD_US
        return pa.table(
            [[self.next_id], pa.array([ts], pa.timestamp("us", tz="UTC")), [SENTINEL_USER], ["sentinel"], [0.0], [None]],
            schema=ARROW_SCHEMA,
        )

    def publish(self, tables: list[tuple[pa.Table, str]], due: float) -> None:
        """Write each ``(table, phase)`` to staging, then rename them all
        into the ODS directory back to back, so one listing sees them all."""
        staged = []
        for table, phase in tables:
            name = f"{len(self.files) + len(staged):06d}.parquet"
            pq.write_table(table, os.path.join(self.staging_dir, name))
            staged.append((name, table.num_rows, phase))
        for name, _rows, _phase in staged:
            os.rename(os.path.join(self.staging_dir, name), os.path.join(self.ods_dir, name))
        published = time.time()
        for name, rows, phase in staged:
            size = os.path.getsize(os.path.join(self.ods_dir, name))
            self.files.append(
                {"name": name, "rows": rows, "bytes": size, "due": due, "published": published, "phase": phase}
            )


def _commit_time(progress: dict) -> float:
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return start.timestamp() + progress["durationMs"].get("triggerExecution", 0) / 1e3


def _source_logs(ckpt: str) -> list[dict[str, int]]:
    """Per source of a query: file name -> the source-log batch that
    listed it. A compacted log (``N.compact``) keeps every entry."""
    root = os.path.join(ckpt, "sources")
    logs = []
    for src in sorted(os.listdir(root), key=int) if os.path.isdir(root) else []:
        entries: dict[str, int] = {}
        d = os.path.join(root, src)
        for name in os.listdir(d):
            if name.startswith("."):  # a log file still being written
                continue
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        entries[os.path.basename(e["path"])] = int(e["batchId"])
        logs.append(entries)
    return logs


def _file_commits(progresses: list[dict], logs: list[dict[str, int]], files: list[dict]) -> list[float | None]:
    """Commit time of the first batch in which every source of the query
    has read each file (None: never committed). Files are placed by the
    source logs, not by ``numInputRows``, which counts every scan of a
    batch that ``foreachBatch`` reads more than once."""
    batches = sorted(progresses, key=lambda p: p["batchId"])

    def read_by(i: int, log_batch: int) -> float | None:
        for p in batches:
            srcs = p.get("sources", [])
            end = (srcs[i].get("endOffset") or {}) if i < len(srcs) else {}
            if int(end.get("logOffset", -1)) >= log_batch:
                return _commit_time(p)
        return None

    commits: list[float | None] = []
    for f in files:
        per_src = [read_by(i, log[f["name"]]) if f["name"] in log else None for i, log in enumerate(logs)]
        commits.append(max(per_src) if per_src and None not in per_src else None)
    return commits


class SinkBytes:
    """Traced runs only: samples the sink trees and sums the bytes of
    every file (by inode) that appears after ``start``, so a store
    rewritten per batch counts every rewrite."""

    def __init__(self, roots: dict[str, list[str]], interval_s: float = 0.25) -> None:
        self.roots, self.interval_s = roots, interval_s
        self.seen: dict[str, dict[tuple[int, int], int]] = {app: {} for app in roots}
        self.baseline: dict[str, set] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="sink-bytes", daemon=True)

    def _scan(self, app: str) -> dict[tuple[int, int], int]:
        found = {}
        for root in self.roots[app]:
            for d, _dirs, fs in os.walk(root):
                for f in fs:
                    try:
                        st = os.stat(os.path.join(d, f))
                    except OSError:
                        continue
                    found[(st.st_dev, st.st_ino)] = st.st_size
        return found

    def start(self) -> None:
        self.baseline = {app: set(self._scan(app)) for app in self.roots}
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        for app in self.roots:
            seen = self.seen[app]
            for key, size in self._scan(app).items():
                if key not in self.baseline[app] and size > seen.get(key, -1):
                    seen[key] = size

    def stop(self) -> dict[str, int]:
        self._stop.set()
        self._thread.join(timeout=30)
        self.sample()
        return {app: sum(v.values()) for app, v in self.seen.items()}


def _progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _settled_commits(queries: dict, ckpts: dict[str, str], files: list[dict], timeout_s: float = 10.0):
    """Progress and per-file commit times of every query, once every
    file is committed by every query (or at the timeout): a batch's
    progress event lands just after its commit."""
    deadline = time.time() + timeout_s
    while True:
        progresses = {app: _progress(q) for app, q in queries.items()}
        commits = {app: _file_commits(progresses[app], _source_logs(ckpts[app]), files) for app in queries}
        if all(None not in c for c in commits.values()) or time.time() > deadline:
            return progresses, commits
        time.sleep(0.1)


def _start_apps(spark, ods_dir: str, sf_dir: str, cfg) -> dict:
    from gmall_realtime2021_spark.sources import file_stream
    from gmall_realtime2021_spark.streaming import apps as A

    def src():
        return file_stream(spark, ods_dir, SCHEMA)

    return {
        "base_log": A.base_log_app(src(), cfg),
        "unique_visitors": A.unique_visitors_app(src(), cfg),
        "user_jump": A.user_jump_app(src(), cfg),
        "payment_wide": A.payment_wide_app(src(), src(), cfg),
        "visitor_stats": A.visitor_stats_app(src(), cfg),
        "payment_enrich": A.warehouse_ingest_app(src(), sf_dir, cfg, layout="payment_enrich"),
    }


def _drain(queries: dict, errors: list[str]) -> None:
    for app, q in queries.items():
        try:
            q.processAllAvailable()
        except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
            errors.append(f"{app}: {exc!r}"[:2000])


def _reconcile(spark, ods_dir: str, sf_dir: str, cfg, run_root: str) -> dict[str, bool]:
    """Compare every sink with its job over the static union of the
    published files; returns check name -> passed."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.sources import file_stream
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.streaming import jobs as J

    ods = spark.read.schema(SCHEMA).parquet(ods_dir)
    data = ods.filter(F.col("user_id") != SENTINEL_USER)

    def sink(app: str):
        return spark.read.parquet(cfg.sink_path(app)).drop("__batch_id")

    def same(a, b) -> bool:
        return result_hash(a.toPandas()) == result_hash(b.toPandas())

    ok: dict[str, bool] = {}
    ods_counts = {r["event_type"]: r["count"] for r in data.groupBy("event_type").count().collect()}
    branches = {"start": ("signup",), "page": ("view", "click", "purchase"), "error": ("error",)}
    for branch, types in branches.items():
        got = spark.read.parquet(cfg.sink_path(f"log/{branch}")).count()
        ok[f"base_log.{branch}"] = got == sum(ods_counts.get(t, 0) for t in types)
    ok["unique_visitors"] = same(sink("unique_visitors"), J.unique_visitors_stream(data))
    ok["visitor_stats"] = same(sink("visitor_stats"), J.visitor_stats_stream(data))
    ok["payment_wide"] = same(sink("payment_wide"), J.payment_wide_stream(data, data))
    # applyInPandasWithState runs only on a stream: replay the union as one
    ref = (
        J.user_jump_stream(file_stream(spark, ods_dir, SCHEMA))
        .writeStream.format("memory")
        .queryName("perfbench_user_jump_ref")
        .option("checkpointLocation", os.path.join(run_root, "ckpt", "user_jump_ref"))
        .trigger(availableNow=True)
        .start()
    )
    ref.awaitTermination(120)
    ref_rows = spark.table("perfbench_user_jump_ref")
    ok["user_jump"] = same(sink("user_jump"), ref_rows.filter(F.col("user_id") != SENTINEL_USER))
    layout_rows = spark.table(W.ensure_bucketed_events(spark, sf_dir)).count()
    fixture_rows = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    ok["payment_enrich.layout"] = layout_rows == fixture_rows + ods.count()
    store = spark.read.parquet(cfg.sink_path("payment_enrich_store"))
    ok["payment_enrich.store"] = same(store, get_plans()["bucketed_payment_enrich"].build(spark, sf_dir))
    return ok


def _app_metrics(progresses: list[dict], commits: list, files: list[dict], window: tuple[float, float]) -> dict:
    lo, hi = window
    batches = [p for p in progresses if lo <= _commit_time(p) <= hi]
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in batches)
    fed = [p for p in batches if p.get("numInputRows", 0) > 0]
    trig = [float(p["durationMs"].get("triggerExecution", 0)) for p in fed]
    last = max(progresses, key=lambda p: p["batchId"]) if progresses else {}
    state = last.get("stateOperators", [])
    fresh = [(c - f["due"]) * 1e3 for c, f in zip(commits, files) if f["phase"] == "steady" and c is not None]

    def mean_of(key: str) -> float:
        return statistics.fmean([p["durationMs"].get(key, 0) for p in fed]) if fed else 0.0

    return {
        "batch_p50_ms": percentile(trig, 50),
        "batch_p90_ms": percentile(trig, 90),
        "add_batch_ms": mean_of("addBatch"),
        "query_planning_ms": mean_of("queryPlanning"),
        "wal_commit_ms": mean_of("walCommit"),
        "input_rows": float(sum(f["rows"] for c, f in zip(commits, files) if c is not None and lo <= c <= hi)),
        "batches": float(len(fed)),
        "busy_ratio": busy / 1e3 / max(hi - lo, 1e-9),
        "state_rows": float(sum(s.get("numRowsTotal", 0) for s in state)),
        "state_mem_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in state)),
        "state_commit_ms": statistics.fmean(
            [sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", [])) for p in fed]
        )
        if fed
        else 0.0,
        "fresh_p50_ms": percentile(fresh, 50),
    }


def run(ctx) -> dict:
    from gmall_realtime2021_spark.streaming.apps import AppConfig

    spark, tracer, root = ctx.spark, ctx.tracer, ctx.run_root
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    ods_dir = os.path.join(root, "ods")
    cfg = AppConfig(out_dir=os.path.join(root, "sinks"), checkpoint_dir=os.path.join(root, "ckpt"))
    gen = Generator(ctx.sf_dir, ctx.seed, ods_dir, os.path.join(root, "staging"))
    n_steady = max(1, int(round(ctx.seconds / PERIOD_S)))
    warm = [gen.make(STEADY_ROWS, PERIOD_S) for _ in range(WARM_FILES)]
    burst = gen.make(BURST_ROWS, PERIOD_S)
    steady = [gen.make(STEADY_ROWS, PERIOD_S) for _ in range(n_steady)]
    errors: list[str] = []

    listener = None
    if tracer.enabled:
        from tracing import progress_listener

        listener = progress_listener(tracer)
        spark.streams.addListener(listener)
    queries: dict = {}
    try:
        # published first, so the apps' first batches overlap the
        # payment_enrich bootstrap
        gen.publish([(table, "warm") for table in warm], time.time())
        with tracer.span("setup.start_apps"):
            queries = _start_apps(spark, ods_dir, ctx.sf_dir, cfg)
        with tracer.span("setup.warm"):
            _drain(queries, errors)
        setup_s = time.perf_counter() - ctx.setup_start

        sampler = None
        if tracer.enabled:
            sampler = SinkBytes(
                {
                    "base_log": [cfg.sink_path("log")],
                    "unique_visitors": [cfg.sink_path("unique_visitors")],
                    "user_jump": [cfg.sink_path("user_jump")],
                    "payment_wide": [cfg.sink_path("payment_wide")],
                    "visitor_stats": [cfg.sink_path("visitor_stats")],
                    "payment_enrich": [
                        cfg.sink_path("payment_enrich_store"),
                        cfg.sink_path("payment_enrich_store.tmp"),
                        cfg.sink_path("payment_enrich_store__ingest"),
                        os.environ["SPARK_GRAFT_WAREHOUSE_DIR"],
                    ],
                }
            )
            sampler.start()
        t_measure = time.time()
        # the burst starts from idle apps, so its drain time does not
        # depend on where the warm batches happened to end
        gen.publish([(burst, "burst")], time.time())
        _drain(queries, errors)
        t_steady = time.time()

        def publish() -> None:
            for i, table in enumerate(steady):
                due = t_steady + i * PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                gen.publish([(table, "steady")], due)

        producer = threading.Thread(target=publish, name="generator")
        producer.start()
        producer.join()
        _drain(queries, errors)
        t_drained = time.time()
        gen.publish([(gen.sentinel(), "sentinel")], time.time())
        _drain(queries, errors)
        # the sentinel is control, checked by the reconciliation
        files = [f for f in gen.files if f["phase"] != "sentinel"]
        ckpts = {app: cfg.ckpt(CHECKPOINTS.get(app, app)) for app in queries}
        progresses, commits = _settled_commits(queries, ckpts, files)
        sink_bytes = sampler.stop() if sampler is not None else {}
    finally:
        for q in queries.values():
            try:
                q.stop()
            except Exception as exc:  # noqa: BLE001 — keep stopping the others
                errors.append(f"stop: {exc!r}"[:500])
        if listener is not None:
            spark.streams.removeListener(listener)

    attempted = len(files)
    failed = 0
    fresh_ms: list[float] = []
    drain_rate = 0.0
    for k, f in enumerate(files):
        per_app = [commits[app][k] for app in APPS]
        if any(c is None for c in per_app):
            failed += 1
            lagging = [app for app in APPS if commits[app][k] is None]
            print(f"# NOT COMMITTED {f['name']} ({f['phase']}) by {', '.join(lagging)}", file=sys.stderr)
            continue
        f["committed"] = max(per_app)
        if f["phase"] == "steady":
            fresh_ms.append((f["committed"] - f["due"]) * 1e3)
        elif f["phase"] == "burst":
            drain_rate = f["rows"] / (f["committed"] - f["published"])
    with tracer.span("reconcile"):
        checks = _reconcile(spark, ods_dir, ctx.sf_dir, cfg, root)
    bad = [name for name, passed in checks.items() if not passed]
    attempted += len(checks)
    failed += len(bad) + len(errors)
    for msg in errors:
        print(f"# STREAM ERROR {msg}", file=sys.stderr)
    for name in bad:
        print(f"# RECONCILE MISMATCH {name}", file=sys.stderr)

    input_bytes = sum(f["bytes"] for f in files if f["phase"] in ("steady", "burst"))
    apps = {}
    for app in APPS:
        m = _app_metrics(progresses[app], commits[app], files, (t_measure, t_drained))
        m["bytes_written_per_input_byte"] = sink_bytes.get(app, 0) / input_bytes if input_bytes else 0.0
        apps[app] = m
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "latencies_s": [x / 1e3 for x in fresh_ms],
        "throughput_per_s": drain_rate,
        "apps": apps,
        "gen_lateness_ms": [(f["published"] - f["due"]) * 1e3 for f in files if f["phase"] == "steady"],
        "files": files,
    }

