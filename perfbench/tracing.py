"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything is recorded from outside the engine: wrappers the
benchmark installs around the engine's public module attributes
(``tables.load``, ``sources.warehouse.ensure_*``), a py4j call
counter, Spark's query tracker, the local UI's REST API, and a
``StreamingQueryListener``. Spans and counters stay in memory and are
written as one JSON file when the run ends.

An untraced run uses :class:`NullTracer`, which installs nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import threading
import time
import urllib.request

#: physical operators that ship rows to Python workers
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class NullTracer:
    enabled = False

    def span(self, name: str, **_kw):
        return contextlib.nullcontext()


class Tracer:
    """Spans ``(name, start, end, parent, request id)`` plus counters."""

    enabled = True

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._py4j_counting = False
        self._client_thread: int | None = None

    # -- spans and counters -------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "start_ms": 0.0,
            "end_ms": 0.0,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start_ms"] = (time.perf_counter() - self.t0) * 1e3
        try:
            yield rec
        finally:
            rec["end_ms"] = (time.perf_counter() - self.t0) * 1e3
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def record(self, kind: str, **fields) -> None:
        with self._lock:
            self.records.append({"kind": kind, "t_ms": (time.perf_counter() - self.t0) * 1e3, **fields})

    # -- patches --------------------------------------------------------------
    def install(self) -> None:
        """Wrap the engine's public calls. Must run before the plan
        modules are imported: they bind ``load`` with ``from ... import``."""
        from py4j.java_gateway import GatewayClient

        from gmall_realtime2021_spark import tables

        tables.load = self._wrap(tables.load, "tables.load")
        from gmall_realtime2021_spark.sources import warehouse

        for attr in dir(warehouse):
            if attr.startswith("ensure_"):
                setattr(warehouse, attr, self._wrap(getattr(warehouse, attr), f"warehouse.{attr}"))
        from gmall_realtime2021_spark.streaming import sinks

        sinks.payment_enrich_bootstrap = self._wrap(
            sinks.payment_enrich_bootstrap, "warehouse.payment_enrich_bootstrap"
        )

        send = GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counting_send(client, *args, **kwargs):
            if tracer._py4j_counting and threading.get_ident() == tracer._client_thread:
                tracer.counters["py4j.calls"] = tracer.counters.get("py4j.calls", 0) + 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counting_send

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                tracer.count(f"{name}.calls")
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def py4j_counting(self):
        """Count py4j round trips made by the calling thread."""
        self._client_thread = threading.get_ident()
        before = self.counters.get("py4j.calls", 0)
        self._py4j_counting = True
        box = {"calls": 0}
        try:
            yield box
        finally:
            self._py4j_counting = False
            box["calls"] = self.counters.get("py4j.calls", 0) - before

    # -- Spark-side readers ---------------------------------------------------
    @staticmethod
    def tracker_phases(df) -> dict[str, float]:
        """Analysis/optimization/planning ms from the query's tracker
        (forces the physical plan)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


class SparkRest:
    """Reads stage and SQL metrics from the driver UI's REST API on
    localhost, after the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.last_stage = -1
        self.last_sql = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Skip everything that ran so far."""
        self.settle()
        stages = self._get("/stages")
        self.last_stage = max([s["stageId"] for s in stages], default=-1)
        sql = self._get("/sql?details=false&length=100000")
        self.last_sql = max([e["id"] for e in sql], default=-1)

    def collect_new(self) -> dict[str, float]:
        """Executor and Python-worker metrics of the stages and SQL
        executions that completed since the last call."""
        self.settle()
        out = dict.fromkeys(
            (
                "exec.task_ms",
                "exec.stages",
                "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes",
                "exec.spill_bytes",
                "python.rows",
                "python.bytes_to_worker",
                "python.bytes_from_worker",
            ),
            0.0,
        )
        stages = [s for s in self._get("/stages") if s["stageId"] > self.last_stage]
        for s in stages:
            if s.get("status") != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.task_ms"] += s.get("executorRunTime", 0)
            out["exec.shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            out["exec.shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            out["exec.spill_bytes"] += s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)
        self.last_stage = max([s["stageId"] for s in stages], default=self.last_stage)
        sql = [
            e
            for e in self._get(f"/sql?details=true&planDescription=false&offset={self.last_sql + 1}&length=100000")
            if e["id"] > self.last_sql
        ]
        for e in sql:
            for node in e.get("nodes", []):
                if not _PYTHON_NODE.search(node.get("nodeName", "")):
                    continue
                for m in node.get("metrics", []):
                    name, value = m.get("name", ""), m.get("value", "")
                    if name == "number of output rows":
                        out["python.rows"] += _parse_count(value)
                    elif name == "data sent to Python workers":
                        out["python.bytes_to_worker"] += _parse_size(value)
                    elif name == "data returned from Python workers":
                        out["python.bytes_from_worker"] += _parse_size(value)
        self.last_sql = max([e["id"] for e in sql], default=self.last_sql)
        return out


def _parse_count(value: str) -> float:
    head = value.split("\n")[-1] if "total" in value else value
    m = re.search(r"[\d,]+", head)
    return float(m.group(0).replace(",", "")) if m else 0.0


def _parse_size(value: str) -> float:
    head = value.split("\n")[-1] if "total" in value else value
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", head)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def progress_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that records one line per
    progress event, keyed by query id (the apps set no queryName)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            tracer.record("stream.started", query=str(event.id))

        def onQueryProgress(self, event) -> None:
            tracer.record("stream.progress", query=str(event.progress.id), progress=json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            tracer.record("stream.terminated", query=str(event.id), exception=event.exception)

    return _Listener()
