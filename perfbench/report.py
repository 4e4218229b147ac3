"""Per-layer metrics of a traced run, and the trace file it writes.

Every traced run reports every metric below; a layer the workload does
not touch reads 0 (``python.*`` on ``dws_serving``, the app metrics on
the serving workloads). Which end-to-end metric each should move:

=================================  ==========================================
per-layer metric                   end-to-end metric it should move
=================================  ==========================================
``plans.build_ms``,                ``latency_p50_ms`` on retrieval_serving
``plans.py4j_calls``               most, less on dws_serving (py4j_calls is
                                   a count and repeats exactly)
``tables.load_*``                  ``latency_p50_ms`` on dws_serving
``spark.{analysis,optimization,    ``latency_p50_ms`` on both serving
planning}_ms``                     workloads
``exec.*``                         ``tail.latency_p90_ms`` and
                                   ``latency_p50_ms`` on dws_serving
``python.*``                       ``tail.latency_p90_ms`` and
                                   ``latency_p50_ms`` on retrieval_serving;
                                   0 on dws_serving
``warehouse.<layout>.ensure_ms``   ``setup_s``
``<app>.*``                        ``latency_p50_ms`` (freshness) and
                                   ``throughput_per_s``
                                   (drain) on stream_pipeline; the app with
                                   the highest ``busy_ratio`` is the
                                   bottleneck
``<app>.bytes_written_per_         ``throughput_per_s`` on stream_pipeline
input_byte``
``tail.latency_p90_ms``            none: the p90 of the same samples as
                                   ``latency_p50_ms``; a run has about 12 of
                                   them, not the 100 that put ten beyond the
                                   p90, and it spreads too far for a bound
``mem.peak_rss_mb``                none: summed ``VmHWM`` of the Python
                                   driver and the JVM; G1 heap sizing moves
                                   it by a third between identical runs, too
                                   much for an end-to-end bound
``gen.lateness_p99_ms``            none: a late generator invalidates the run
``trace.latency_p50_overhead_ms``  none: traced minus the last untraced
                                   ``latency_p50_ms`` of the workload
=================================  ==========================================

``python.bytes_*`` are parsed from the UI's rounded size strings, so
they carry three significant digits. ``<app>.input_rows`` is the rows of
the files an app committed in the window, placed through its source
logs: Spark's ``numInputRows`` counts every scan of a batch that
``foreachBatch`` reads more than once (three for payment_enrich).
"""

from __future__ import annotations

import json
import os
import statistics

APPS = ("base_log", "unique_visitors", "user_jump", "payment_wide", "visitor_stats", "payment_enrich")
LAYOUTS = (
    "bucketed_facts",
    "bucketed_events",
    "partitioned_events",
    "day_bucketed_events",
    "ivf_embeddings",
    "split_documents",
    "payment_enrich_bootstrap",
)
#: per served query, averaged over the timed queries
QUERY_METRICS = (
    ("plans.build_ms", "ms"),
    ("plans.py4j_calls", "count"),
    ("tables.load_calls", "count"),
    ("tables.load_ms", "ms"),
    ("spark.analysis_ms", "ms"),
    ("spark.optimization_ms", "ms"),
    ("spark.planning_ms", "ms"),
    ("exec.ms", "ms"),
    ("exec.task_ms", "ms"),
    ("exec.stages", "count"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("python.rows", "count"),
    ("python.bytes_to_worker", "bytes"),
    ("python.bytes_from_worker", "bytes"),
)
APP_METRICS = (
    ("batch_p50_ms", "ms"),
    ("batch_p90_ms", "ms"),
    ("add_batch_ms", "ms"),
    ("query_planning_ms", "ms"),
    ("wal_commit_ms", "ms"),
    ("input_rows", "count"),
    ("batches", "count"),
    ("busy_ratio", "ratio"),
    ("state_rows", "count"),
    ("state_mem_bytes", "bytes"),
    ("state_commit_ms", "ms"),
    ("fresh_p50_ms", "ms"),
    ("bytes_written_per_input_byte", "ratio"),
)
RUN_METRICS = (
    ("tail.latency_p90_ms", "ms"),
    ("mem.peak_rss_mb", "MiB"),
    ("gen.lateness_p99_ms", "ms"),
    ("trace.latency_p50_overhead_ms", "ms"),
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = dict(QUERY_METRICS)
    units.update({f"warehouse.{layout}.ensure_ms": "ms" for layout in LAYOUTS})
    units.update({f"{app}.{m}": u for app in APPS for m, u in APP_METRICS})
    units.update(RUN_METRICS)
    return units


def percentile(values: list[float], q: int) -> float:
    """Inclusive-method percentile; 0 for no values."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _query_means(res: dict, tracer) -> dict[str, float]:
    out = {name: _mean(v) for name, v in res.get("per_query", {}).items()}
    queries = {s["request"] for s in tracer.spans if s["name"] == "query"}
    if not queries:
        return out
    per_request: dict[str, dict[str, float]] = {q: {} for q in queries}
    for s in tracer.spans:
        if s["request"] not in per_request:
            continue
        key = {"plans.build": "plans.build_ms", "exec": "exec.ms", "tables.load": "tables.load_ms"}.get(s["name"])
        if key is None:
            continue
        acc = per_request[s["request"]]
        acc[key] = acc.get(key, 0.0) + s["end_ms"] - s["start_ms"]
        if key == "tables.load_ms":
            acc["tables.load_calls"] = acc.get("tables.load_calls", 0) + 1
    for key in ("plans.build_ms", "exec.ms", "tables.load_ms", "tables.load_calls"):
        out[key] = _mean(acc.get(key, 0.0) for acc in per_request.values())
    return out


def per_layer(ctx, res: dict, tracer, e2e: dict, results_dir: str) -> dict:
    values: dict[str, float] = dict.fromkeys(metric_units(), 0.0)
    values.update(_query_means(res, tracer))
    for s in tracer.spans:
        if s["name"].startswith("warehouse."):
            layout = s["name"].removeprefix("warehouse.").removeprefix("ensure_")
            key = f"warehouse.{layout}.ensure_ms"
            if key in values:
                values[key] += s["end_ms"] - s["start_ms"]
    for app, metrics in res.get("apps", {}).items():
        for m, v in metrics.items():
            values[f"{app}.{m}"] = v
    values["tail.latency_p90_ms"] = percentile([x * 1e3 for x in res["latencies_s"]], 90)
    values["mem.peak_rss_mb"] = res["peak_rss_mb"]
    values["gen.lateness_p99_ms"] = percentile(res.get("gen_lateness_ms", []), 99)
    try:
        with open(os.path.join(results_dir, f"{ctx.workload}-untraced.json")) as fh:
            untraced = json.load(fh)["metrics"]["latency_p50_ms"]["value"]
        values["trace.latency_p50_overhead_ms"] = e2e["latency_p50_ms"]["value"] - untraced
    except (FileNotFoundError, KeyError):
        pass
    units = metric_units()
    return {name: {"value": float(values[name]), "unit": units[name]} for name in units}


def write_trace(path: str, stamp: dict, e2e: dict, metrics: dict, res: dict, tracer) -> None:
    doc = {
        "stamp": stamp,
        "end_to_end": e2e,
        "per_layer": metrics,
        "counters": tracer.counters,
        "spans": tracer.spans,
        "records": tracer.records,
        "files": res.get("files", []),
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, default=str)
    os.replace(tmp, path)
