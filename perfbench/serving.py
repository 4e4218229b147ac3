"""Closed-loop serving workloads: one client runs registered plans
back to back, each query being ``plans.get_plans()[name].build`` plus
a full execution through the noop sink.

Set-up runs every plan once and checks its collected result against
the reference hash of its DuckDB oracle (``oracle.py``), then warms it
through the noop sink: once more, or twice more when its plan runs
Pandas/Arrow Python workers, whose first runs are slow. The timed loop
runs whole rounds, each a seeded permutation of the plan set, until the
run length is reached and at least ``MIN_ROUNDS`` are done, so every
run serves the same mix.
"""

from __future__ import annotations

import random
import re
import sys
import time

from oracle import result_hash

PLAN_SETS = {
    # JVM scans, aggregates and joins over the raw tables and two at-rest
    # layouts (bucketed facts, day-partitioned events)
    "dws_serving": (
        "visitor_stats",
        "product_stats",
        "order_wide",
        "market_share",
        "bucketed_order_wide",
        "events_daily_partitioned",
    ),
    # a py4j-heavy build (ann_ivf_topk), exact top-k in the JVM, and
    # Arrow/Pandas Python workers (two of the dedup family). The at-rest
    # IVF layout (ann_ivf_partitioned) and more plans would not fit the
    # set-up time of a run.
    "retrieval_serving": (
        "ann_ivf_topk",
        "ann_cosine_topk",
        "dedup_minhash_lsh",
        "semantic_dedup",
    ),
}


#: executed-plan nodes that run Pandas/Arrow Python workers
_PANDAS_NODE = re.compile(r"InPandas|ArrowEvalPython|InArrow")

#: a run serves at least this many rounds, however long they take
MIN_ROUNDS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from gmall_realtime2021_spark.operators.dedup import release_caches
    from gmall_realtime2021_spark.plans import get_plans

    spark, sf_dir, tracer = ctx.spark, ctx.sf_dir, ctx.tracer
    plans = get_plans()
    names = PLAN_SETS[ctx.workload]
    attempted = failed = 0

    for name in names:
        attempted += 1
        try:
            with tracer.span("setup.verify", plan=name):
                df = plans[name].build(spark, sf_dir)
                got = result_hash(df.toPandas())
            pandas = bool(_PANDAS_NODE.search(df._jdf.queryExecution().executedPlan().toString()))
            release_caches()
            want = ctx.refs.get(name)
            if want is None:
                failed += 1
                print(f"# NO REFERENCE HASH {name}: run python3 perfbench/oracle.py", file=sys.stderr)
            elif got != want:
                failed += 1
                print(f"# WRONG RESULT {name}: {got} != {want}", file=sys.stderr)
            for _ in range(2 if pandas else 1):
                with tracer.span("setup.warm", plan=name):
                    _noop(plans[name].build(spark, sf_dir))
                release_caches()
        except Exception as exc:  # noqa: BLE001 — a failing plan is a counted failure
            failed += 1
            print(f"# QUERY FAILED {name} (verify): {exc!r}"[:2000], file=sys.stderr)
    setup_s = time.perf_counter() - ctx.setup_start

    rest = ctx.rest
    if rest is not None:
        rest.mark()
    layer: dict[str, list[float]] = {}
    latencies: list[float] = []
    rng = random.Random(ctx.seed)
    t_start = time.perf_counter()
    n = 0
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() - t_start < ctx.seconds:
        rounds += 1
        order = list(names)
        rng.shuffle(order)
        for name in order:
            n += 1
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("query", request=f"q{n}", plan=name):
                    if tracer.enabled:
                        with tracer.span("plans.build"), tracer.py4j_counting() as calls:
                            df = plans[name].build(spark, sf_dir)
                        layer.setdefault("plans.py4j_calls", []).append(calls["calls"])
                        for phase, ms in tracer.tracker_phases(df).items():
                            layer.setdefault(f"spark.{phase}_ms", []).append(ms)
                        with tracer.span("exec"):
                            _noop(df)
                    else:
                        _noop(plans[name].build(spark, sf_dir))
                latencies.append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 — a failing query is a counted failure
                failed += 1
                print(f"# QUERY FAILED {name}: {exc!r}"[:2000], file=sys.stderr)
            release_caches()
            if rest is not None:
                for k, v in rest.collect_new().items():
                    layer.setdefault(k, []).append(v)
    elapsed = time.perf_counter() - t_start

    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "latencies_s": latencies,
        "throughput_per_s": len(latencies) / elapsed,
        "per_query": layer,
    }
