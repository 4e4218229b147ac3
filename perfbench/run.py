"""Warehouse benchmark: serving and streaming workloads on one local
Spark session, driven only through the engine's public functions.

    python3 perfbench/run.py --workload dws_serving --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

- ``dws_serving``       closed loop, 1 client, JVM-heavy dashboard plans
- ``retrieval_serving`` closed loop, 1 client, py4j/Python-worker-heavy plans
- ``stream_pipeline``   open loop: a generator thread publishes event files
  into an ODS directory while six ODS→DWD→DWM→DWS apps run

Every run builds the fixture once per checkout (``perfbench/.work``),
then works in a fresh temporary root holding the warehouse layouts,
checkpoints, sinks and Spark local dirs, removed at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is the run
stamp. A traced run also writes its spans, counters and progress
events to ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("dws_serving", "retrieval_serving", "stream_pipeline")
#: a run that is still going after this is killed, JVM first
DEADLINE_S = 170.0

sys.path.insert(0, HERE)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_fingerprint() -> str:
    """Hash of the engine sources, for checkouts that are not git repos."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gmall_realtime2021_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _dirs, fs in os.walk(pkg):
        files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(fh.read())
    return h.hexdigest()[:16]


class Context:
    """Everything one run shares between set-up, workload and report."""

    def __init__(self, args, tracer, run_root: str, sf_dir: str, fixture_fp: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.run_root = run_root
        self.sf_dir = sf_dir
        self.fixture_fp = fixture_fp
        import oracle

        #: stored oracle hashes for this fixture ({} when none are stored)
        self.refs = oracle.load(fixture_fp)
        #: set just before the session starts: set-up is session start,
        #: layout ensure/bootstrap and warm-up, not fixture or hash loading
        self.setup_start = 0.0
        self.spark = None
        self.rest = None


def _start_spark(run_root: str):
    from gmall_realtime2021_spark.session import get_spark

    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={run_root}/spark-warehouse",
            f"--conf spark.local.dir={run_root}/local",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options -Dderby.system.home={run_root}",
            "pyspark-shell",
        ]
    )
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _watchdog(get_proc) -> None:
    def fire() -> None:
        print(f"# DEADLINE: run exceeded {DEADLINE_S:.0f} s, aborting", file=sys.stderr, flush=True)
        proc = get_proc()
        if proc is not None:
            proc.kill()
            proc.wait(timeout=20)
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - PROCESS_START), fire)
    t.daemon = True
    t.start()


def _e2e_metrics(res: dict) -> dict:
    from report import percentile

    lat_ms = [x * 1e3 for x in res["latencies_s"]]
    return {
        "latency_p50_ms": {"value": percentile(lat_ms, 50), "unit": "ms"},
        "throughput_per_s": {"value": res["throughput_per_s"], "unit": "1/s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the engine must be this checkout's; nothing is imported yet because a
    # traced run wraps functions the plan modules bind at import
    missing = [p for p in ("__spark_entry__.py", "gmall_realtime2021_spark") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2

    from fixtures import ensure_fixture
    from tracing import NullTracer, SparkRest, Tracer

    load_start = os.getloadavg()
    tracer = Tracer() if args.trace else NullTracer()
    if tracer.enabled:
        tracer.install()
    fixture_fp = ensure_fixture(os.path.join(WORK, "fixture", "sf0.1"))
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    cpus = str(os.cpu_count() or 1)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(run_root, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(run_root, "local"),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    ctx = Context(args, tracer, run_root, os.path.join(WORK, "fixture", "sf0.1"), fixture_fp)
    _watchdog(lambda: getattr(ctx.spark.sparkContext._gateway, "proc", None) if ctx.spark else None)
    try:
        ctx.setup_start = time.perf_counter()
        ctx.spark = _start_spark(run_root)
        if tracer.enabled:
            ctx.rest = SparkRest(ctx.spark)
        if args.workload == "stream_pipeline":
            import stream

            res = stream.run(ctx)
        else:
            import serving

            res = serving.run(ctx)
        jvm_pid = int(ctx.spark.sparkContext._jvm.ProcessHandle.current().pid())
        res["peak_rss_mb"] = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "pyspark": ctx.spark.version,
            "java": ctx.spark.sparkContext._jvm.System.getProperty("java.version"),
            "fixture": fixture_fp,
            "git_commit": _git_commit(),
            "source": _source_fingerprint(),
        }
        spark = ctx.spark
        ctx.spark = None
        _stop_spark(spark)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(run_root, ignore_errors=True)

    e2e = _e2e_metrics(res) if res["latencies_s"] else {}
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    if tracer.enabled:
        import report

        metrics = report.per_layer(ctx, res, tracer, e2e, results_dir)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        report.write_trace(trace_path, stamp, e2e, metrics, res, tracer)
    else:
        metrics = e2e
        with open(os.path.join(results_dir, f"{args.workload}-untraced.json"), "w") as fh:
            json.dump({"stamp": stamp, "metrics": e2e}, fh)
    print("# stamp " + json.dumps(stamp, separators=(",", ":")))
    failed = res["failed"] + (0 if res["latencies_s"] else 1)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(1, res["attempted"]),
                "failed": failed,
                "metrics": metrics,
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
