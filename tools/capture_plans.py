"""Capture ``explain("formatted")`` for headline queries into
``plans/<round>/<query>_<tag>.txt`` (optimization-round evidence; the
judge checks plan claims against these files). The round directory
defaults to the current round (``SPARK_GRAFT_PLAN_ROUND`` overrides).

Usage::

    python tools/capture_plans.py before [name ...]
    python tools/capture_plans.py after  [name ...]

With no names, captures every query in bench.py's HEADLINE list. The
dedup operators' caches are released after each capture, so a dump
never depends on which plans were captured before it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from gmall_realtime2021_spark.operators.dedup import release_caches  # noqa: E402
from gmall_realtime2021_spark.plans import get_plans  # noqa: E402
from gmall_realtime2021_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    plans = get_plans()
    for name in names:
        df = plans[name].build(spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir} ({tag})\n")
            fh.write(formatted)
        release_caches()
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
