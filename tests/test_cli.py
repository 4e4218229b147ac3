"""CLI contract: list covers the registry; run executes a plan
against an sf_dir and writes parquet."""

from __future__ import annotations

import pytest

from gmall_realtime2021_spark.__main__ import main, run_plan
from gmall_realtime2021_spark.plans import get_plans


def test_list_names_every_plan(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in get_plans():
        assert name in out


def test_run_plan_writes_parquet(spark, tmp_path):
    out = str(tmp_path / "res")
    n = run_plan(
        spark, "region_rollup", "/root/testdata/sf0.001", out=out, explain=False, show=0
    )
    assert n == spark.read.parquet(out).count() > 0


def test_run_unknown_plan_raises(spark):
    import pytest

    with pytest.raises(KeyError):
        run_plan(spark, "nope", "/root/testdata/sf0.001")


def test_catalog_priority_names_are_real():
    """Every name in the driver-ordering priority list must be a
    registered plan — a typo would silently push a red plan to the
    back of the sampled prefix (the exact failure mode the list
    exists to prevent)."""
    import __spark_entry__ as e
    from gmall_realtime2021_spark.plans import get_plans

    plans = set(get_plans())
    missing = [n for n in e._PRIORITY if n not in plans]
    assert not missing, missing
    # and the catalog leads with the priority list, in order
    order = e._catalog_order()
    assert order[: len(e._PRIORITY)] == [n for n in e._PRIORITY if n in plans]


def test_sql_subcommand_runs_adhoc_query(spark, tmp_path):
    """The `sql` surface: every fixture table is a temp view; an
    ad-hoc join over them executes and lands in parquet."""
    from gmall_realtime2021_spark.__main__ import run_sql

    out = str(tmp_path / "adhoc")
    n = run_sql(
        spark,
        """
        SELECT n_name, count(*) AS ct
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        "/root/testdata/sf0.001",
        out=out,
        show=0,
    )
    assert n > 0
    assert spark.read.parquet(out).count() == n


@pytest.mark.slow
def test_maintain_subcommand_reports_and_compacts(spark, tmp_path, monkeypatch, capsys):
    """r12: the `maintain` verb prints the layout-health table and,
    with --compact, heals a deliberately fragmented family (exit code
    flips 1 → 0, sort-serving restored)."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.__main__ import run_maintain
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    monkeypatch.setattr(W, "AUTO_COMPACT_FILES", 16)  # one append trips the table flag
    b1 = load(spark, sf_dir, "lineitem").limit(64)
    assert W.append_bucketed_batch(spark, lineitem_t, b1, 1, "l_orderkey", auto_compact_files=None)

    assert run_maintain(spark, sf_dir, compact=False) == 1
    out = capsys.readouterr().out
    assert "facts_lineitem" in out and "True" in out  # compact_due visible

    assert run_maintain(spark, sf_dir, compact=True) == 0
    out = capsys.readouterr().out
    row = [ln for ln in out.splitlines() if ln.startswith("facts_lineitem")][0]
    assert "\tFalse\tTrue" in row  # compact_due False, sorted_serving True
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")


@pytest.mark.slow
def test_maintain_gc_sweeps_retired_generations_and_legacy_tag(spark, tmp_path, monkeypatch, capsys):
    """maintain --gc (r13): removes retired layout generations past
    the grace window and reclaims the deterministic pre-r12 hash-less
    tag directory for the sf_dir — and ONLY that directory (another
    dataset's tag is untouched)."""
    import os

    from gmall_realtime2021_spark.__main__ import run_maintain
    from gmall_realtime2021_spark.sources import warehouse as W
    from gmall_realtime2021_spark.tables import load

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "0")
    sf_dir = "/root/testdata/sf0.001"
    _, lineitem_t = W.ensure_bucketed_facts(spark, sf_dir)
    # retire a generation WITHOUT triggering the writer-side GC (the
    # CLI sweep must do the work): flip the pointer back and forth by
    # hand via two compactions under a large grace, then shrink it
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    gen0 = W._table_location(spark, lineitem_t)
    b = load(spark, sf_dir, "lineitem").limit(16)
    assert W.append_bucketed_batch(spark, lineitem_t, b, 1, "l_orderkey", auto_compact_files=None)
    W.compact_bucketed_table(spark, lineitem_t, "l_orderkey")
    assert os.path.isdir(gen0)  # retired, in grace
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "0")

    # the legacy-tag twin: the pre-r12 deterministic dir + a foreign one
    legacy = os.path.join(str(tmp_path), "root_testdata_sf0_001")
    foreign = os.path.join(str(tmp_path), "some_other_dataset")
    os.makedirs(legacy)
    os.makedirs(foreign)

    rc = run_maintain(spark, sf_dir, gc=True)
    out = capsys.readouterr().out
    assert rc == 0
    assert not os.path.isdir(gen0), "retired generation not GC'd"
    assert not os.path.isdir(legacy), "pre-r12 tag dir not reclaimed"
    assert os.path.isdir(foreign), "gc must not touch foreign dirs"
    assert "# gc lineitem: removed" in out and "reclaimed pre-r12 tag dir" in out
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")
