"""Every registered plan must produce rows on the smoke fixture —
an oracle hash-match on an empty result proves nothing (this guard
exists because payment_wide once joined disjoint date ranges and
passed its checks vacuously for a whole round).
"""

from __future__ import annotations

import pytest

from gmall_realtime2021_spark.plans import get_plans

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(get_plans()))
def test_plan_not_vacuous(spark, name):
    assert get_plans()[name].build(spark, SF).count() > 0, f"{name} returns 0 rows at sf0.001"


def test_next_purchase_examples_point_in_time_guarantee(spark, tmp_path):
    """The leakage contract on a crafted micro-corpus: a user whose
    ONLY purchase is on day D must show past_purchases=0 on day D
    itself (features strictly precede the day), label_next7=1 on an
    active day within the 7 days before D, and label_next7=0 on D
    (the label frame starts the day AFTER)."""
    import os

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.plans import get_plans

    base = "2021-06-01 12:00:00"
    rows = [
        # user 1: views on day 0 and day 3, single purchase day 5, view day 13
        (1, "2021-06-01 10:00:00", 1, "view", 0.0),
        (2, "2021-06-04 10:00:00", 1, "view", 0.0),
        (3, "2021-06-06 10:00:00", 1, "purchase", 10.0),
        (4, "2021-06-14 10:00:00", 1, "view", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "pit")
    os.makedirs(src, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(src, "events.parquet"))
    out = {
        r.day_no: r for r in get_plans()["next_purchase_examples"].build(spark, src).collect()
    }
    d = {day - min(out) : r for day, r in out.items()}  # offsets from day 0
    # day 0: nothing in the past, purchase (day 5) inside (0, 7] => label 1
    assert d[0].past_events == 0 and d[0].past_purchases == 0 and d[0].label_next7 == 1
    # day 3: one past view, purchase 2 days ahead => label 1
    assert d[3].past_events == 1 and d[3].past_purchases == 0 and d[3].label_next7 == 1
    # day 5 (the purchase day): the purchase is NOT in its own features
    # and NOT its own label — both frames exclude the current day
    assert d[5].past_purchases == 0 and d[5].label_next7 == 0
    # day 13: the purchase is now strictly past
    assert d[13].past_purchases == 1 and abs(d[13].past_value - 10.0) < 1e-9
    assert d[13].label_next7 == 0


def _write_events(spark, tmp_path, rows, name="ev"):
    import os

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(src, "events.parquet"))
    return src


def test_session_funnel_gap_boundary_is_strict(spark, tmp_path):
    """A gap of exactly 30 minutes does NOT start a new session
    (strictly-greater semantics) while 30min+1us does — the boundary
    both engines must agree on, pinned on a crafted pair."""
    from gmall_realtime2021_spark.plans import get_plans

    src = _write_events(
        spark,
        tmp_path,
        [
            # user 1: view then purchase exactly 30:00.000000 later => SAME session
            (1, "2021-06-01 10:00:00", 1, "view", 0.0),
            (2, "2021-06-01 10:30:00", 1, "purchase", 5.0),
            # user 2: view then purchase 30:00.000001 later => NEW session
            (3, "2021-06-01 10:00:00", 2, "view", 0.0),
            (4, "2021-06-01 10:30:00.000001", 2, "purchase", 5.0),
        ],
        "sess_edge",
    )
    r = get_plans()["session_funnel"].build(spark, src).collect()[0]
    # user1: 1 session (view+purchase, no click => no full funnel);
    # user2: 2 sessions (view-only, purchase-only)
    assert r.sessions == 3
    assert r.with_view == 2
    assert r.view_then_click == 0 and r.full_funnel == 0


def test_session_window_stats_oracle_exact_at_gap_boundary(spark, tmp_path):
    """``F.session_window`` keeps an event exactly 30 minutes after the
    previous one in the same session (inclusive merge); the DuckDB
    oracle must split on a strictly greater gap to agree. Events at 0,
    30 and 90 minutes are two sessions, not three."""
    import os

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.tables import TABLES
    from tests.oracle_compare import compare

    # the oracle reads one parquet FILE per table: write the events as a
    # single part file and borrow the other tables from the fixture
    src = str(tmp_path / "sw_edge")
    ev = os.path.join(src, "events.parquet")
    spark.createDataFrame(
        [
            (1, "2021-06-01 10:00:00", 1, "view", 1.0),
            (2, "2021-06-01 10:30:00", 1, "view", 2.0),
            (3, "2021-06-01 11:30:00", 1, "view", 4.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(ev + ".dir")
    (part,) = [f for f in os.listdir(ev + ".dir") if f.endswith(".parquet")]
    os.replace(os.path.join(ev + ".dir", part), ev)
    for t in TABLES:
        dst = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF, f"{t}.parquet"), dst)
    plan = get_plans()["session_window_stats"]
    got = plan.build(spark, src)
    assert sorted(r.event_ct for r in got.collect()) == [1, 2]
    compare(got, plan.oracle, src)


def test_dau_wau_single_day_stickiness_is_one(spark, tmp_path):
    """One active day: DAU == WAU for that day, stickiness exactly
    1.0, and no phantom as-of days beyond the corpus max day."""
    from gmall_realtime2021_spark.plans import get_plans

    src = _write_events(
        spark,
        tmp_path,
        [
            (1, "2021-06-01 10:00:00", 1, "view", 0.0),
            (2, "2021-06-01 11:00:00", 2, "view", 0.0),
            (3, "2021-06-01 12:00:00", 1, "click", 0.0),
        ],
        "dau_edge",
    )
    rows = get_plans()["dau_wau_stickiness"].build(spark, src).collect()
    assert len(rows) == 1
    assert rows[0].dau == 2 and rows[0].wau == 2 and rows[0].stickiness == 1.0


def test_first_touch_view_after_purchase_is_unmatched(spark, tmp_path):
    """A user whose only view comes AFTER their purchase gets the -1
    sentinel — the earliest view must be at-or-before the purchase to
    claim credit."""
    from gmall_realtime2021_spark.plans import get_plans

    src = _write_events(
        spark,
        tmp_path,
        [
            (1, "2021-06-01 10:00:00", 1, "purchase", 9.0),
            (2, "2021-06-01 11:00:00", 1, "view", 0.0),
        ],
        "ft_edge",
    )
    r = get_plans()["first_touch_attribution"].build(spark, src).collect()[0]
    assert r.first_view_id == -1 and r.first_view_ts == "" and r.gap_us == -1


def test_dynamic_gap_sessions_match_session_window_tvf(spark, sf_dir):
    """The relational running-max formulation in `dynamic_gap_sessions`
    must reproduce Spark's own F.session_window with a dynamic gap
    column exactly — same session count per user, same (start, event
    count) multiset — validating the docstring's claimed equivalence
    (interval-overlap merge ≡ new-session-at-max-reach)."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.plans import get_plans
    from gmall_realtime2021_spark.tables import load

    ev = load(spark, sf_dir, "events")
    # session_window's gap must be CalendarIntervalType, not the ANSI
    # DayTimeIntervalType that INTERVAL literals produce
    gap = F.when(
        F.col("event_type") == "purchase", F.expr("make_interval(0,0,0,0,0,60,0)")
    ).otherwise(F.expr("make_interval(0,0,0,0,0,30,0)"))
    tvf = (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("start"))
        .select("user_id", "n_events", F.date_format("start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"))
    )
    ours = get_plans()["dynamic_gap_sessions"].build(spark, sf_dir).select(
        "user_id", "n_events", "session_start"
    )
    assert sorted(map(tuple, tvf.collect())) == sorted(map(tuple, ours.collect()))
