"""Headline analytical queries over the star schema.

The reference has no sorts/limits/TPC workload (SURVEY.md §2.9); the
driver's bench does. These are the classic shapes — scan-heavy
aggregate, join+agg+topk — used as the throughput headline in
bench.py, written with the engine's exact-value conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.plans.registry import register
from gmall_realtime2021_spark.tables import fan_out, input_bytes, load

#: Largest orders parquet input (bytes) under which ``shipping_priority``
#: hints its customer⋈orders side for broadcast.
BROADCAST_HINT_CAP_BYTES = 1 << 30


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=("A1", "P5"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (flagship batch aggregate).

    Exact-value discipline: per-row double arithmetic (deterministic
    in IEEE) → DECIMAL(18,2) cast → exact decimal sum → one final
    cast to double; averages as sum/count, never ``avg``.

    Scale: one pushed-down predicate scan + one partial/final hash
    aggregate on a 6-ish-row key space — the shuffle moves a handful
    of rows per task regardless of input size. ``fan_out`` only fires
    when the scan is under-partitioned (single-row-group fixture
    files): the per-row decimal casts are the CPU cost here, and a
    hash spread on the high-cardinality extendedprice (a column the
    aggregate already reads — hashing the orderkey would defeat the
    scan's column pruning) moves them off the one scan core without
    the local sort a round-robin shuffle pays.
    """
    li = fan_out(
        load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2024-11-01 00:00:00").cast("timestamp")),
        "l_extendedprice",
    )
    dec2 = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    # Derived money products are rounded to integer *cents* with
    # floor(x*100 + 0.5) — pure IEEE ops, bit-identical across engines —
    # because a double product can land exactly on a .005 binary midpoint
    # where Spark's HALF_UP decimal cast and DuckDB's tie-rounding differ.
    # Raw 2-dp columns (quantity, extendedprice) can't tie, so a direct
    # DECIMAL(18,2) cast is safe for them.
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cents = lambda c: F.floor(c * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec2(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            (F.sum(cents(disc_price)).cast("double") / 100.0).alias("sum_disc_price"),
            (F.sum(cents(charge)).cast("double") / 100.0).alias("sum_charge"),
            F.count("*").alias("count_order"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
            F.sum(F.col("l_discount").cast("decimal(18,4)")).alias("_sd"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            F.round(F.col("_sq").cast("double") / F.col("count_order"), 6).alias("avg_qty"),
            F.round(F.col("_sd").cast("double") / F.col("count_order"), 6).alias("avg_disc"),
            "count_order",
        )
    )


@register(
    "top_customers",
    oracle="""
    WITH spend AS (
        SELECT c_custkey, c_name, c_mktsegment,
               count(*) AS order_ct,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS rank
        FROM spend
    )
    SELECT rank, c_custkey, c_name, c_mktsegment, order_ct, total_spend
    FROM ranked WHERE rank <= 10
    """,
    covers=("J3",),
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic top-k (tie-break on key).

    Scale note: rank over a *pre-aggregated* per-customer frame (one
    row per customer), not over raw orders; the global sort only ever
    sees the aggregate. For a true 100 TB run you'd cap with
    ``orderBy().limit(10)`` which Spark executes as a distributed
    TakeOrdered — row_number here keeps the rank column
    oracle-comparable.
    """
    orders = fan_out(load(spark, sf_dir, "orders"), "o_custkey")
    cust = load(spark, sf_dir, "customer")
    spend = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count("*").alias("order_ct"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_spend"),
        )
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
    return (
        spend.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("rank", "c_custkey", "c_name", "c_mktsegment", "order_ct", "total_spend")
    )


#: The shipping_priority result contract, shared with
#: ``bucketed_shipping_priority``.
SHIPPING_PRIORITY_ORACLE = """
    SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate + INTERVAL 10 DAY
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """


@register(
    "shipping_priority",
    oracle=SHIPPING_PRIORITY_ORACLE,
    covers=("J1", "J3"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join pipeline: selective dim filter →
    broadcast join → fact join → aggregate. The segment filter
    prunes the customer side *before* the join (filter pushdown);
    revenue follows the decimal-sum convention.

    r13-opt (guide §3.1): the BROADCAST side is the filtered
    customer⋈orders frame (segment-pruned, ~1/5 of orders), hinted
    explicitly — the planner's size estimate for a join subtree is
    unreliable and it previously built the hash relation from the
    600k-row *lineitem* side, leaving the probe AND the partial
    aggregate on the single scan core of the unsplittable fixture
    file. With lineitem streaming, ``fan_out`` on the orderkey gives
    the probe 32-way parallelism and IS the final groupBy's exchange
    (l_orderkey ⊆ its keys) — the whole plan pays one data shuffle.
    Isolated A/B: 0.973 → 0.374 s, rows identical.

    r14 (ADVICE r13 medium #1): the hint is now SIZE-GATED on the
    orders input bytes — the broadcast side scales linearly with the
    fact table, and a hard hint bypasses autoBroadcastJoinThreshold,
    so at cluster scale it would trade a shuffle for an OOM. Under
    the cap (:data:`BROADCAST_HINT_CAP_BYTES`, 1 GiB of orders
    parquet) the plan is unchanged; past it, or when the input size
    is unknown (missing or non-local path), the planner chooses (AQE
    can still pick a broadcast at runtime from REAL sizes). ``co`` is
    also projected to the four columns the join/aggregate consume
    before the hint — Catalyst already pruned the broadcast to those
    (the r13 after-plan's BroadcastExchange carries 3 columns
    post-join), the explicit select is guide-§2.3 insurance that no
    future edit widens it.
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = load(spark, sf_dir, "orders")
    li = fan_out(load(spark, sf_dir, "lineitem"), "l_orderkey")
    co = cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    orders_bytes = input_bytes(sf_dir, "orders")
    if orders_bytes is not None and orders_bytes <= BROADCAST_HINT_CAP_BYTES:
        co = F.broadcast(co)
    return (
        li.join(
            co,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS")),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (
                F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)).cast("long")).cast(
                    "double"
                )
                / 100.0
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
               AS revenue,
           count(*) AS item_ct
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    covers=("J3", "J6"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join, revenue per nation where the
    customer and supplier share a nation in one region.

    Scale: lineitem⋈orders is the only big-big join (shuffle on the
    order key); customer/supplier/nation/region broadcast, and the
    region filter prunes the nation/supplier broadcast inputs before
    they ship. Revenue terms follow the cents discipline —
    ``floor(x*100 + 0.5)`` as BIGINT, summed exactly, divided once on
    output (``plans/tpch.py:49-54``): Spark's and DuckDB's
    ``round(x, 2)`` disagree on boundary doubles often enough to
    drift a 600k-row sum by whole cents (caught by the first sf0.1
    sweep, r9); the floor form is IEEE-identical in both engines.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(rev_cents).cast("double") / 100.0).alias("revenue"),
            F.count("*").alias("item_ct"),
        )
    )


@register(
    "forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
               AS revenue,
           count(*) AS item_ct
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    covers=("P5",),
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight-predicate full-scan revenue sum.

    Scale: the whole query is one scan — both predicates and the
    two-column projection push into the parquet reader
    (test_physical_plans asserts the shape), then a single partial+
    final agg with no group keys. The canonical "is pushdown
    working" probe. Revenue follows the cents discipline
    (``floor(x*100 + 0.5)`` — see local_supplier_volume: engine
    ``round(x, 2)`` drifted whole cents at sf0.1).
    """
    li = load(spark, sf_dir, "lineitem")
    rev_cents = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.filter(F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24))
        .agg(
            (F.sum(rev_cents).cast("double") / 100.0).alias("revenue"),
            F.count("*").alias("item_ct"),
        )
    )
