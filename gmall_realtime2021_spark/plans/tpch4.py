"""Fourth TPC-H-shaped batch — the last four query shapes of the 22
(Q2 correlated-min supplier selection, Q11 important-stock HAVING
over a global scalar, Q16 excluded-supplier variety count, Q20
nested-semi-join promotion candidates), running against a real
PART-SUPPLIER relation.

The fixture ships no partsupp parquet, so :func:`derived_partsupp`
derives one deterministically from the ``part`` and ``supplier``
tables — TPC-H dbgen's own construction (4 suppliers per part via a
fixed stride over the supplier-key space) with closed-form
availability/cost columns instead of dbgen's PRNG. Both engines
derive the identical relation (the DuckDB twin is the
:data:`_PARTSUPP_CTE` fragment generated from the same constants),
so the strict value-hash comparison holds, and the four query shapes
now exercise true partsupp semantics (supply cost and availability
are partsupp attributes, not lineitem observations — the r8
stand-in). Money follows the registry cents discipline
(``plans/tpch.py:49-54``); the Q11 global-scalar comparison is
cross-multiplied in ``decimal`` so it stays exact at any scale
factor (int64 would wrap near SF 100k while DuckDB raises — the twins
must agree on overflow too).

Reference analog: the same multi-dim enrichment + conditional-agg
shapes as the DWS product/province stats apps
(``ProductStatsApp.java``, ``ProvinceStatsSqlApp.java``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.plans.registry import register
from gmall_realtime2021_spark.tables import load

#: Fixture identities (sf_dir + source fingerprint) whose supplier
#: count already passed the stride-distinctness validation — see
#: :func:`derived_partsupp`.
_validated_supplier_fixtures: set[tuple] = set()

#: partsupp derivation constants — shared verbatim by the Spark
#: operator and the generated DuckDB CTE so the relations are
#: bit-identical. Availability in [1, 9999] and cost in [1.00,
#: 1000.00] dollars (cents-integral), TPC-H's ranges.
PS_PER_PART = 4
PS_AVAIL_MULT, PS_AVAIL_STEP, PS_AVAIL_MOD = 37, 71, 9999
PS_COST_PMULT, PS_COST_SMULT, PS_COST_MOD, PS_COST_BASE = 97, 31, 99901, 100

#: DuckDB twin of :func:`derived_partsupp` — prepend inside a WITH
#: clause. ``//`` is DuckDB integer division (Spark side uses `div`).
_PARTSUPP_CTE = f"""
    scnt AS (SELECT count(*) AS scnt FROM supplier),
    partsupp AS (
        SELECT p_partkey AS ps_partkey,
               CAST((p_partkey + i * (1 + scnt // {PS_PER_PART})) % scnt AS BIGINT) AS ps_suppkey,
               CAST((p_partkey * {PS_AVAIL_MULT} + i * {PS_AVAIL_STEP}) % {PS_AVAIL_MOD} + 1 AS BIGINT) AS ps_availqty,
               CAST((p_partkey * {PS_COST_PMULT}
                     + ((p_partkey + i * (1 + scnt // {PS_PER_PART})) % scnt) * {PS_COST_SMULT})
                    % {PS_COST_MOD} + {PS_COST_BASE} AS BIGINT) AS ps_supplycost_cents
        FROM part
        CROSS JOIN scnt
        CROSS JOIN unnest([{", ".join(str(i) for i in range(PS_PER_PART))}]) AS u(i)
    )
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp relation: ``PS_PER_PART`` rows per part,
    supplier assigned by a fixed stride over the 0-based supplier-key
    space (dbgen's construction: ``suppkey = (partkey + i * step) %
    S`` with ``step = 1 + S // 4`` — the four strides are distinct
    mod S for the fixture's supplier counts, giving 4 distinct
    suppliers per part), with closed-form availability and
    cents-integral supply cost.

    Scale: generated map-side from the part scan — one broadcast
    scalar (the supplier count) crossed in, a 4-way explode, zero
    shuffles; at cluster scale this is exactly the cost of scanning a
    real partsupp table co-partitioned with part.

    Fails fast (ValueError) if the supplier count violates the
    stride-distinctness condition ``k * (1 + S // PS_PER_PART) % S
    != 0`` for k in 1..PS_PER_PART-1 — a degenerate S (e.g. S <= 3,
    or S = 4 where the stride 2 collides at k = 2) would silently
    collapse the relation's (ps_partkey, ps_suppkey) key, Q20's
    join-and-count would read a duplicated relation, and the DuckDB
    twin (same construction) would agree, so parity could never catch
    it (ADVICE r09). The validating count is MEMOIZED per fixture
    identity (sf_dir + the warehouse layouts' source fingerprint —
    one staleness scheme engine-wide, ADVICE r10): only the first
    build of any plan layered on this relation pays the one-scalar
    driver job; repeated builds — bench warm-ups, sweeps — plan
    without any eager action, and a regenerated fixture re-validates
    because its fingerprint changes.
    """
    part = load(spark, sf_dir, "part").select("p_partkey")
    supplier = load(spark, sf_dir, "supplier")
    # one fixture-identity scheme engine-wide: the warehouse layouts'
    # source fingerprint (walks directory-shaped fixtures too)
    from gmall_realtime2021_spark.sources.warehouse import source_fingerprint

    fixture_key = (sf_dir, json.dumps(source_fingerprint(sf_dir, "supplier"), sort_keys=True))
    if fixture_key not in _validated_supplier_fixtures:
        s_count = supplier.count()
        step = 1 + s_count // PS_PER_PART
        bad = [k for k in range(1, PS_PER_PART) if s_count == 0 or (k * step) % s_count == 0]
        if bad:
            raise ValueError(
                f"derived_partsupp: supplier count {s_count} breaks stride "
                f"distinctness (stride {step} collides at k={bad}); the "
                f"derived relation would duplicate (ps_partkey, ps_suppkey)"
            )
        _validated_supplier_fixtures.add(fixture_key)
    scnt = supplier.agg(F.count("*").alias("scnt"))
    return (
        part.crossJoin(F.broadcast(scnt))
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(PS_PER_PART - 1))))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr(f"CAST((p_partkey + i * (1 + scnt div {PS_PER_PART})) % scnt AS BIGINT)").alias(
                "ps_suppkey"
            ),
            F.expr(
                f"CAST((p_partkey * {PS_AVAIL_MULT} + i * {PS_AVAIL_STEP}) % {PS_AVAIL_MOD} + 1 AS BIGINT)"
            ).alias("ps_availqty"),
            F.expr(
                f"CAST((p_partkey * {PS_COST_PMULT}"
                f" + ((p_partkey + i * (1 + scnt div {PS_PER_PART})) % scnt) * {PS_COST_SMULT})"
                f" % {PS_COST_MOD} + {PS_COST_BASE} AS BIGINT)"
            ).alias("ps_supplycost_cents"),
        )
    )


@register(
    "partsupp_profile",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT ps_suppkey,
           count(*) AS part_ct,
           count(DISTINCT ps_partkey) AS distinct_part_ct,
           CAST(sum(ps_availqty) AS BIGINT) AS total_availqty,
           CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS stock_value_cents,
           min(ps_supplycost_cents) AS min_cost_cents,
           max(ps_supplycost_cents) AS max_cost_cents
    FROM partsupp
    GROUP BY ps_suppkey
    """,
    covers=(),
    doc="derived-partsupp generator pin: per-supplier profile of the relation the Q2/Q11/Q16/Q20 shapes read",
)
def partsupp_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct correctness row for :func:`derived_partsupp` itself —
    the four TPC-H shapes consume the relation through joins and
    filters that could mask a generator drift; this profile pins
    every column of every row (counts, distinct parts, availability
    and cost aggregates per supplier) against the DuckDB CTE. The
    ``part_ct == distinct_part_ct`` equality doubling as the
    4-distinct-suppliers-per-part construction check at the fixture's
    supplier counts.

    Scale: one supplier-keyed agg over the map-side-derived relation;
    supplier cardinality bounds the output.
    """
    ps = derived_partsupp(spark, sf_dir)
    return ps.groupBy("ps_suppkey").agg(
        F.count("*").alias("part_ct"),
        F.countDistinct("ps_partkey").alias("distinct_part_ct"),
        F.sum("ps_availqty").alias("total_availqty"),
        F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("stock_value_cents"),
        F.min("ps_supplycost_cents").alias("min_cost_cents"),
        F.max("ps_supplycost_cents").alias("max_cost_cents"),
    )


@register(
    "min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    regional AS (
        SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    ranked AS (
        SELECT ps_partkey, ps_suppkey, ps_supplycost_cents,
               row_number() OVER (PARTITION BY ps_partkey ORDER BY ps_supplycost_cents, ps_suppkey) AS rn
        FROM regional
    )
    SELECT p.p_partkey, p.p_brand, p.p_type, s.s_name, n.n_name AS nation,
           CAST(r.ps_supplycost_cents AS DOUBLE) / 100.0 AS min_supplycost
    FROM ranked r
    JOIN part p ON p.p_partkey = r.ps_partkey
    JOIN supplier s ON s.s_suppkey = r.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.rn = 1 AND p.p_size <= 10
    """,
    covers=("J3", "A6"),
    doc="TPC-H Q2 shape: per small part, the EUROPE supplier offering the minimum supply cost (correlated-min as window argmin over partsupp)",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's shape on the derived partsupp: per small part
    (p_size <= 10), the EUROPE-region supplier whose supply cost is
    the minimum among that part's regional suppliers — the classic
    correlated-min subquery rewritten as a window argmin (ties to the
    smallest supplier key, so exactly one row per part). Supplier and
    part details join after the argmin, never before.

    Scale: partsupp derives map-side; the region restriction
    broadcasts into it (supplier -> nation -> region chain is tiny);
    the argmin window shuffles once on partkey; part/supplier/nation
    enrichment is broadcast. Nothing touches lineitem.
    """
    ps = derived_partsupp(spark, sf_dir)
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    regional_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    regional = ps.join(F.broadcast(regional_sup), ps.ps_suppkey == F.col("s_suppkey"))
    w = Window.partitionBy("ps_partkey").orderBy("ps_supplycost_cents", "ps_suppkey")
    best = regional.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    pt = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand", "p_type")
    )
    return best.join(F.broadcast(pt), best.ps_partkey == pt.p_partkey).select(
        "p_partkey",
        "p_brand",
        "p_type",
        "s_name",
        F.col("n_name").alias("nation"),
        (F.col("ps_supplycost_cents").cast("double") / 100.0).alias("min_supplycost"),
    )


@register(
    "important_part_values",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    asia AS (
        SELECT s.s_suppkey
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    pv AS (
        SELECT ps_partkey,
               sum(ps_supplycost_cents * ps_availqty) AS value_cents
        FROM partsupp
        JOIN asia ON s_suppkey = ps_suppkey
        GROUP BY ps_partkey
    ),
    tot AS (SELECT sum(value_cents) AS total_cents, count(*) AS part_ct FROM pv)
    SELECT ps_partkey AS p_partkey,
           CAST(value_cents AS DOUBLE) / 100.0 AS part_value
    FROM pv, tot
    WHERE CAST(value_cents AS DECIMAL(25,0)) * CAST(part_ct AS DECIMAL(12,0))
          > CAST(2 AS DECIMAL(2,0)) * CAST(total_cents AS DECIMAL(25,0))
    """,
    covers=("A6", "J3"),
    doc="TPC-H Q11 shape: parts whose ASIA-supplier stock value exceeds twice the average share (HAVING over a global scalar, decimal-exact cross-multiplication)",
)
def important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's shape on the derived partsupp: per-part stock value
    (supply cost x availability) held by ASIA-region suppliers,
    keeping parts whose value exceeds TWICE the average part's — the
    HAVING-over-a-global-scalar-subquery shape. The threshold is
    cross-multiplied (``value*count > 2*total``) so no floating
    fraction constant needs re-tuning per SF, and the
    cross-multiplication runs in ``decimal(25,0) x decimal(12,0)``
    (exact to 1e37): at SF ~1e5 the int64 product would exceed 2^63,
    where Spark (ANSI off) wraps silently while DuckDB raises — the
    decimal form keeps both engines exact instead.

    Scale: partsupp derives map-side; the supplier->nation->region
    chain broadcasts into it; one part-keyed agg; the global scalar is
    a one-row frame broadcast back — no second pass, no global window.
    """
    ps = derived_partsupp(spark, sf_dir)
    asia = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    pv = (
        ps.join(F.broadcast(asia), ps.ps_suppkey == asia.s_suppkey)
        .groupBy("ps_partkey")
        .agg(F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("value_cents"))
    )
    tot = pv.agg(F.sum("value_cents").alias("total_cents"), F.count("*").alias("part_ct"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_cents").cast("decimal(25,0)") * F.col("part_ct").cast("decimal(12,0)")
            > F.lit(2).cast("decimal(2,0)") * F.col("total_cents").cast("decimal(25,0)")
        )
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            (F.col("value_cents").cast("double") / 100.0).alias("part_value"),
        )
    )


@register(
    "supplier_part_variety",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 3 = 0)
    GROUP BY p_brand, p_type, p_size
    """,
    covers=("A4", "P5"),
    doc="TPC-H Q16 shape: distinct-supplier variety per (brand, type, size) over partsupp, excluding a supplier denylist (NOT IN as anti-join)",
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16's shape on the derived partsupp: how many distinct
    suppliers can supply each (brand, type, size) combination,
    excluding a supplier denylist (Q16's '%Customer%Complaints%'
    comment scan — the fixture schema has no s_comment, so
    ``s_suppkey % 3 = 0`` is the deterministic stand-in, clearly an
    arbitrary denylist either way). NOT IN on a non-nullable key
    compiles to an anti-join.

    Scale: partsupp derives map-side; the denylist broadcasts as a
    left-anti join before the shuffle; part predicates prune the
    broadcast dim; the count(distinct) agg shuffles once on the
    3-part group key.
    """
    ps = derived_partsupp(spark, sf_dir)
    deny = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)
        .select("s_suppkey")
    )
    pt = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(deny), ps.ps_suppkey == deny.s_suppkey, "left_anti")
        .join(F.broadcast(pt), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "promotion_part_suppliers",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    widget AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget'),
    shipped AS (
        SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty_1997
        FROM lineitem
        JOIN widget ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    qualifying AS (
        SELECT ps.ps_suppkey, count(*) AS qualifying_parts
        FROM partsupp ps
        JOIN shipped sh ON sh.l_partkey = ps.ps_partkey AND sh.l_suppkey = ps.ps_suppkey
        WHERE 2 * ps.ps_availqty > sh.qty_1997
        GROUP BY ps.ps_suppkey
    )
    SELECT s.s_name, n.n_name AS nation, q.qualifying_parts
    FROM qualifying q
    JOIN supplier s ON s.s_suppkey = q.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
    covers=("A6", "P5"),
    doc="TPC-H Q20 shape: suppliers whose widget availability exceeds half their 1997 shipments (nested-IN chain as join + integer HAVING over partsupp)",
)
def promotion_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's shape on the derived partsupp: suppliers holding
    '%widget' parts whose availability exceeds HALF of what they
    actually shipped of that part in 1997 — the nested IN(IN(...))
    chain flattened into (partsupp x shipped-qty) with an integer
    HAVING (``2*ps_availqty > qty_1997``; quantities are integral, so
    the comparison is exact). Per TPC-H semantics the inner aggregate
    must be non-empty (a part never shipped in 1997 does not
    qualify), hence the inner join, and supplier/nation names join
    after the reduction. Output adds the qualifying-part count per
    supplier so the result has a deterministic grain.

    Scale: the widget filter broadcasts into the fact scan; ONE
    (part, supplier)-keyed agg over lineitem; the partsupp probe side
    derives map-side and joins on the same key pair (no lineitem
    self-join, which is the naive Q20 plan); enrichment joins are
    broadcast.
    """
    pt = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget")).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    shipped = (
        li.filter(in_1997)
        .join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty_1997"))
    )
    ps = derived_partsupp(spark, sf_dir)
    qualifying = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(2 * F.col("ps_availqty") > F.col("qty_1997"))
        .groupBy("ps_suppkey")
        .agg(F.count("*").alias("qualifying_parts"))
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        qualifying.join(F.broadcast(sup), qualifying.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"), "qualifying_parts")
    )
