"""Decision-support shapes, batch 2 — the remaining canonical TPC-H
query forms (q5/q8/q9/q10/q12/q13/q17/q19/q21/q22) adapted to the
fixture's reduced star schema (no shipmode/commitdate/supplycost/phone
columns; proxies documented per query).

Together with operators/tpch_classics.py (q2/q3/q4/q7/q11/q14/q15/q16/
q18/q20), pricing_summary (q1 at aggregates.py:29), in_subquery_urgent_
customers (q19-lite), not_exists_idle_suppliers and join_anti_unsold_
parts (q21/q22 anti-join kernels), this completes all 22 classic
decision-support shapes — the reference's fact⟕dim SQL surface
(流行音乐趋势预测.md:45, M:989-993) extended to the full warehouse
benchmark vocabulary.

100 TB posture mirrors batch 1: dims and survivor sets broadcast; the
fact side shuffles at most once per distinct join key; date/brand/size
predicates push to the parquet scans; EXISTS/NOT-EXISTS pairs are
decorrelated to per-key aggregates (one shuffle) instead of two
correlated semi/anti probes; every revenue sum accumulates exact
DECIMAL(38,0) units (functions/rounding.py) so results are
order-independent and cross-engine identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, round_to, sql_fixed_sum, sql_round, sql_units, to_units
from ..plans.registry import query
from ..sources import load

_REV = "l_extendedprice * (1 - l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))


@query(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n.n_name, {sql_fixed_sum(f'l.{_REV}', 4, 2)} AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
    tags=("J4", "A4"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q5 shape: revenue by nation where the CUSTOMER and the SUPPLIER
    share a nation inside one region — the classic six-way snowflake
    with a cross-dimension residual (c_nationkey = s_nationkey).
    nation⋈region pre-filters to the ASIA slice and broadcasts into
    supplier; the residual is applied after the customer probe, so the
    only large exchange is lineitem⋈orders on orderkey."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supplier = load(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(fixed_sum(_rev(), 4, 2).alias("revenue"))
    )


@query(
    "q6_forecast_revenue_change",
    oracle=f"""
SELECT {sql_round(
        "CAST(SUM(CAST(floor(l.l_extendedprice * l.l_discount * 10000.0 + 0.5)"
        " AS DECIMAL(38,0))) AS DOUBLE) / 10000.0", 2)} AS revenue
FROM lineitem l
WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
  AND l.l_shipdate <  TIMESTAMP '1999-01-01'
  AND l.l_discount BETWEEN 0.05 AND 0.07
  AND l.l_quantity < 24
""",
    tags=("P3", "P8", "A4"),
)
def q6_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q6 shape: the single-scan conditional aggregate — no join at
    all; the date, discount-band, and quantity predicates all push to
    the parquet scan (row-group pruning on shipdate) and the answer is
    one partial-aggregated sum of exact 4dp units. The canonical
    'is your scan + pushdown + map-side combine path clean' probe."""
    lineitem = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1999-01-01")))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    disc_rev = F.col("l_extendedprice") * F.col("l_discount")
    return lineitem.agg(fixed_sum(disc_rev, 4, 2).alias("revenue"))


@query(
    "q8_nation_market_share",
    oracle=f"""
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       {sql_round(
           "CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN "
           + sql_units(f'l.{_REV}', 4) + " ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)"
           " / CAST(SUM(" + sql_units(f'l.{_REV}', 4) + ") AS DOUBLE)", 6)} AS mkt_share
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
JOIN region r   ON n2.n_regionkey = r.r_regionkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
GROUP BY CAST(year(o.o_orderdate) AS INT)
""",
    tags=("J4", "A2", "P11"),
)
def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8 shape: one nation's share of a region's ECONOMY-part revenue
    per order year — an eight-way snowflake feeding a conditional-sum
    ratio. Both numerator and denominator accumulate exact DECIMAL
    units and divide once, so the share is order-independent. All five
    dims broadcast after their filters; lineitem⋈orders is again the
    single big exchange."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("n2_key"))
    customer = load(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    ).select("c_custkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    supplier = load(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    units = to_units(_rev(), 4)
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            round_to(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", units).otherwise(zero)
                ).cast("double")
                / F.sum(units).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit_by_nation",
    oracle=f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       {sql_fixed_sum(
           'l.l_extendedprice * (1 - l.l_discount)'
           ' - l.l_quantity * p.p_retailprice * 0.01', 4, 2)} AS sum_profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INT)
""",
    tags=("J4", "A4", "P7"),
)
def q9_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 shape: profit per supplier-nation per order year over a
    name-matched part family. The fixture has no ps_supplycost, so
    cost is proxied as 1% of retail price per unit (documented; the
    shape — a computed measure mixing columns of three tables under a
    five-way join — is what q9 exercises). Both engines evaluate the
    identical IEEE expression before unit extraction, so the exact
    decimal accumulation carries over unchanged."""
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    n1 = load(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name"))
    supplier = load(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lineitem = load(spark, sf_dir, "lineitem")
    profit = _rev() - F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.01)
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(fixed_sum(profit, 4, 2).alias("sum_profit"))
    )


@query(
    "q10_returned_item_customers",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {sql_fixed_sum(f'l.{_REV}', 4, 2)} AS revenue,
       c.c_acctbal, n.n_name, c.c_mktsegment
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1998-10-01'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name, c.c_mktsegment
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("J4", "A4", "O1"),
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q10 shape: top-20 customers by lost (returned) revenue in one
    quarter. The returnflag and quarter predicates push to the
    lineitem/orders scans; nation broadcasts; the grouped frame is per
    customer, so the final global top-20 is a TakeOrdered over an
    already-small aggregate. Tie-break on c_custkey for determinism."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1998-10-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01")))
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(fixed_sum(_rev(), 4, 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q12_priority_by_linestatus",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN TRIM(o.o_orderpriority) IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN TRIM(o.o_orderpriority) NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
  AND CAST(l.l_shipdate AS DATE) <  DATE '1999-01-01'
GROUP BY l.l_linestatus
""",
    tags=("A2", "P11", "J2"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12 shape: urgent-vs-other order counts bucketed by a lineitem
    attribute (l_linestatus stands in for the fixture's missing
    l_shipmode). Counting CASE sums are integer-exact; the year
    predicate prunes the lineitem scan; the join shuffles once on
    orderkey and the two-row result needs no further exchange.

    Round-6 hardening (the r5 driver hash mismatch):
    this was the only oracle in the registry whose result carried
    DuckDB HUGEINT columns (uncast SUM over INTEGER), which an
    arrow/pandas canonicalizer renders as decimal128/float and
    hash-splits from Spark's int64 even when values agree — so the
    sums are CAST AS BIGINT like every other counting oracle here.
    Belt-and-suspenders vs driver-fixture drift: the ship-date window
    compares as DATE on both engines and the priority tag is TRIMmed
    on both sides (CHAR-padded TPC-H-style fixtures)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lineitem = load(spark, sf_dir, "lineitem").filter(
        (F.to_date(F.col("l_shipdate")) >= F.lit("1998-01-01").cast("date"))
        & (F.to_date(F.col("l_shipdate")) < F.lit("1999-01-01").cast("date"))
    )
    is_high = F.trim(F.col("o_orderpriority")).isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
    tags=("J5", "A1", "A11"),
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q13 shape: the order-count distribution over ALL customers —
    a left outer join (zero-order customers must survive as c_count=0,
    which COUNT(o_orderkey) gives because COUNT skips the NULLs the
    outer join manufactures) followed by a second aggregation over the
    first's results. The priority exclusion lives in the JOIN
    condition, not WHERE — moving it would silently drop the zero
    bucket. Two shuffles by construction (custkey, then c_count);
    the second input is already tiny."""
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
SELECT {sql_round(
        "CAST(SUM(" + sql_units('l.l_extendedprice', 2) + ") AS DOUBLE)"
        " / 100.0 / 7.0", 2)} AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#5' AND p.p_size <= 10
  AND l.l_quantity < 0.2 * (
        SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
               / COUNT(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
""",
    tags=("A4", "J2", "P8"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q17 shape: revenue from orders far below a part's own average
    quantity — a correlated per-part AVG decorrelated to one grouped
    aggregate joined back (p_size<=10 stands in for the missing
    container filter). Quantities are integer-valued doubles, so the
    per-part average is computed as exact-int sum / count in BOTH
    engines (identical IEEE division), making the 0.2x threshold
    bit-identical. The per-part averages frame is part-sized ->
    broadcast; final result is one row."""
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#5") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    lineitem = load(spark, sf_dir, "lineitem")
    avg_qty = (
        lineitem.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
            ).alias("avg_qty")
        )
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            round_to(
                F.sum(to_units(F.col("l_extendedprice"), 2)).cast("double")
                / F.lit(100.0)
                / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_predicate_revenue",
    oracle=f"""
SELECT {sql_fixed_sum(f'l.{_REV}', 4, 2)} AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    tags=("P9", "J2", "A4"),
)
def q19_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q19 shape: an OR-of-ANDs predicate spanning BOTH join sides.
    Expressed as a join condition so Catalyst extracts the l_partkey =
    p_partkey equi-conjunct for the (broadcast) hash join and keeps the
    disjunction as a residual filter; it also derives the brand IN-list
    implied by the OR and pushes it into the part scan. One row out."""
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem")
    cond = (F.col("l_partkey") == F.col("p_partkey")) & (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return lineitem.join(F.broadcast(part), cond).agg(
        fixed_sum(_rev(), 4, 2).alias("revenue")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
    tags=("J8", "A1", "O3"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier finalized orders ("late" = shipped >60 days after
    the order date, standing in for the missing receipt/commit dates).

    The oracle keeps the classic correlated EXISTS / NOT-EXISTS
    formulation; the Spark plan decorrelates BOTH into one per-order
    aggregate — n_suppliers = countDistinct(suppkey), late_suppliers =
    countDistinct(suppkey where late) — because for a late line l1:
    EXISTS(other supplier) <=> n_suppliers >= 2, and NOT EXISTS(other
    LATE supplier) <=> every late line is l1's supplier <=>
    late_suppliers = 1. Two independent formulations hashing identical
    is a far stronger check than a port of one. One shuffle on
    orderkey replaces two correlated probes over the fact table; the
    qualifying order set is tiny and broadcasts back onto the late
    lines."""
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    per_order = lines.groupBy(F.col("l_orderkey").alias("g_orderkey")).agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "late_suppliers"
        ),
    )
    sole_late_orders = per_order.filter(
        (F.col("n_suppliers") >= 2) & (F.col("late_suppliers") == 1)
    ).select("g_orderkey")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lines.filter(F.col("late"))
        .join(F.broadcast(sole_late_orders), F.col("l_orderkey") == F.col("g_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "q22_idle_rich_customers",
    oracle=f"""
SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
       {sql_fixed_sum('c.c_acctbal', 2, 2)} AS totacctbal
FROM customer c
WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c.c_acctbal > (
        SELECT CAST(SUM({sql_units('c2.c_acctbal', 2)}) AS DOUBLE)
               / (100.0 * COUNT(c2.c_acctbal))
        FROM customer c2
        WHERE c2.c_acctbal > 0.0
          AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c.c_nationkey
""",
    tags=("J8", "A4", "P9"),
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22 shape: above-average-balance customers who never ordered,
    grouped by country (c_nationkey stands in for the missing phone
    country code; "never ordered" is narrowed to "no recent urgent
    order" because every fixture customer has some order — the
    unfiltered anti-join would be vacuously empty and verify nothing).
    The scalar AVG subquery threshold is computed as exact-cents sum /
    (100 * count) so both engines derive the bit-identical cutoff (a
    plain AVG(double) would be accumulation-order-dependent and could
    flip boundary customers). NOT EXISTS is a left-anti join against
    the filtered orders key set; the 1-row threshold broadcasts."""
    in_list = (1, 3, 5, 7, 9, 11, 13)
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*in_list)
    )
    threshold = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(to_units(F.col("c_acctbal"), 2)).cast("double")
            / (F.lit(100.0) * F.count("c_acctbal"))
        ).alias("cutoff")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01")))
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            fixed_sum(F.col("c_acctbal"), 2, 2).alias("totacctbal"),
        )
    )
