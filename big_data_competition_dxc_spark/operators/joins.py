"""Join operators (SURVEY §2.3 J1–J6, J8).

The reference's joins are fact⟕dim SQL joins (流行音乐趋势预测.md:45),
composite-key API joins (M:92-94, M:293), implicit theta joins via WHERE
(M:97), chained snowflakes (M:989-993), RDD pair joins (豆瓣图书推荐.md:75-77)
and a prose anti-join (D:21). Here each is declarative DataFrame/SQL so
Catalyst picks the physical strategy; small dimensions get an explicit
``F.broadcast`` hint (at 100 TB the fact side never moves for dim joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_avg, fixed_sum, sql_fixed_avg, sql_fixed_sum
from ..plans.registry import query
from ..sources import load, plain_tables, table_sql


@query(
    "join_left_broadcast",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
    tags=("J1",),
)
def join_left_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (M:45): fact LEFT JOIN small dim — broadcast-hash, no fact shuffle."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@query(
    "join_snowflake_rollup",
    oracle=f"""
SELECT r.r_name, n.n_name,
       {sql_fixed_sum('o.o_totalprice', 2, 2)} AS revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    tags=("J4", "A4"),
)
def join_snowflake_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (M:989-993): chained multi-join snowflake -> rollup. The two tiny
    dims broadcast; orders⋈customer is the only shuffle pair, and AQE can
    still flip it to broadcast when customer fits."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_THETA_SQL = f"""
SELECT p.p_brand AS brand,
       COUNT(*) AS n_items,
       {sql_fixed_sum('l.l_quantity', 0, 2)} AS sum_qty
FROM {{lineitem}} l, {{part}} p
WHERE l.l_partkey = p.p_partkey AND p.p_size > 30
GROUP BY p.p_brand
"""


@query("join_theta_sql", oracle=plain_tables(_THETA_SQL), tags=("J3", "P2", "S5"))
def join_theta_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (M:97): implicit-cross-plus-WHERE join written as raw SQL over
    the tables — Catalyst extracts the equi-keys from the conjunction,
    same as the reference relied on. Identical text, with the table
    fields spelled as table names, runs on DuckDB."""
    return table_sql(spark, sf_dir, _THETA_SQL)


@query(
    "join_anti_unsold_parts",
    oracle="""
SELECT p_partkey, p_name, p_brand
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
""",
    tags=("J8", "U3"),
)
def join_anti_unsold_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (豆瓣图书推荐.md:21): 'exclude already-rated' as a left-anti join —
    here: parts that never appear in lineitem."""
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem")
    return part.join(
        lineitem, part.p_partkey == lineitem.l_partkey, "left_anti"
    ).select("p_partkey", "p_name", "p_brand")


@query(
    "mse_join_eval",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id % 50 AS item_id, value FROM events
),
labels AS (
  SELECT user_id, item_id, {avg4} AS rating
  FROM ev GROUP BY user_id, item_id
),
preds AS (
  SELECT item_id, {avg4} AS pred FROM ev GROUP BY item_id
)
SELECT l.user_id,
       COUNT(*) AS n_items,
       {mse8} AS mse
FROM labels l JOIN preds p ON l.item_id = p.item_id
GROUP BY l.user_id
""".format(
        avg4=sql_fixed_avg("value", 2, 4),
        # rating/pred are floor-quotients on a 4dp grid, so the squared
        # difference sits on an 8dp grid — exact at dec=8
        mse8=sql_fixed_avg("POW(l.rating - p.pred, 2)", 8, 4),
    ),
    tags=("J6", "A10", "F17"),
)
def mse_join_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+A10 (豆瓣图书推荐.md:75-81): the ratesAndPreds pattern — join
    labels to predictions on a composite key, then mean squared error
    (F17 math.pow, M:377-381) per user."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.pmod("event_id", F.lit(50)).alias("item_id"), "value"
    )
    labels = ev.groupBy("user_id", "item_id").agg(fixed_avg(F.col("value"), 2, 4).alias("rating"))
    preds = ev.groupBy("item_id").agg(fixed_avg(F.col("value"), 2, 4).alias("pred"))
    return (
        labels.join(preds, "item_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_items"),
            fixed_avg(F.pow(F.col("rating") - F.col("pred"), 2), 8, 4).alias("mse"),
        )
    )


MIN_SUPPORT = 3

_AFFINITY_ORACLE = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders
FROM pairs WHERE n_orders >= {MIN_SUPPORT}
"""


@query("part_affinity_pairs", oracle=_AFFINITY_ORACLE, tags=("J2", "A1", "affinity"))
def part_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in at
    least {MIN_SUPPORT} orders. The pair generation is a self-join
    EQUI-keyed on the order — fanout is items-per-order squared (a
    small constant), never corpus-squared, which is what keeps basket
    analysis linear at 100 TB; the distinct-first projection stops
    duplicate line items from inflating counts, and ``part_a <
    part_b`` canonicalizes each unordered pair to one row."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= MIN_SUPPORT)
    )


_HINT_ORACLE = f"""
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_fixed_sum('l.l_quantity', 2, 2)} AS total_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


@query("join_hint_shuffle_hash", oracle=_HINT_ORACLE, tags=("J2", "optimizer"))
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-strategy hint surface: the same fact⋈fact join forced
    through SHUFFLE_HASH instead of the default sort-merge — the manual
    override for the case the optimizer's stats miss (a build side
    known to fit executor memory per partition skips BOTH sort passes).
    Result is strategy-independent (the oracle is the plain join);
    tests/test_plans.py pins ShuffledHashJoin in the physical plan, so
    the hint's effect cannot silently lapse. At 100 TB the hint
    matters when one side is pre-aggregated far below the raw scan
    size the planner estimated."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey").hint("SHUFFLE_HASH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            fixed_sum(F.col("l_quantity"), 2, 2).alias("total_qty"),
        )
    )
