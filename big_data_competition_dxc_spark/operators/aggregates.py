"""Aggregation operators (SURVEY §2.4).

Wide per-entity rollups (流行音乐趋势预测.md:254, 953), mixed
count/sum/avg (M:953), global column statistics (M:141-146), distinct
counts (豆瓣图书推荐.md:41-45), ranked frequency (D:9-11). Map-side
partial aggregation is Catalyst's job — these are all single-shuffle
hash aggregations at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import (
    fixed_avg,
    fixed_sum,
    round_to,
    sql_fixed_avg,
    sql_fixed_sum,
    sql_round,
    sql_units,
    to_units,
)
from ..plans.registry import query
from ..sources import load


@query(
    "pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_fixed_sum('l_quantity', 0, 2)} AS sum_qty,
       {sql_fixed_sum('l_extendedprice', 2, 2)} AS sum_base_price,
       {sql_fixed_sum('l_extendedprice * (1 - l_discount)', 4, 2)} AS sum_disc_price,
       {sql_fixed_avg('l_quantity', 0, 4)} AS avg_qty,
       {sql_fixed_avg('l_discount', 2, 6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("A4", "A5", "P3"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 wide rollup (M:254, M:953): 6 measures over a 2-key group
    with a pushed-down date predicate — the per-artist 13-measure rollup
    shape, TPC-H-Q1 style. Every double measure accumulates exact
    integer units (quantities integral, prices 2dp, disc_price 4dp) so
    the hash gate cannot flake on partition order."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fixed_sum(F.col("l_quantity"), 0, 2).alias("sum_qty"),
        fixed_sum(F.col("l_extendedprice"), 2, 2).alias("sum_base_price"),
        fixed_sum(disc_price, 4, 2).alias("sum_disc_price"),
        fixed_avg(F.col("l_quantity"), 0, 4).alias("avg_qty"),
        fixed_avg(F.col("l_discount"), 2, 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "supplier_rollup",
    oracle=f"""
SELECT l_suppkey,
       COUNT(*) AS n_items,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       {sql_fixed_sum('l_quantity', 0, 2)} AS sum_qty,
       {sql_fixed_avg('l_extendedprice', 2, 4)} AS avg_price,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_suppkey
""",
    tags=("A5",),
)
def supplier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (M:953): mixed COUNT/COUNT-DISTINCT/SUM/AVG/MIN/MAX per entity.

    avg_price sums EXACT INTEGER CENTS then divides (fixed_avg): a
    plain AVG over doubles is summed in partition order, and at sf0.1
    one supplier's group landed a 1-ulp difference exactly on the 4dp
    rounding boundary (52908.28065) — integer sums are
    order-independent, so the average is bit-identical across engines
    regardless of data layout (prices are 2-decimal by construction,
    so the cents extraction is lossless). This query was the original
    flake that motivated the fixed_sum/fixed_avg pattern now applied
    to every hash-compared double measure."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        fixed_sum(F.col("l_quantity"), 0, 2).alias("sum_qty"),
        fixed_avg(F.col("l_extendedprice"), 2, 4).alias("avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "distinct_counts",
    oracle="""
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       COUNT(*) AS n_rows
FROM events
""",
    tags=("A8",),
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (豆瓣图书推荐.md:41-45): distinct-entity cardinalities. At 100 TB
    the documented alternative is approx_count_distinct (HLL, no global
    shuffle of distinct values)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_rows"),
    )


@query(
    "column_stats",
    oracle=f"""
SELECT {sql_fixed_avg('l_quantity', 0, 4)} AS qty_mean,
       (floor((STDDEV_SAMP(l_quantity)) * 10000.0 + 0.5) / 10000.0) AS qty_std,
       {sql_fixed_avg('l_extendedprice', 2, 4)} AS price_mean,
       (floor((STDDEV_SAMP(l_extendedprice)) * 10000.0 + 0.5) / 10000.0) AS price_std,
       {sql_fixed_avg('l_discount', 2, 6)} AS disc_mean,
       (floor((MIN(l_quantity)) * 100.0 + 0.5) / 100.0) AS qty_min,
       (floor((MAX(l_quantity)) * 100.0 + 0.5) / 100.0) AS qty_max
FROM lineitem
""",
    tags=("A9",),
)
def column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 Statistics.colStats (M:141-146): global mean/std/min/max per
    feature column — the input to the reference's (buggy) normalizer
    (ML2, SURVEY §7.3). Means use fixed_avg (order-independent); the
    stddevs stay plain double: they are sum-order-dependent too, but a
    sqrt of second moments essentially never lands within an ulp of a
    4dp rounding boundary (unlike means of on-grid decimal data, which
    sit on boundaries by construction), and min/max are rank-based,
    hence deterministic."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        fixed_avg(F.col("l_quantity"), 0, 4).alias("qty_mean"),
        round_to(F.stddev_samp("l_quantity"), 4).alias("qty_std"),
        fixed_avg(F.col("l_extendedprice"), 2, 4).alias("price_mean"),
        round_to(F.stddev_samp("l_extendedprice"), 4).alias("price_std"),
        fixed_avg(F.col("l_discount"), 2, 6).alias("disc_mean"),
        round_to(F.min("l_quantity"), 2).alias("qty_min"),
        round_to(F.max("l_quantity"), 2).alias("qty_max"),
    )


@query(
    "ranked_user_activity",
    oracle="""
WITH counts AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS BIGINT)
         AS activity_rank
FROM counts
""",
    tags=("A11", "W4"),
)
def ranked_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/W4 (豆瓣图书推荐.md:9-11): entities ranked by activity count.
    The global window is a deliberate single-partition sort over the
    ALREADY-AGGREGATED (small) frame — never over raw events."""
    counts = load(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n_events"))
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return counts.withColumn("activity_rank", F.row_number().over(w).cast("bigint"))


@query(
    "wide_key_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(month(l_shipdate) AS INT) AS ship_month,
       CAST(l_quantity >= 25 AS INT) AS bulk_flag,
       CAST(l_discount > 0.05 AS INT) AS discounted_flag,
       CAST(l_tax > 0.04 AS INT) AS taxed_flag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_fixed_sum('l_extendedprice', 2, 2)} AS sum_price,
       {sql_fixed_avg('l_quantity', 0, 4)} AS avg_qty
FROM lineitem
GROUP BY 1, 2, 3, 4, 5, 6, 7
""",
    tags=("A3",),
)
def wide_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (M:124): aggregation over a WIDE composite grouping key — the
    reference grouped by 16 columns (every non-aggregated column,
    including already-aggregated values; a smell, but a real workload
    shape). Seven grouping keys incl. derived flags; at scale the
    high-cardinality composite key is exactly what AQE partition
    coalescing handles after the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.month("l_shipdate").cast("int").alias("ship_month"),
            (F.col("l_quantity") >= 25).cast("int").alias("bulk_flag"),
            (F.col("l_discount") > 0.05).cast("int").alias("discounted_flag"),
            (F.col("l_tax") > 0.04).cast("int").alias("taxed_flag"),
        )
        .agg(
            F.count("*").alias("n_items"),
            fixed_sum(F.col("l_extendedprice"), 2, 2).alias("sum_price"),
            fixed_avg(F.col("l_quantity"), 0, 4).alias("avg_qty"),
        )
    )


@query(
    "cube_status_priority",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("A4", "cube"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping-set combinations
    in one pass — beyond the reference surface (it has no grouping
    sets, SURVEY §2.4) but table stakes for an OLAP engine. Spark plans
    this as a single Expand + aggregate (rows x 4), one shuffle."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
    )


@query(
    "percentile_prices",
    oracle=f"""
SELECT l_returnflag,
       {sql_round('quantile_cont(l_extendedprice, 0.25)', 4)} AS p25,
       {sql_round('quantile_cont(l_extendedprice, 0.50)', 4)} AS p50,
       {sql_round('quantile_cont(l_extendedprice, 0.90)', 4)} AS p90,
       {sql_round('quantile_cont(l_extendedprice, 0.99)', 4)} AS p99
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("A9", "percentile"),
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (F.percentile == SQL
    PERCENTILE_CONT == DuckDB quantile_cont). At 100 TB the documented
    swap is approx_percentile(col, p, accuracy) — one pass, bounded
    memory, no exact sort — traded off in SCALING.md."""
    li = load(spark, sf_dir, "lineitem")
    pcts = {"p25": 0.25, "p50": 0.50, "p90": 0.90, "p99": 0.99}
    return li.groupBy("l_returnflag").agg(
        *[
            round_to(F.percentile("l_extendedprice", F.lit(p)), 4).alias(name)
            for name, p in pcts.items()
        ]
    )


@query(
    "grouping_sets_status_segment",
    oracle=f"""
SELECT o.o_orderstatus, c.c_mktsegment,
       CAST(GROUPING(o.o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(c.c_mktsegment) AS INT) AS g_segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o.o_totalprice', 2, 2)} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY GROUPING SETS ((o.o_orderstatus), (c.c_mktsegment), ())
""",
    tags=("A4", "cube"),
)
def grouping_sets_status_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the generalization CUBE/ROLLUP compile
    to) with GROUPING() indicators disambiguating real NULLs from
    subtotal rows — one Expand + one shuffle for all three groupings."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    # sql_fixed_sum emits engine-neutral text, so the Spark-side SQL and
    # the DuckDB oracle share the exact same measure expression
    return spark.sql(
        f"""
        SELECT o_orderstatus, c_mktsegment,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(c_mktsegment) AS INT) AS g_segment,
               COUNT(*) AS n_orders,
               {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
        FROM {{oc}}
        GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment), ())
        """,
        oc=o.join(c, o.o_custkey == c.c_custkey),
    )


HIST_WIDTH = 25_000.0
HIST_BINS = 20


@query(
    "price_histogram",
    oracle=f"""
SELECT CAST(LEAST(floor(o_totalprice / {HIST_WIDTH}), {HIST_BINS - 1}) AS BIGINT)
         AS bin,
       CAST(CAST(LEAST(floor(o_totalprice / {HIST_WIDTH}), {HIST_BINS - 1}) AS BIGINT)
         * {HIST_WIDTH} AS DOUBLE) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders
GROUP BY 1, 2
""",
    tags=("A1", "histogram"),
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: floor-divide into
    {HIST_BINS} bins with the top bin clamped (width_bucket semantics,
    spelled in arithmetic both engines share bit-for-bit). The profiling
    primitive behind any numeric distribution dashboard — one map-side
    bin computation, one {HIST_BINS}-group aggregate; no sort, no
    window, so it scales as a pure partial-agg scan."""
    o = load(spark, sf_dir, "orders")
    bin_ = (
        F.least(F.floor(F.col("o_totalprice") / HIST_WIDTH), F.lit(HIST_BINS - 1))
        .cast("bigint")
    )
    return (
        o.groupBy(bin_.alias("bin"), (bin_ * HIST_WIDTH).alias("bin_lo"))
        .agg(
            F.count("*").alias("n_orders"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
    )


DECILE_QS = tuple(i / 10 for i in range(1, 10))

_DECILE_ORACLE = f"""
WITH b AS (
  SELECT {", ".join(f"quantile_cont(o_totalprice, {q}) AS q{i}" for i, q in enumerate(DECILE_QS, 1))}
  FROM orders
)
SELECT CAST(1 {" ".join(f"+ (CASE WHEN o_totalprice > q{i} THEN 1 ELSE 0 END)" for i in range(1, 10))}
         AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders, b
GROUP BY 1
"""


@query("price_decile_stats", oracle=_DECILE_ORACLE, tags=("A9", "W4", "quantile"))
def price_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) binning WITHOUT the single-partition
    global sort ntile() costs: exact quantile boundaries come from one
    distributed percentile aggregate, the 1-row boundary frame is
    broadcast back onto the fact, and the decile is 9 scalar compares.
    That is the 100 TB shape — two scans, zero global sorts. Boundary
    determinism: both engines interpolate lower + frac*(upper-lower);
    when neighbors differ the boundary falls strictly between two
    2-decimal prices (no row can sit on it), and when they are equal it
    IS that price exactly in both engines, so the > compares agree
    bit-for-bit."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        *[
            F.percentile("o_totalprice", F.lit(q)).alias(f"q{i}")
            for i, q in enumerate(DECILE_QS, 1)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(F.col("o_totalprice") > F.col(f"q{i}"), 1).otherwise(0)
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(decile.cast("bigint").alias("decile"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
    )


_SHARE_ORACLE = f"""
WITH rev AS (
  SELECT n.n_name AS nation,
         SUM({sql_units('l.l_extendedprice * (1 - l.l_discount)', 4)}) AS units
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1
)
SELECT nation,
       {sql_round('CAST(units AS DOUBLE) / 10000.0', 2)} AS revenue,
       {sql_round('CAST(units AS DOUBLE) / CAST(SUM(units) OVER () AS DOUBLE)', 6)}
         AS revenue_share
FROM rev
"""


@query("revenue_share_by_nation", oracle=_SHARE_ORACLE, tags=("A4", "W4", "J4"))
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global discounted
    revenue. The fact aggregates once (broadcast dim joins, exact
    integer-unit sums), then the window total runs over the
    25-row nation frame — percent-of-total never touches the fact
    twice, and the share divides two exact integers, so it is
    bit-identical in any engine. The 100 TB shape: one fact shuffle,
    window over a dimension-sized aggregate."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                to_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            ).alias("units")
        )
    )
    total = F.sum("units").over(Window.partitionBy())
    return rev.select(
        "nation",
        round_to(F.col("units").cast("double") / 10000.0, 2).alias("revenue"),
        round_to(F.col("units").cast("double") / total.cast("double"), 6).alias(
            "revenue_share"
        ),
    )


_ROLLUP_ORACLE = f"""
WITH om AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         o_totalprice
  FROM orders
)
SELECT yr, mo,
       CAST(GROUPING(yr) AS INT) AS g_yr,
       CAST(GROUPING(mo) AS INT) AS g_mo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM om
GROUP BY ROLLUP (yr, mo)
"""


@query("rollup_year_month", oracle=_ROLLUP_ORACLE, tags=("A6", "cube"))
def rollup_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over the date hierarchy — per-month,
    per-year subtotals and the grand total in ONE pass (an Expand node
    feeding one shuffle, exactly like CUBE/GROUPING SETS); GROUPING()
    flags disambiguate subtotal rows from real NULLs."""
    om = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        "o_totalprice",
    )
    return om.rollup("yr", "mo").agg(
        F.grouping("yr").cast("int").alias("g_yr"),
        F.grouping("mo").cast("int").alias("g_mo"),
        F.count("*").alias("n_orders"),
        fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
    )


# Higher central moments from EXACT integer power sums. Naive
# skewness()/kurtosis() aggregates accumulate doubles in partition
# order (flake class, see functions/rounding.py) AND differ in
# convention between engines (DuckDB applies sample-bias correction;
# Spark is population). Instead: raw power sums S1..S4 of integer
# cents are summed exactly (Spark DECIMAL(38,0), DuckDB HUGEINT —
# both exact 128-bit integer arithmetic), and the population moments
# are derived from the exact sums with the SAME double expression on
# both sides, so every division/multiplication sees identical
# operands in identical order. Headroom: cents <= ~1e5, so S4 per
# 100 TB group ~ 1e20 * 6e11 ≈ 1e32 < 10^38.
_MOMENTS_ORACLE = f"""
WITH cents AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS HUGEINT) AS c
  FROM events
), sums AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(c) AS DOUBLE) AS s1,
         CAST(SUM(c * c) AS DOUBLE) AS s2,
         CAST(SUM(c * c * c) AS DOUBLE) AS s3,
         CAST(SUM(c * c * c * c) AS DOUBLE) AS s4
  FROM cents GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       {sql_round("(s1 / n) / 100.0", 4)} AS mean_value,
       {sql_round("sqrt(s2 / n - (s1 / n) * (s1 / n)) / 100.0", 4)} AS stddev_pop,
       {sql_round(
           "(s3 / n - 3.0 * (s1 / n) * (s2 / n)"
           " + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))"
           " / pow(s2 / n - (s1 / n) * (s1 / n), 1.5)", 4)} AS skewness_pop,
       {sql_round(
           "(s4 / n - 4.0 * (s1 / n) * (s3 / n)"
           " + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)"
           " - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
           " / pow(s2 / n - (s1 / n) * (s1 / n), 2.0)", 4)} AS kurtosis_pop
FROM sums
"""


@query("moment_stats", oracle=_MOMENTS_ORACLE, tags=("A9", "analytic"))
def moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population mean/stddev/skewness/kurtosis per event type, derived
    from exact integer power sums (order-independent by construction;
    the double finishing arithmetic mirrors the oracle token-for-token
    so both engines execute the identical IEEE expression)."""
    ev = load(spark, sf_dir, "events")
    c = to_units(F.col("value"), 2)
    sums = ev.select("event_type", c.alias("c")).groupBy("event_type").agg(
        F.count("*").alias("n_raw"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).cast("double").alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n_raw").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - F.lit(3.0) * mu * (F.col("s2") / n) + F.lit(2.0) * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mu * (F.col("s3") / n)
        + F.lit(6.0) * mu * mu * (F.col("s2") / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return sums.select(
        "event_type",
        F.col("n_raw").cast("bigint").alias("n"),
        round_to(mu / F.lit(100.0), 4).alias("mean_value"),
        round_to(F.sqrt(m2) / F.lit(100.0), 4).alias("stddev_pop"),
        round_to(m3 / F.pow(m2, F.lit(1.5)), 4).alias("skewness_pop"),
        round_to(m4 / F.pow(m2, F.lit(2.0)), 4).alias("kurtosis_pop"),
    )
