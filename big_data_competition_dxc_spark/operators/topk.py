"""Sorts / limits / top-k (SURVEY §2.6 O1–O4).

The reference's top-k is model-side (recommendProducts, 豆瓣图书推荐.md:91);
the generic distributed form is row_number over a per-entity window.
Ties are always broken by a unique key so results are deterministic
across engines (FIXTURES.md §4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from ..sources import load


@query(
    "topk_days_per_user",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS ds,
         {sql_fixed_sum('value', 2, 2)} AS total_value
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, ds, total_value,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY total_value DESC, ds
         ) AS BIGINT) AS rn
  FROM daily
)
SELECT user_id, ds, total_value, rn FROM ranked WHERE rn <= 3
""",
    tags=("O3",),
)
def topk_days_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 top-k per group (D:91 analog): each user's 3 highest-value days.
    Ranking happens on the ROUNDED measure so Spark and the oracle agree
    even when raw double sums differ in the last ulp."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("ds"))
        .agg(fixed_sum(F.col("value"), 2, 2).alias("total_value"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("total_value"), F.asc("ds"))
    return (
        daily.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "global_top20_users",
    oracle=f"""
SELECT user_id, {sql_fixed_sum('value', 2, 2)} AS total_value, COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 20
""",
    tags=("O1", "O2"),
)
def global_top20_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 global sort + limit (M:97, M:1227): Spark plans this as
    TakeOrderedAndProject — a per-partition top-20 then a tiny driver
    merge, never a full global sort."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(fixed_sum(F.col("value"), 2, 2).alias("total_value"), F.count("*").alias("n_events"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(20)
    )
