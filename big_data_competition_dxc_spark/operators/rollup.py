"""Daily rollup pipelines — the reference's core query shape.

The heart of the music workload is: raw action events -> dedup -> per
(date, entity) counts pivoted by action type -> day-over-day lag
features -> join dimensions (流行音乐趋势预测.md:42-98). The reference runs
it as five notebook blocks with text-file round-trips between them; here
each is ONE lazy Catalyst plan over the ``events`` fixture
(user_id/event_type/ts/value stand in for user/action_type/gmt_create,
FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import ORACLE_DAYOFWEEK, ORACLE_HOUR_BUCKET4, day_of_week, hour_bucket4
from ..functions.rounding import fixed_avg, fixed_sum, sql_fixed_avg, sql_fixed_sum
from ..plans.registry import query
from ..sources import load

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAILY_ROLLUP_ORACLE = """
WITH deduped AS (SELECT DISTINCT * FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS ds, user_id,
         {pivots},
         COUNT(*) AS n_events,
         {sum_value} AS total_value
  FROM deduped
  GROUP BY 1, 2
)
SELECT ds, user_id, {cols}, n_events, total_value,
       COALESCE(LAG(n_click) OVER w, 0) AS prev_click,
       n_click - COALESCE(LAG(n_click) OVER w, 0) AS click_delta
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY ds)
""".format(
    pivots=",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    ),
    cols=", ".join(f"n_{t}" for t in EVENT_TYPES),
    sum_value=sql_fixed_sum("value", 2, 2),
)


def daily_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup (A7, M:42) -> when-pivot by action type (A6/P11, M:75-86) ->
    2-key group-sum (A2) -> window lag + delta (replacing the reference's
    shifted-date self-join, J7/W1, M:72-94)."""
    events = load(spark, sf_dir, "events")
    pivots = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("bigint").alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    daily = (
        events.dropDuplicates()
        .groupBy(F.to_date("ts").alias("ds"), "user_id")
        .agg(*pivots, F.count("*").alias("n_events"), fixed_sum(F.col("value"), 2, 2).alias("total_value"))
    )
    w = Window.partitionBy("user_id").orderBy("ds")
    prev = F.coalesce(F.lag("n_click").over(w), F.lit(0).cast("bigint"))
    return daily.withColumn("prev_click", prev).withColumn(
        "click_delta", F.col("n_click") - prev
    )


query("daily_rollup", oracle=_DAILY_ROLLUP_ORACLE, tags=("A2", "A6", "A7", "W1", "W3", "F19"))(
    daily_user_rollup
)


_HOUR_BUCKET_ORACLE = f"""
SELECT CAST(ts AS DATE) AS ds,
       {ORACLE_HOUR_BUCKET4.format(h='hour(ts)')} AS hour_bucket,
       COUNT(*) AS n_events,
       {sql_fixed_sum("value", 2, 2)} AS total_value
FROM events
GROUP BY 1, 2
"""


@query("hour_bucket_rollup", oracle=_HOUR_BUCKET_ORACLE, tags=("F6", "F9", "A1"))
def hour_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 getTime 4-way time-of-day bucket (M:909-919, M:926-927) feeding a
    2-key count/sum aggregation — the morning/afternoon decomposition the
    reference builds its per-daypart features from (M:927-932)."""
    events = load(spark, sf_dir, "events")
    return (
        events.withColumn("hour_bucket", hour_bucket4(F.hour("ts")))
        .groupBy(F.to_date("ts").alias("ds"), "hour_bucket")
        .agg(F.count("*").alias("n_events"), fixed_sum(F.col("value"), 2, 2).alias("total_value"))
    )


_DOW_ORACLE = f"""
SELECT {ORACLE_DAYOFWEEK.format(col='CAST(ts AS DATE)')} AS dow,
       event_type,
       COUNT(*) AS n_events,
       {sql_fixed_avg("value", 2, 4)} AS avg_value
FROM events
GROUP BY 1, 2
"""


@query("dayofweek_rollup", oracle=_DOW_ORACLE, tags=("F5", "A1"))
def dayofweek_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 findWeek (M:624-631): Sunday=1 Calendar convention — pinned
    against DuckDB's Sunday=0 dayofweek (+1 in the oracle), SURVEY §7.2."""
    events = load(spark, sf_dir, "events")
    return (
        events.withColumn("dow", day_of_week(F.to_date("ts")))
        .groupBy("dow", "event_type")
        .agg(F.count("*").alias("n_events"), fixed_avg(F.col("value"), 2, 4).alias("avg_value"))
    )


_DAYPART_ORACLE = f"""
SELECT user_id,
       CAST(SUM(CASE WHEN hour(ts) < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
       CAST(SUM(CASE WHEN hour(ts) < 8 THEN 0 ELSE 1 END) AS BIGINT) AS n_late,
       {sql_fixed_sum("CASE WHEN hour(ts) < 8 THEN value ELSE 0 END", 2, 2)} AS early_value
FROM events
GROUP BY user_id
"""


@query("daypart_binary_rollup", oracle=_DAYPART_ORACLE, tags=("P12", "F10", "P11", "A2"))
def daypart_binary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/F10 getTimes binary time-of-day split (M:115,119): hour < 8
    decomposed into (1,0)/(0,1) flag pairs, then summed per user — the
    reference's morning/rest-of-day feature pair."""
    events = load(spark, sf_dir, "events")
    early = F.when(F.hour("ts") < 8, 1).otherwise(0)
    return events.groupBy("user_id").agg(
        F.sum(early).cast("bigint").alias("n_early"),
        F.sum(1 - early).cast("bigint").alias("n_late"),
        fixed_sum(F.when(F.hour("ts") < 8, F.col("value")).otherwise(0.0), 2, 2).alias(
            "early_value"
        ),
    )


_PIVOT_API_ORACLE = """
SELECT CAST(ts AS DATE) AS ds,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
"""


@query("pivot_api_daily", oracle=_PIVOT_API_ORACLE, tags=("A6",))
def pivot_api_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 via the NATIVE pivot operator (vs daily_rollup's when-sum
    form): `.pivot(col, values)` with the category list pinned — always
    pass explicit values at scale, or Spark runs an extra distinct scan
    to discover them and the output schema becomes data-dependent."""
    events = load(spark, sf_dir, "events")
    out = (
        events.groupBy(F.to_date("ts").alias("ds"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return out.select(
        "ds", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in EVENT_TYPES]
    )


_PIVOT_MULTI_ORACLE = f"""
SELECT CAST(ts AS DATE) AS ds,
       {", ".join(
           f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
           f" AS {t}_n, "
           + sql_fixed_sum(
               f"CASE WHEN event_type = '{t}' THEN value END", 2, 2
           )
           + f" AS {t}_val"
           for t in ("click", "purchase", "view")
       )}
FROM events
GROUP BY 1
"""


@query("pivot_multi_measure", oracle=_PIVOT_MULTI_ORACLE, tags=("A6", "A2"))
def pivot_multi_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregate measures per category — each day x
    event type yields both a count and an exact-cents value sum
    (``pivot(...).agg(count, sum)`` emits <category>_<alias> column
    pairs). The category list is FIXED (no schema-inference pass), so
    the plan is a single aggregation; counts for absent combinations
    are coalesced to 0 to match SQL's FILTER semantics (sums stay NULL
    over empty sets in both engines)."""
    ev = load(spark, sf_dir, "events")
    cats = ("click", "purchase", "view")
    piv = (
        ev.groupBy(F.to_date("ts").alias("ds"))
        .pivot("event_type", list(cats))
        .agg(
            # count(*) is rejected inside Pivot; count(lit(1)) is the
            # same row count
            F.count(F.lit(1)).alias("n"),
            fixed_sum(F.col("value"), 2, 2).alias("val"),
        )
    )
    cols = [F.col("ds")]
    for t in cats:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("bigint").alias(f"{t}_n"))
        cols.append(F.col(f"{t}_val"))
    return piv.select(*cols)
