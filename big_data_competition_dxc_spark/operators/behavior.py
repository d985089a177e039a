"""User-behavior analytics over the event stream: cohort retention,
Markov transitions, opening-path distribution, hopping windows.

The reference's workloads are behavior pipelines (per-user action
matrices, day-over-day deltas — 流行音乐趋势预测.md:42-98) but its
relational surface stops at per-day rollups; these are the standard
product-analytics operators one layer up, each expressed as a single
Catalyst plan whose only wide exchanges are keyed on ``user_id`` (the
natural partitioning at 100 TB) or on the already-tiny aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round, sql_units, to_units
from ..plans.registry import query
from ..sources import load, table_sql

_RETENTION_ORACLE = f"""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY 1
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
       s.cohort_size,
       {sql_round("CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.cohort_size", 6)}
         AS retention
FROM active a
JOIN firsts f USING (user_id)
JOIN sizes s ON s.cohort_week = f.cohort_week
GROUP BY 1, 2, s.cohort_size
"""


@query("cohort_retention", oracle=_RETENTION_ORACLE, tags=("A8", "W1", "cohort"))
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, then
    for each (cohort, weeks-since) the share still active. One window
    min over ``user_id`` derives the cohort inline (no self-join with a
    firsts table); cohort sizes are a tiny per-week aggregate joined
    back by broadcast. Both engines truncate weeks to Monday. At 100 TB
    the plan is one user_id exchange + one group-by on (week, offset) —
    the distinct bounds state to users x weeks, not raw events. The
    cohort SIZE is by definition n_active at offset 0 (everyone is
    active in their first week), so it is read back from the SAME
    grouped aggregate instead of a second pass over events — the two
    branches share one exchange (AQE reuses it) and the fact lineage
    is scanned once."""
    w = Window.partitionBy("user_id")
    base = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.to_date(F.date_trunc("week", F.min("ts").over(w))).alias("cohort_week"),
            F.to_date(F.date_trunc("week", "ts")).alias("active_week"),
        )
        .distinct()
    )
    offset = (F.datediff("active_week", "cohort_week") / 7).cast("bigint")
    grouped = base.groupBy("cohort_week", offset.alias("week_offset")).agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = grouped.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return grouped.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        round_to(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


_MARKOV_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n_transitions,
       {sql_round("CAST(n_transitions AS DOUBLE)"
                  " / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)", 6)}
         AS p_transition
FROM t
"""


@query("markov_transitions", oracle=_MARKOV_ORACLE, tags=("W1", "A1", "markov"))
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: lag over
    (user, time) pairs consecutive events, a 2-key count builds the
    matrix, and a window-sum normalizes rows into probabilities. The
    lag shuffles on user_id once; everything after runs on the 25-row
    matrix. (ts, event_id) ordering makes ties deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return t.withColumn(
        "p_transition",
        round_to(
            F.col("n_transitions") / F.sum("n_transitions").over(wp).cast("double"), 6
        ),
    )


PATH_K = 3

_PATHS_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= {PATH_K} GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths GROUP BY 1
"""


@query("event_paths_opening", oracle=_PATHS_ORACLE, tags=("W4", "A1", "sequence"))
def event_paths_opening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening-path distribution: each user's first {PATH_K} event
    types joined into an ordered path string, counted across users.
    row_number prunes to K rows per user BEFORE any array building, so
    per-group state is bounded at K regardless of how heavy a user is;
    array_sort on (ts, event_id, type) structs gives an
    order-insensitive aggregation the collect_list shuffle can't
    perturb."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_k = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_K)
    )
    paths = first_k.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_users"))


HOP_S = 3 * 3600
WIN_S = 6 * 3600

_HOPPING_ORACLE = f"""
SELECT make_timestamp(ws * 1000000) AS window_start,
       make_timestamp((ws + {WIN_S}) * 1000000) AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM (
  SELECT user_id,
         unnest([CAST(floor(epoch(ts) / {HOP_S}) AS BIGINT) * {HOP_S},
                 CAST(floor(epoch(ts) / {HOP_S}) AS BIGINT) * {HOP_S} - {HOP_S}]) AS ws
  FROM events
)
GROUP BY ws
"""


@query("hopping_window_counts", oracle=_HOPPING_ORACLE, tags=("F6", "A1", "window"))
def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) time windows in batch: 6-hour windows every 3
    hours via the SAME ``F.window`` operator Structured Streaming uses,
    so the batch rollup and a streaming deployment share one
    definition. Each event lands in exactly WIN/HOP = 2 windows; Spark
    expands them with a generator (no self-join), and the oracle
    mirrors that with an unnest of the two epoch-aligned starts."""
    win = F.window("ts", f"{WIN_S} seconds", f"{HOP_S} seconds")
    return (
        load(spark, sf_dir, "events")
        .groupBy(win.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "n_users",
        )
    )


_REACH_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS first_ds FROM events GROUP BY 1
),
daily AS (
  SELECT first_ds AS ds, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY 1
)
SELECT ds, new_users,
       CAST(SUM(new_users) OVER (ORDER BY ds ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM daily
"""


@query("cumulative_reach", oracle=_REACH_ORACLE, tags=("A8", "W3", "cohort"))
def cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative audience reach: distinct users ever seen, by day. A
    naive running COUNT(DISTINCT) over a growing window re-scans every
    prefix; the linear shape is first-seen date per user (one user_id
    aggregate), daily new-user counts, then a running sum over the
    day-level frame — the global window touches ~days rows, never
    events. The growth curve every DAU/MAU dashboard is built from."""
    firsts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.to_date(F.min("ts")).alias("first_ds"))
    )
    daily = firsts.groupBy(F.col("first_ds").alias("ds")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("ds").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn("cumulative_users", F.sum("new_users").over(w))


DEBOUNCE_S = 300

_DEBOUNCE_ORACLE = f"""
WITH ranked AS (
  SELECT event_id, user_id, ts, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, CAST(floor(epoch(ts) / {DEBOUNCE_S}) AS BIGINT)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, user_id, ts, event_type
FROM ranked WHERE rn = 1
"""


@query("debounce_first_per_window", oracle=_DEBOUNCE_ORACLE, tags=("W4", "A7", "dedup"))
def debounce_first_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/throttle: keep each user's FIRST event per
    {DEBOUNCE_S}-second tumbling window — the rate-limiting dedup for
    double-clicks, retry storms, and sensor chatter. row_number over
    (user, window) with Spark's own ``F.window`` bucketing (the oracle
    mirrors it as floor(epoch/width)); one shuffle on the composite
    key, per-group state of 1. Unlike DISTINCT this keeps a
    representative row with ALL its columns."""
    w = Window.partitionBy(
        "user_id", F.window("ts", f"{DEBOUNCE_S} seconds")
    ).orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_RFM_ORACLE = f"""
WITH rfm AS (
  SELECT o_custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS r_days,
         CAST(COUNT(*) AS BIGINT) AS f_orders,
         CAST(SUM({sql_units('o_totalprice', 2)}) AS DOUBLE) AS m_units
  FROM orders GROUP BY 1
),
b AS (
  SELECT quantile_cont(r_days, 0.5) AS r_med,
         quantile_cont(f_orders, 0.5) AS f_med,
         quantile_cont(m_units, 0.5) AS m_med
  FROM rfm
)
SELECT (CASE WHEN r_days <= r_med THEN 'R+' ELSE 'R-' END ||
        CASE WHEN f_orders > f_med THEN 'F+' ELSE 'F-' END ||
        CASE WHEN m_units > m_med THEN 'M+' ELSE 'M-' END) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_round('SUM(m_units) / (100.0 * COUNT(*))', 2)} AS avg_monetary
FROM rfm, b
GROUP BY 1
"""


@query("rfm_segments", oracle=_RFM_ORACLE, tags=("A5", "W4", "rfm"))
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers split at the median of recency
    (days since last order), frequency, and monetary value into eight
    segments. One customer aggregate, one 1-row median frame broadcast
    back — the price_decile_stats shape applied to three axes at once.
    Monetary sums are exact integer cents cast to double (ints are
    exact in doubles), so every median boundary compare is
    engine-deterministic; recent/frequent/big-spender is <=/>/> of
    exact numbers, never of noisy float sums."""
    o = load(spark, sf_dir, "orders")
    ref_date = o.agg(F.max(F.to_date("o_orderdate")).alias("d1"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").alias("f_orders"),
            F.sum(to_units(F.col("o_totalprice"), 2)).cast("double").alias("m_units"),
        )
        .crossJoin(F.broadcast(ref_date))
        .select(
            "o_custkey",
            F.datediff("d1", "last_order").alias("r_days"),
            "f_orders",
            "m_units",
        )
    )
    bounds = rfm.agg(
        F.percentile("r_days", F.lit(0.5)).alias("r_med"),
        F.percentile("f_orders", F.lit(0.5)).alias("f_med"),
        F.percentile("m_units", F.lit(0.5)).alias("m_med"),
    )
    seg = F.concat(
        F.when(F.col("r_days") <= F.col("r_med"), "R+").otherwise("R-"),
        F.when(F.col("f_orders") > F.col("f_med"), "F+").otherwise("F-"),
        F.when(F.col("m_units") > F.col("m_med"), "M+").otherwise("M-"),
    )
    return (
        rfm.crossJoin(F.broadcast(bounds))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            round_to(F.sum("m_units") / (F.lit(100.0) * F.count("*")), 2).alias(
                "avg_monetary"
            ),
        )
    )


_LISTAGG_SQL = """
SELECT user_id, CAST(ts AS DATE) AS ds,
       listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id) AS path,
       COUNT(*) AS n_events
FROM {events}
GROUP BY user_id, CAST(ts AS DATE)
"""


@query(
    "listagg_daily_paths",
    oracle="""
SELECT user_id, CAST(ts AS DATE) AS ds,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
    tags=("A1", "sequence", "S5"),
)
def listagg_daily_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day) ordered event path via Spark 4's LISTAGG ...
    WITHIN GROUP (ORDER BY ...) — the declarative form of the ordered
    string aggregation event_paths_opening builds manually from
    array_sort(collect_list(struct))/transform/array_join; DuckDB
    spells the same aggregate string_agg(expr, delim ORDER BY ...).
    The WITHIN GROUP ordering makes the result deterministic under any
    shuffle layout (the property the struct-sort idiom exists for)."""
    return table_sql(spark, sf_dir, _LISTAGG_SQL)
