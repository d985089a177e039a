"""EP1: the reference's dominant pattern — SQL on registered temp views
(SURVEY §3) — run end-to-end as ONE multi-CTE spark.sql statement, the
tables passed to it as DataFrame arguments (``sources.table_sql``).

The reference executes this as five notebook blocks with text-file
round-trips between them (流行音乐趋势预测.md:42-98: dedup -> per-key
counts -> when-pivot -> sum -> shifted-date self-join -> dim join);
here the same dataflow is a single SQL statement over the tables, so
Catalyst sees the whole pipeline (column pruning + pushdown cross the
old block boundaries, SURVEY §4).

The oracle is the same SQL dialect-adjusted for DuckDB — this query IS
the parity proof for the SQL API surface (P2/S5/J1/J7/A2/A6/A7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import sql_fixed_sum
from ..plans.registry import query
from ..sources import plain_tables, table_sql

_PIPELINE = """
WITH deduped AS (
  SELECT DISTINCT * FROM {{events}}          -- M:42 dedup
),
daily AS (                                   -- M:68-86 count + when-pivot
  SELECT CAST(ts AS DATE) AS ds, user_id,
         CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {total_value} AS total_value
  FROM deduped
  GROUP BY 1, 2
),
shifted AS (                                 -- M:72-94 shifted-date lag join
  SELECT {next_day} AS ds, user_id, n_events AS prev_events
  FROM daily
)
SELECT d.ds, d.user_id, c.c_mktsegment,      -- M:45 dim join
       d.n_click, d.n_purchase, d.n_events, d.total_value,
       CAST(COALESCE(s.prev_events, 0) AS BIGINT) AS prev_events
FROM daily d
LEFT JOIN shifted s ON s.ds = d.ds AND s.user_id = d.user_id
LEFT JOIN {{customer}} c ON d.user_id = c.c_custkey
"""

_ORACLE = plain_tables(
    _PIPELINE.format(
        total_value=sql_fixed_sum("value", 2, 2),
        next_day="CAST(ds + INTERVAL 1 DAY AS DATE)",
    )
)


@query(
    "sql_pipeline_daily",
    oracle=_ORACLE,
    tags=("P2", "S5", "J1", "J7", "A2", "A6", "A7"),
)
def sql_pipeline_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full EP1 dataflow as one spark.sql statement over the
    tables — identical SQL text on both engines up to the date-add
    spelling (sql_fixed_sum emits engine-neutral text: exact integer
    accumulation, divisors CAST to DOUBLE so Spark's decimal-literal
    parsing doesn't change the result type)."""
    return table_sql(
        spark,
        sf_dir,
        _PIPELINE.format(
            total_value=sql_fixed_sum("value", 2, 2),
            next_day="date_add(ds, 1)",
        ),
    )


#: The SAME EP1 dataflow in Spark 4 SQL pipe syntax (`|>`) — each
#: notebook block becomes one pipe operator, reading top-to-bottom in
#: execution order instead of inside-out. Pure surface parity: the
#: DuckDB oracle is the CTE formulation above, so the hash gate proves
#: the two syntaxes are the same plan semantics.
_PIPE_FORM = """
WITH daily AS (
  FROM {{events}}
  |> SELECT DISTINCT *
  |> AGGREGATE
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {total_value} AS total_value
     GROUP BY CAST(ts AS DATE) AS ds, user_id
)
FROM daily AS d
|> LEFT JOIN (
     FROM daily
     |> SELECT date_add(ds, 1) AS ds, user_id, n_events AS prev_events
   ) AS s ON s.ds = d.ds AND s.user_id = d.user_id
|> LEFT JOIN {{customer}} AS c ON d.user_id = c.c_custkey
|> SELECT d.ds, d.user_id, c.c_mktsegment,
          d.n_click, d.n_purchase, d.n_events, d.total_value,
          CAST(COALESCE(s.prev_events, 0) AS BIGINT) AS prev_events
"""


@query(
    "sql_pipe_syntax_daily",
    oracle=_ORACLE,
    tags=("P2", "S5", "extension"),
)
def sql_pipe_syntax_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 restated in Spark 4 SQL pipe syntax: dedup, the daily
    when-pivot rollup (``|> AGGREGATE ... GROUP BY``, whose output is
    keys-then-aggregates), the shifted-date self-join, and the dim
    join, piped top-to-bottom. The oracle is the classic CTE
    formulation — hash-equality proves the pipe surface produces the
    identical result, which is the whole point of the seam (zero new
    semantics, pure syntax parity)."""
    return table_sql(
        spark, sf_dir, _PIPE_FORM.format(total_value=sql_fixed_sum("value", 2, 2))
    )
