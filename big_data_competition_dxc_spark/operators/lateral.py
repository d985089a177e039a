"""LATERAL correlated subqueries (SQL surface).

The reference leaned on registerTempTable + raw SQL for every join
shape it couldn't express in its 1.x DataFrame API (M:36, M:97); the
modern SQL surface includes LATERAL — a correlated subquery in FROM
that re-evaluates per outer row. Spark 3.2+ decorrelates it into a
join; DuckDB executes the identical text (up to the table fields), so
the oracle IS the query.

Scale path: Catalyst rewrites the correlated ORDER BY ... LIMIT k into
a ranked window over the inner table partitioned by the correlation
key — one shuffle of customer on c_nationkey, per-partition top-k, then
a broadcast join back to the 25-row nation dim. No per-outer-row
re-scan survives optimization; ``.explain`` shows WindowGroupLimit
pushdown (partial before the single exchange, final after) feeding a
BroadcastHashJoin against nation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.registry import query
from ..sources import plain_tables, table_sql

#: Customers surfaced per nation.
LATERAL_TOP_K = 3

_LATERAL_SQL = f"""
SELECT n.n_name, c.c_custkey, c.c_acctbal
FROM {{nation}} n,
LATERAL (
  SELECT c_custkey, c_acctbal FROM {{customer}}
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT {LATERAL_TOP_K}
) c
"""


@query("lateral_topk_per_nation", oracle=plain_tables(_LATERAL_SQL), tags=("P2", "S5", "O3"))
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LATERAL_TOP_K} customers by account balance per nation, written
    as a LATERAL correlated subquery (the 'top-k per group' O3 shape in
    its declarative SQL form; deterministic c_custkey tie-break).
    Identical text runs on DuckDB."""
    return table_sql(spark, sf_dir, _LATERAL_SQL)
