"""Recursive CTE (Spark 4 WITH RECURSIVE): bounded-depth graph reach.

The SQL-standard iterative construct the reference era (Spark 1.x)
never had — Spark 4 executes WITH RECURSIVE natively, so transitive
closure / BFS can now be declared in one statement instead of a
driver loop of joins. This query computes minimum co-supply hops from
the lowest-keyed supplier to every supplier reachable within MAX_HOPS,
over the same co-supply edge projection as graph/pagerank.py.

DuckDB runs the IDENTICAL statement (both engines implement the
standard UNION ALL recursion), so the oracle is the same text with the
table field spelled as the table name — the strongest possible
cross-engine pin.

Scale notes (100 TB): raw UNION ALL recursion enumerates WALKS, so
work grows with degree^depth — found empirically: without dedup this
query exceeds Spark's 1,000,000-row recursion guard
(RECURSION_ROW_LIMIT_EXCEEDED) already at sf0.1 on the dense co-supply
graph. Spark 4 does not yet support UNION-dedup recursive members
(UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the DISTINCT lives INSIDE
the recursive member: each level collapses to its distinct frontier
(≤ |V| rows per level, ≤ |V|·depth total) before expanding — the same
dedup-per-level discipline as dedup/clustering.py's connected
components, expressed declaratively. BFS distances (MIN over the
per-level rows) are unaffected; walk multiplicity is deliberately not
computed because materializing it IS the explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.registry import query
from ..sources import plain_tables, table_sql

MAX_HOPS = 3

_REACH_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM {{lineitem}} a
  JOIN {{lineitem}} b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
),
reach(node, hops) AS (
  SELECT (SELECT MIN(src) FROM pairs) AS node, 0 AS hops
  UNION ALL
  SELECT DISTINCT p.dst, r.hops + 1
  FROM reach r JOIN pairs p ON p.src = r.node
  WHERE r.hops < {MAX_HOPS}
)
SELECT node AS s_suppkey, CAST(MIN(hops) AS BIGINT) AS min_hops,
       COUNT(*) AS n_levels
FROM reach
GROUP BY node
"""


@query(
    "recursive_cte_reach",
    oracle=plain_tables(_REACH_SQL),
    tags=("iterative", "J2", "A1", "extension"),
)
def recursive_cte_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min hops (and reached-level count) from the lowest-keyed
    supplier to each supplier within {MAX_HOPS} co-supply hops — the
    SAME SQL text executes on Spark and DuckDB."""
    return table_sql(spark, sf_dir, _REACH_SQL)
