"""Subquery surface: scalar, IN, and correlated NOT EXISTS.

The reference never writes subqueries (its SQL is single-block
select/join/group, SURVEY §2), but Catalyst's subquery rewrites are
core engine capability: scalar subqueries become cross joins against a
1-row aggregate, IN becomes a left-semi join, NOT EXISTS becomes a
null-aware left-anti join — all visible in .explain and all shuffling
like their join equivalents at 100 TB. Identical SQL text runs on both
engines (spark.sql == DuckDB, up to the table fields ``table_sql``
binds), so these are also dialect-parity checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.registry import query
from ..sources import plain_tables, table_sql

_SCALAR = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_above_avg
FROM {orders}
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM {orders})
GROUP BY o_orderstatus
"""

_IN_SUBQ = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM {customer}
WHERE c_custkey IN (
  SELECT o_custkey FROM {orders} WHERE o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
"""

_NOT_EXISTS = """
SELECT s.s_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_idle_suppliers
FROM {supplier} s
WHERE NOT EXISTS (
  SELECT 1 FROM {lineitem} l WHERE l.l_suppkey = s.s_suppkey
)
GROUP BY s.s_nationkey
"""


def _sql_query(sql: str, doc: str, name: str, tags: tuple[str, ...]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return table_sql(spark, sf_dir, sql)

    fn.__doc__ = doc
    fn.__name__ = name
    query(name, oracle=plain_tables(sql), tags=tags)(fn)
    return fn


scalar_subquery_above_avg = _sql_query(
    _SCALAR,
    "Scalar subquery: orders above the global average price, by status "
    "— Catalyst plans the aggregate once and broadcasts the scalar.",
    "scalar_subquery_above_avg",
    ("P2", "A10"),
)

in_subquery_urgent_customers = _sql_query(
    _IN_SUBQ,
    "IN subquery -> left-semi join rewrite: customers with at least one "
    "urgent order, by segment.",
    "in_subquery_urgent_customers",
    ("P9", "J8"),
)

not_exists_idle_suppliers = _sql_query(
    _NOT_EXISTS,
    "Correlated NOT EXISTS -> null-aware anti join: suppliers with zero "
    "lineitems, by nation.",
    "not_exists_idle_suppliers",
    ("J8", "U3"),
)
