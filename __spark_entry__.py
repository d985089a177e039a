"""Driver contract for the spark-graft builder (PySpark target).

Thin view of ``big_data_competition_dxc_spark.plans`` — the query
registry is the single source of truth; every operator from SURVEY.md §2
registers a ``queries()`` entry there and, when SQL-expressible, a DuckDB
``oracle_sql()`` twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_competition_dxc_spark import plans

plans.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's core
    pipeline shape (dedup -> pivoted daily rollup -> lag features),
    流行音乐趋势预测.md:42-98, as one Catalyst plan."""
    from big_data_competition_dxc_spark.operators.rollup import daily_user_rollup

    return daily_user_rollup(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: e.fn for name, e in plans.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in plans.QUERIES.items() if e.oracle is not None}
