"""Dynamic partition pruning (DPP) — runtime pruning of a partitioned
fact scan from a filtered dimension.

The flagship 100 TB scan optimization this repo had not yet
demonstrated executably: when a fact table is PARTITIONED on the join
key and the dimension side carries a selective filter, Spark injects a
runtime subquery (reusing the dimension's broadcast) into the fact
scan's PartitionFilters, so only the partitions the dimension actually
selects are ever listed/read. Static predicate pushdown cannot do this
— the qualifying partition set is only known after the dimension is
evaluated.

Here the fact is the daily (ds-partitioned) rollup written to a
request scratch dir (same layout as `parquet_partitioned_roundtrip` —
repartition("ds") then partitionBy("ds")), and the dimension selects the days whose
TOTAL event count is odd — a DATA-DEPENDENT property of each day. The
choice is deliberate: a dim filter that is a pure function of the join
key itself (a weekday test, a date range) gets propagated through the
equi-join by Catalyst's constraint inference and lands in the fact's
PartitionFilters STATICALLY (verified while building this operator —
the weekday form showed both the static predicate and the DPP
subquery), which would leave the DPP expression decorative. A
which-days-qualify set that only exists after aggregating data is
exactly what static analysis cannot know and runtime pruning can.
tests/test_plans.py asserts the `dynamicpruningexpression` is in the
fact scan's PartitionFilters AND that no static ds predicate is.
`dpp_join_frames` is a context manager: the joined frame is valid
inside its ``with`` block, and the scratch dir goes when the block
exits, on success or error alike.

At 100 TB this is the difference between scanning a year and scanning
the qualifying days a data-driven dimension selects — for free, with
no layout change beyond the partitioning the table already has.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.memos import local
from ..plans.registry import query
from ..session import scratch_dir
from ..sources import load

_DPP_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_fixed_sum('value', 2, 2)} AS total_value
  FROM events GROUP BY 1, 2
),
odd_days AS (
  SELECT ds FROM daily GROUP BY ds HAVING SUM(n_events) % 2 = 1
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       {sql_fixed_sum('total_value', 2, 2)} AS total_value
FROM daily JOIN odd_days USING (ds)
GROUP BY event_type
"""


@contextmanager
def dpp_join_frames(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
    """Write the ds-partitioned daily fact to a scratch dir, build the
    odd-total-days dim, and yield their join for the ``with`` block;
    the fact's files are removed when the block exits. The join is on
    the PARTITION column with the dim filtered on a data-dependent
    aggregate — the shape where ONLY runtime pruning can shrink the
    fact scan. Callers assert on or aggregate the plan inside the
    block."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("ds"), "event_type").agg(
        F.count("*").alias("n_events"),
        fixed_sum(F.col("value"), 2, 2).alias("total_value"),
    )
    with scratch_dir("dpp_fact_") as out:
        # one file per ds partition (the parquet_partitioned_roundtrip layout)
        daily.repartition("ds").write.mode("overwrite").partitionBy("ds").parquet(out)
        fact = spark.read.parquet(out)
        # dim: the days whose total event count is odd — knowable only by
        # aggregating the data, so no static rewrite can reach the fact scan
        odd_days = (
            spark.read.parquet(out)
            .groupBy("ds")
            .agg(F.sum("n_events").alias("n_day"))
            .filter(F.col("n_day") % 2 == 1)
            .select("ds")
        )
        yield fact.join(F.broadcast(odd_days), "ds")


@query(
    "dpp_partitioned_join",
    oracle=_DPP_ORACLE,
    tags=("S2", "S3", "J1", "P3", "scale"),
    writes=True,
)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type over the odd-total days only: day count, event
    count, exact-cents value — computed through a ds-partitioned
    scratch fact joined to a data-dependent day dim, so the fact scan
    is dynamically pruned to the qualifying partitions at runtime
    (DPP; plan-asserted in test_plans). The oracle recomputes from the
    raw events with the same HAVING predicate, so the pruned read must
    be value-identical to the full scan."""
    with dpp_join_frames(spark, sf_dir) as joined:
        return local(
            spark,
            joined.groupBy("event_type").agg(
                F.count("*").alias("n_days"),
                F.sum("n_events").alias("n_events"),
                fixed_sum(F.col("total_value"), 2, 2).alias("total_value"),
            ),
        )
