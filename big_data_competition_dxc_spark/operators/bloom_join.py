"""Runtime Bloom-filter pruned shuffle join — the big-big join
optimization the 100 TB plan depends on.

When BOTH join sides are too large to broadcast, Spark can still avoid
shuffling the probe side's non-matching rows: the optimizer injects a
BloomFilterAggregate over the (selectively filtered) build side's join
keys and a ``might_contain`` predicate into the probe side's scan, so
rows that cannot match are dropped BEFORE the exchange
(spark.sql.optimizer.runtime.bloomFilter.*; the runtime sibling of the
static DPP partition pruning in partition_overwrite_backfill).

On the local fixture the probe side is far below the 10 GB
applicationSideScanSizeThreshold that gates injection in production,
so this query runs on a child session (``session.scoped``) with the
thresholds at zero (and autoBroadcastJoinThreshold disabled, which
would otherwise turn the tiny build side into a broadcast join where a
Bloom filter is pointless) to materialize the exact plan a 100 TB run
would get: filtered orders build a Bloom filter, lineitem probes it
pre-shuffle. The returned frame is bound to that child, so it is
planned under these confs whenever it runs, and the shared session's
confs never change. tests/test_plans.py pins ``might_contain`` into
the physical plan of the registry entry's frame, so the demonstration
cannot silently degrade into a plain join. The result itself is
conf-independent (Bloom false positives only let extra rows reach the
join, never change its output) — the oracle is the plain join SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_avg, sql_fixed_avg
from ..plans.registry import query
from ..session import scoped
from ..sources import load

_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


_BLOOM_ORACLE = f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_fixed_avg("l.l_extendedprice", 2, 4)} AS avg_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY 1
"""


@query("bloom_pruned_join", oracle=_BLOOM_ORACLE, tags=("J2", "optimizer", "scale"))
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ selectively-filtered orders as a shuffle join with a
    runtime Bloom filter pruning the lineitem side before its exchange;
    result identical to the plain join (oracle), plan pinned in tests."""
    spark = scoped(spark, _BLOOM_CONFS)
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    items = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        items.join(orders, items.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            fixed_avg(F.col("l_extendedprice"), 2, 4).alias("avg_price"),
        )
    )
