"""Stream-static enrichment join (SURVEY §2.9 — flagged extension).

The one core Structured Streaming join shape not yet in the registry:
an unbounded fact stream joined per-micro-batch against a bounded
dimension table. Spark executes the static side as a regular batch
relation re-planned inside every micro-batch — no state store is
involved for the join itself (unlike stream_stream_attribution_join),
so it is the cheapest enrichment available on an unbounded source.

Shape: readStream(events) -> inner join broadcast(customer dim) on
user_id = c_custkey -> market-segment rollup, drained with
availableNow into a memory sink. On a bounded input this must agree
exactly with the batch join+rollup, which is the full DuckDB oracle.

100 TB: the dimension is broadcast once per micro-batch (customer at
150k rows/segment fits any executor); the stream side never shuffles
before the join — only the post-join segment rollup exchanges, on a
6-value key. Watermarking is unnecessary: the join is stateless and
the aggregate is keyed by a time-free dimension attribute (the
windowed variants live in rollup_stream/hopping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from ..sources import load
from .rollup_stream import drain_to_memory, staged_events_stream

_ENRICH_ORACLE = f"""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_fixed_sum("e.value", 2, 2)} AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


@query("stream_static_enrich", oracle=_ENRICH_ORACLE, tags=("streaming", "J1"), writes=True)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched with the static customer dimension,
    rolled up per market segment; exact-cents value sum keeps the
    result order-independent across micro-batch schedules."""
    stream, stage = staged_events_stream(spark, sf_dir)
    dim = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value"), 2, 2).alias("total_value"),
        )
    )
    rows = drain_to_memory(agg, stage, "complete")
    return spark.createDataFrame(
        rows, "c_mktsegment string, n_events bigint, total_value double"
    )
