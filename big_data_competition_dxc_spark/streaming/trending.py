"""Streaming trending top-k: hourly windowed counts + per-window rank.

The 'what is trending right now' composition every event pipeline
ships: a watermarked tumbling-window count per (hour, event_type),
with the top-3 types ranked inside each hour. Structured Streaming
cannot evaluate rank() inside a streaming aggregate (no window
functions over streaming state), so the canonical production shape is
windowed-agg in the stream + rank in the sink pass (foreachBatch or a
downstream batch over the sink table). This query runs exactly that
split: the streaming half drains with Trigger.availableNow into a
memory sink (bounded input -> batch-identical results, same contract
as streaming_daily_rollup at rollup_stream.py:126), and the rank runs
as a batch window over the snapshot.

Scale notes: streaming state is one row per (hour-window, event_type)
— cardinality-bounded, never input-bounded; the watermark caps state
retention on an unbounded source. The rank pass partitions by window
over the already-tiny aggregate, so the sort is per-hour local; at
100 TB the same plan runs with the memory sink swapped for a Delta/
Kafka sink and the rank in foreachBatch — the dataflow is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from .rollup_stream import drain_to_memory, staged_events_stream


def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(events) -> watermark -> 1-hour window x event_type
    count, drained availableNow; then top-3 per window by count with a
    deterministic event_type tie-break."""
    with staged_events_stream(spark, sf_dir) as stream:
        stream = stream.withWatermark("ts", "1 hour")
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"), "event_type", "n_events"
            )
        )
        snap = drain_to_memory(spark, agg, "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.col("event_type")
    )
    return (
        snap.select("*", F.row_number().over(w).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n_events", "rk")
    )


query(
    "streaming_trending_topk",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), r AS (
  SELECT window_start, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rk
  FROM h
)
SELECT window_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3
""",
    tags=("streaming", "O3", "W4"),
    writes=True,
)(streaming_trending_topk)
