"""foreachBatch: the custom-sink escape hatch (SURVEY §2.9 extension).

Spark's built-in streaming sinks cover files/Kafka/memory; everything
else (JDBC upserts, MERGE into a lakehouse table, multi-sink fan-out)
goes through ``foreachBatch(batch_df, batch_id)`` — each micro-batch
arrives as a BATCH DataFrame plus a monotonically increasing batch id,
and idempotent handling of batch-id replays is what turns
at-least-once delivery into effectively-exactly-once.

Demonstrated here with the standard idempotent pattern: every batch
OVERWRITES the sink path for the aggregate's current state (complete
mode), so a replayed batch id rewrites the same bytes instead of
duplicating them. On the bounded fixture (one availableNow micro-batch)
the final sink contents equal the batch aggregate — the DuckDB oracle —
while the plumbing (batch callback, id bookkeeping, overwrite
idempotence) is exactly what an unbounded 100 TB deployment runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.memos import local
from ..plans.registry import query
from ..session import scratch_dir
from .rollup_stream import run_stream, staged_events_stream


@query(
    "stream_foreachbatch_sink",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_fixed_sum('value', 2, 2)} AS total_value
FROM events
GROUP BY event_type
""",
    tags=("streaming", "sink"),
    writes=True,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregate delivered through a foreachBatch parquet
    upsert: complete-mode per-type totals, each batch overwriting the
    sink snapshot (idempotent under batch replay). The returned frame
    is read back FROM THE SINK, so parity with the oracle proves the
    whole write path, not just the aggregation."""
    seen_batches: list[int] = []
    with staged_events_stream(spark, sf_dir) as stream, scratch_dir("febatch_") as out:
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value"), 2, 2).alias("total_value"),
        )

        def upsert_snapshot(batch_df: DataFrame, batch_id: int) -> None:
            # complete-mode batch = the aggregate's full current state;
            # overwrite makes a batch-id replay rewrite identical bytes
            seen_batches.append(batch_id)
            batch_df.write.mode("overwrite").parquet(f"{out}/snapshot")

        writer = (
            agg.writeStream.foreachBatch(upsert_snapshot)
            .outputMode("complete")
            .trigger(availableNow=True)
        )
        with run_stream(writer) as q:
            q.awaitTermination()
        assert seen_batches, "foreachBatch callback never fired"
        return local(spark, spark.read.parquet(f"{out}/snapshot"))
