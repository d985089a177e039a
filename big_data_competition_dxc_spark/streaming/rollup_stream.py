"""Structured Streaming daily rollup (SURVEY §2.9 — flagged extension).

The reference has no streaming (its "time series" is daily-batch rows,
流行音乐趋势预测.md:5,68). This module demonstrates the SAME daily-rollup
semantics as operators/rollup.py expressed as a Structured Streaming
plan: readStream over the events parquet -> 1-day tumbling window
(F.window) with a watermark for late data -> counts + sums per
(day, event_type).

Run with Trigger.availableNow into a memory sink, the stream processes
the full fixture exactly once and terminates — so the result is
batch-comparable and the query carries a FULL DuckDB oracle: streaming
and batch must agree on a bounded input (the correctness property that
matters; the watermark only drops rows on unbounded late arrivals).

Scale notes: the windowed agg keeps one state row per (window,
event_type) in the state store — bounded by cardinality, not input
volume; watermark "1 hour" bounds state retention on a real unbounded
source (Kafka); `maxFilesPerTrigger` would shard a 100 TB backfill into
incremental batches with identical results.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from ..session import scoped


def staged_events_stream(spark: SparkSession, sf_dir: str):
    """readStream over the events fixture; returns (stream_df, stage_dir).

    FileStreamSource requires a DIRECTORY (it derives basePath from
    it); the fixture is a single parquet file, so stage a symlink dir —
    exactly how an unbounded ingest dir would look in production. Same
    TIMESTAMP(NANOS) workaround as sources/io.py: read ns as long,
    convert to timestamp in-plan (lossless at fixture precision).
    Remove stage_dir once the stream has terminated.

    The stream is built on a child of ``spark`` holding the legacy
    nanos-as-long conf (``session.scoped``), so every query started from
    it runs with that conf; the child also keeps any conf ``spark``
    itself was scoped to (a state-store count, say)."""
    stage = tempfile.mkdtemp(prefix="stream_events_")
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    os.symlink(src, f"{stage}/events.parquet")
    # The fixture's physical ts type has varied across driver
    # generations: TIMESTAMP(NANOS) (Spark reads it only as bigint,
    # under the legacy nanosAsLong conf) vs plain TIMESTAMP(US, no tz)
    # (reads as TIMESTAMP_NTZ). readStream needs the matching declared
    # schema up front — branch on the parquet footer, then normalize to
    # the session-tz TIMESTAMP type in-plan (UTC session zone makes the
    # NTZ cast value-identical; the ns->us division is lossless at the
    # fixture's microsecond precision).
    import pyarrow.parquet as _pq

    ts_is_nanos = str(_pq.read_schema(src).field("ts").type) == "timestamp[ns]"
    raw_ts = "bigint" if ts_is_nanos else "timestamp_ntz"
    raw_schema = (
        f"event_id bigint, ts {raw_ts}, user_id bigint, "
        "event_type string, value double, props string"
    )
    spark = scoped(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
    stream = spark.readStream.schema(raw_schema).parquet(stage)
    if ts_is_nanos:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream, stage


def drain_to_memory(agg: DataFrame, stage: str, mode: str) -> list:
    """Run a streaming aggregate with availableNow into a throwaway
    memory sink, collect its rows, and clean up the sink table and the
    staging dir. The query runs on the session ``agg`` was built on,
    which also holds the sink's view."""
    import shutil
    import uuid as _uuid

    spark = agg.sparkSession
    sink = f"sink_{_uuid.uuid4().hex[:8]}"
    q = None
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(sink).collect()
    finally:
        # a failed stream must not leak the query, sink view, or stage dir
        if q is not None and q.isActive:
            q.stop()
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        shutil.rmtree(stage, ignore_errors=True)


def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(events) -> watermark -> 1-day window x event_type agg,
    drained with availableNow into a memory sink; returns the sink."""
    stream, stage = staged_events_stream(spark, sf_dir)
    stream = stream.withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value"), 2, 2).alias("total_value"),
        )
        .select(
            F.to_date(F.col("win.start")).alias("ds"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    # Memory-sink contents are driver-local and small (one row per
    # (day, event_type)); snapshot them into a plain DataFrame.
    rows = drain_to_memory(agg, stage, "complete")
    return spark.createDataFrame(
        rows, "ds date, event_type string, n_events bigint, total_value double"
    )


query(
    "streaming_daily_rollup",
    oracle=f"""
SELECT CAST(ts AS DATE) AS ds, event_type,
       COUNT(*) AS n_events,
       {sql_fixed_sum("value", 2, 2)} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming",),
    writes=True,
)(streaming_daily_rollup)
