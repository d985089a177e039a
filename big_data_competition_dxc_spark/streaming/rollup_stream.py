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

Every stream in the package runs through this module. ``staged_events_stream``
yields the events stream for a ``with`` block and removes its stage dir
when the block exits; ``run_stream`` starts a query, yields it for the
caller to wait on, and on exit stops it and releases what it
registered: its scratch checkpoint, a memory sink's view, and the
listener bus its session clone added to the context.
``drain_to_memory`` is the memory-sink drain most streaming queries
use. A query's rows come back as a local frame, so nothing it made
outlives the request.

Scale notes: the windowed agg keeps one state row per (window,
event_type) in the state store — bounded by cardinality, not input
volume; watermark "1 hour" bounds state retention on a real unbounded
source (Kafka); `maxFilesPerTrigger` would shard a 100 TB backfill into
incremental batches with identical results.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.memos import local
from ..plans.registry import query
from ..session import scoped, scratch_dir


@contextmanager
def staged_events_stream(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
    """readStream over the events fixture, for the ``with`` block.

    FileStreamSource requires a DIRECTORY (it derives basePath from
    it); the fixture is a single parquet file, so stage a symlink dir —
    exactly how an unbounded ingest dir would look in production. Same
    TIMESTAMP(NANOS) workaround as sources/io.py: read ns as long,
    convert to timestamp in-plan (lossless at fixture precision).
    The stage dir is a scratch dir, removed when the block exits, so a
    query over the stream must finish inside the block.

    The stream is built on a child of ``spark`` holding the legacy
    nanos-as-long conf (``session.scoped``), so every query started from
    it runs with that conf; the child also keeps any conf ``spark``
    itself was scoped to (a state-store count, say)."""
    with scratch_dir("stream_events_") as stage:
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
        yield stream


@contextmanager
def run_stream(writer: DataStreamWriter) -> Iterator[StreamingQuery]:
    """Start ``writer``'s query and yield it; the caller waits for it
    (``awaitTermination``, or ``processAllAvailable``).

    This is the package's one way to run a stream. Its checkpoint lives
    in a scratch dir: Spark deletes a temporary checkpoint of its own
    only after a run with no error. On every way out of the block the
    query is stopped, a memory sink's view (named by ``queryName``) is
    dropped, and the listener bus that the query's session clone added
    to the context is removed: a stateful query makes the clone's
    streaming manager, whose bus would otherwise stay on the context's
    listener bus for good, one per run. The bus is taken from the query
    itself, never found by diffing the context's listeners, because
    other requests run streams at the same time."""
    with scratch_dir("stream_ckpt_") as ckpt:
        q = writer.option("checkpointLocation", ckpt).start()
        try:
            yield q
        finally:
            q.stop()
            jq = q._jsq
            if q.name is not None:
                jq.sparkSession().catalog().dropTempView(q.name)
            clone = jq.streamingQuery().sparkSessionForStream()
            clone.sparkContext().listenerBus().removeListener(clone.streams().listenerBus())


def drain_to_memory(spark: SparkSession, agg: DataFrame, mode: str) -> DataFrame:
    """Run a streaming aggregate with availableNow into a throwaway
    memory sink and return its rows as a local frame of ``spark``
    (``plans.memos.local``). The query runs on the session ``agg`` was
    built on, which also holds the sink's view."""
    sink = f"sink_{uuid.uuid4().hex[:8]}"
    writer = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    with run_stream(writer) as q:
        q.awaitTermination()
        return local(spark, agg.sparkSession.table(sink))


def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(events) -> watermark -> 1-day window x event_type agg,
    drained with availableNow into a memory sink; returns the sink."""
    with staged_events_stream(spark, sf_dir) as stream:
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
        return drain_to_memory(spark, agg, "complete")


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
