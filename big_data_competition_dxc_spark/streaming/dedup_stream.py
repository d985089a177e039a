"""Streaming deduplication with bounded state
(``dropDuplicatesWithinWatermark``).

The streaming member of the dedup family (dedup/exact.py is the batch
form): an ingest stream carries replayed rows — at-least-once sources
re-deliver — and the pipeline must emit each event once WITHOUT keeping
every seen key forever. The watermark is what makes that possible at
100 TB: state for an event_id is dropped once the watermark passes it,
so state size tracks the out-of-orderness horizon (here 1 hour), not
the stream's lifetime. A plain ``dropDuplicates`` on a stream never
evicts — the classic unbounded-state bug this operator exists to fix.

The fixture has no duplicate event_ids, so staging injects them: every
event of a slice of users is written twice. The oracle is then simply
the original events table — bounded replay in, exactly-once out.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources import load
from .confscope import scaled_state_partitions, state_scope
from .rollup_stream import drain_to_memory

DUP_USERS_BELOW = 30


@query(
    "stream_dedup_watermark",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
    tags=("streaming", "dedup", "A7"),
    writes=True,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once over an at-least-once stream: events of users below
    {DUP_USERS_BELOW} are replayed (written twice into the staged ingest
    dir), and dropDuplicatesWithinWatermark('event_id') under a 1-hour
    watermark removes the replays with per-key state that the watermark
    retires. availableNow over the bounded input must reproduce the
    pristine events table."""
    stage = tempfile.mkdtemp(prefix="stream_dedup_")
    in_dir = os.path.join(stage, "in")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # at-least-once ingest: one clean copy + a replayed slice
    ev.unionAll(ev.filter(F.col("user_id") < DUP_USERS_BELOW)).write.parquet(in_dir)
    # Size-derived state partitioning — same rationale and oracle pin
    # as the stream-stream joins (confscope.scaled_state_partitions):
    # the dedup key domain (event ids) scales with data, so the store
    # count follows input bytes; dedup state lives within a key's hash
    # partition, so the emitted row set is partition-count independent.
    spark = state_scope(spark, scaled_state_partitions(spark, in_dir))
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    deduped = (
        spark.readStream.schema(schema)
        .parquet(in_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    rows = drain_to_memory(deduped, stage, "append")
    return spark.createDataFrame(rows, schema)


from ..operators.behavior import HOP_S, WIN_S

_HOPPING_STREAM_ORACLE = f"""
SELECT make_timestamp(ws * 1000000) AS window_start,
       make_timestamp((ws + {WIN_S}) * 1000000) AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT unnest([CAST(floor(epoch(ts) / {HOP_S}) AS BIGINT) * {HOP_S},
                 CAST(floor(epoch(ts) / {HOP_S}) AS BIGINT) * {HOP_S} - {HOP_S}]) AS ws
  FROM events
)
GROUP BY ws
"""


@query(
    "hopping_window_stream",
    oracle=_HOPPING_STREAM_ORACLE,
    tags=("streaming", "window"),
    writes=True,
)
def hopping_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch hopping-window rollup (operators/behavior.py) run as a
    Structured Streaming plan — SAME ``F.window('6h','3h')`` definition,
    same oracle — proving the batch and streaming deployments of a
    sliding dashboard agree row-for-row on bounded input. Exact
    COUNT(DISTINCT) is a batch-only luxury (streaming rejects it — the
    per-window user sets would be unbounded state), so the stream keeps
    the count measures; approx_count_distinct is the streaming path for
    cardinality."""
    from .rollup_stream import staged_events_stream

    stream, stage = staged_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", f"{WIN_S} seconds", f"{HOP_S} seconds").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )
    rows = drain_to_memory(agg, stage, "complete")
    return spark.createDataFrame(
        rows,
        "window_start timestamp, window_end timestamp, n_events bigint",
    )
