"""State Data Source reader — offline inspection of streaming state.

Spark 4's ``statestore`` / ``state-metadata`` read formats open a
Structured Streaming CHECKPOINT as ordinary DataFrames: every state-
store row (grouping key, aggregation buffer, partition) and the
operator/batch metadata, readable without touching the running query.
At 100 TB this is the observability seam a stateful pipeline needs —
auditing state growth per key, debugging watermark-vs-state disputes,
and validating exactly-once claims by diffing state against a batch
recomputation, all with plain SQL over the checkpoint instead of
replaying the stream.

The registered query does exactly that end-to-end audit: it runs the
running per-``event_type`` aggregate (count + exact integer-cent sum)
over the staged events stream with an availableNow drain, then reads
the CHECKPOINT's state store offline and returns the state content
itself — which must equal the batch aggregate the DuckDB oracle
computes from the raw table. Parity holds iff the state backend
persisted every update exactly once and the reader decodes the
aggregation buffers faithfully.

Determinism: the state value's sum buffer accumulates exact
DECIMAL(38,0) cents (functions/rounding.to_units), so the state
content is independent of batch boundaries, partition layout, and
engine — byte-identical to the oracle's integer-cent sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import to_units
from ..plans.memos import local
from ..plans.registry import query
from .confscope import state_scope
from .rollup_stream import run_stream, staged_events_stream

#: The state key domain: event_type is a 5-value schema constant, so
#: the stateful aggregation needs 8, not 32, state stores per
#: micro-batch commit (see confscope.py — scale-independent; the agg
#: exchange only ever carries ≤domain-size map-side partials). 8 not 5
#: so a future fixture event type has headroom without a re-tune.
STATE_PARTITIONS = 8


@query(
    "statestore_reader_audit",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38,0)))
            AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
""",
    tags=("streaming", "extension", "A9"),
    writes=True,
)
def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the per-event_type running aggregate over the events
    stream (availableNow, explicit checkpoint), then read the
    checkpoint's state store OFFLINE via the ``statestore`` data
    source and return the decoded state — key plus the count and
    exact-cents sum buffers. Must equal the oracle's batch aggregate
    over the raw table: the exactly-once state audit, computed from
    the checkpoint rather than the sink."""
    with staged_events_stream(state_scope(spark, STATE_PARTITIONS), sf_dir) as stream:
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(to_units(F.col("value"), 2)).alias("cents"),
        )
        # the sink is only the drain target: the rows come from the
        # checkpoint, so nothing needs to hold them
        writer = (
            agg.writeStream.format("noop")
            .outputMode("complete")
            .trigger(availableNow=True)
        )
        with run_stream(writer) as q:
            q.awaitTermination()
            # the offline read: state rows decoded from the checkpoint
            # run_stream gave the query, NOT from a sink
            ckpt = q._jsq.streamingQuery().resolvedCheckpointRoot()
            state = spark.read.format("statestore").load(ckpt)
            return local(
                spark,
                state.select(
                    F.col("key.event_type").alias("event_type"),
                    F.col("value.count").cast("bigint").alias("n_events"),
                    F.col("value.sum").cast("bigint").alias("total_cents"),
                ),
            )
