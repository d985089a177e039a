"""Sessionization: gap-based event sessions, batch AND streaming.

Beyond the reference surface (its events are daily-batch rows), but the
canonical stateful operator a 100 TB event pipeline needs. Two
implementations of the SAME semantics (30-minute inactivity gap),
cross-checked against one DuckDB gaps-and-islands oracle:

- batch: lag -> new-session flag -> running sum (islands) -> group.
  One window + one agg = two shuffles on user_id.
- streaming: Spark's native ``session_window`` state-store operator,
  drained with availableNow into a memory sink. Run in complete mode
  so the bounded-input result is the full session set (production
  would use a watermark + append and accept that sessions inside the
  watermark horizon stay open; state per key is one open session).

Scale notes: both forms shuffle on user_id only; session state is
bounded by active users, not event volume. Skewed hot users are the
risk — AQE skew splitting for the batch window, state-store partition
count for the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from ..sources import load
from .confscope import scaled_state_partitions, state_scope

GAP_MINUTES = 30

_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL {GAP_MINUTES} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_fixed_sum('value', 2, 2)} AS total_value
FROM sess
GROUP BY user_id, sid
"""


@query("sessionize_batch", oracle=_SESSION_ORACLE, tags=("W1", "A2", "sessionize"))
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands: a new session starts after a
    {GAP_MINUTES}-minute silence; islands numbered by a running sum of
    the new-session flag, then rolled up."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = GAP_MINUTES * 60 * 1_000_000
    # INTEGER microseconds (unix_micros), matching DuckDB's exact
    # µs-resolution INTERVAL compare: a double epoch-seconds cast has
    # ~0.5 µs of ulp noise at 2024 epochs, so a gap landing exactly on
    # the 30-minute boundary could round across the strict `>` and
    # diverge from the oracle (unix_timestamp() is worse — it truncates
    # to whole seconds)
    epoch = F.unix_micros
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch(F.col("ts")) - epoch(F.lag("ts").over(w)) > F.lit(gap_us)),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        fixed_sum(F.col("value"), 2, 2).alias("total_value"),
    ).drop("sid")


@query("sessionize_stream", oracle=_SESSION_ORACLE, tags=("streaming", "sessionize"), writes=True)
def sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with the native ``session_window``
    state-store operator (gap {GAP_MINUTES} min), availableNow over the
    bounded fixture — must produce exactly the batch/oracle session
    set. session_window.start == min(ts); the true last-event time is
    carried as max(ts) (window.end would add the gap)."""
    from .rollup_stream import drain_to_memory, staged_events_stream

    # Size-derived state partitioning — same rationale and oracle pin
    # as the stream-stream joins (confscope.scaled_state_partitions):
    # the session-window key domain (users) scales with data, so the
    # store count follows input bytes instead of a constant; session
    # merging happens within a user's hash partition, so the session
    # set is partition-count independent.
    n_state = scaled_state_partitions(spark, f"{sf_dir}/events.parquet")
    with staged_events_stream(state_scope(spark, n_state), sf_dir) as stream:
        agg = (
            stream.groupBy(
                F.session_window("ts", f"{GAP_MINUTES} minutes").alias("win"), "user_id"
            )
            .agg(
                F.max("ts").alias("session_end"),
                F.count("*").alias("n_events"),
                fixed_sum(F.col("value"), 2, 2).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("win.start").alias("session_start"),
                "session_end",
                "n_events",
                "total_value",
            )
        )
        return drain_to_memory(spark, agg, "complete")


ATTRIB_MINUTES = 30


@query(
    "stream_stream_attribution_join",
    oracle=f"""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_seconds
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL {ATTRIB_MINUTES} MINUTE
 AND c.ts <= p.ts
""",
    tags=("streaming", "J2"),
    writes=True,
)
def stream_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click-to-purchase attribution): each
    purchase matched to the same user's clicks in the preceding
    {ATTRIB_MINUTES} minutes. Both sides carry watermarks — the time
    bound is what lets Spark EVICT old click state instead of buffering
    the stream forever (an unbounded-condition stream-stream join is
    the classic state-explosion bug). availableNow over the bounded
    fixture must emit exactly the batch interval-join result (the
    oracle)."""
    from .rollup_stream import drain_to_memory, staged_events_stream

    # Size-derived state partitioning (confscope.scaled_state_partitions):
    # the join key domain SCALES with data, so a constant count is
    # forbidden — instead the store count follows input bytes (floor 4,
    # capped at the session default). At the old session default the
    # availableNow run committed 32 partitions x 4 join stores x 2
    # micro-batches = 256 store commits for ~40k state rows; the
    # zero-input watermark-flush batch alone cost ~5.7s of pure store
    # fan-out. Hash partitioning only decides where a key's state
    # lives — the emitted row set is identical (oracle-pinned).
    n_state = scaled_state_partitions(spark, f"{sf_dir}/events.parquet")
    # one staged dir; both sides read the same file source independently
    with staged_events_stream(state_scope(spark, n_state), sf_dir) as stream:
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"interval {ATTRIB_MINUTES} minutes"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).select(
            "purchase_id",
            "click_id",
            "user_id",
            (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("lag_seconds"),
        )
        return drain_to_memory(spark, joined, "append")
