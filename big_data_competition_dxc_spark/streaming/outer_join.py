"""Stream-stream LEFT OUTER join with watermark-driven NULL emission.

stream_stream_attribution_join (sessionize.py) exercises the INNER
interval join; the operationally harder case is the OUTER side: "every
purchase, attributed to a preceding click IF one exists, else NULL" —
the engine must hold each purchase in state until the watermark proves
no matching click can still arrive, then emit the NULL row. That
state-expiry path is exactly what an unbounded-condition outer join
can never do (state explosion), so this query is the canonical probe
that the time bound + watermark actually reach the state store.

Bounded-fixture determinism: Spark only emits outer NULLs for state
strictly older than the FINAL watermark, and the global watermark is
the MIN over both inputs' (max event time - delay) — so the closed
horizon must be derived from the per-side maxima, not the global max
(the last click can trail the last purchase by hours in the fixture).
BOTH engines restrict emitted purchases to

    p_ts <= least(max click ts, max purchase ts) - HORIZON_HOURS

with HORIZON_HOURS > the 1-hour watermark delay; every such purchase
is provably below the final watermark and therefore flushed before an
availableNow run terminates. Crucially the cutoff filters the JOIN
OUTPUT, not the purchase input — filtering the input would shift that
side's watermark back by the same amount and re-open the race (found
empirically: 4 withheld NULL rows at sf0.01). The oracle is then a
plain batch LEFT JOIN with the identical horizon predicate.

Scale notes (100 TB stream): state per side is bounded by (delay +
join interval) of input, not total history; the 1-hour watermark means
a click is evictable once no purchase within {ATTRIB_MINUTES} minutes
of it can still arrive. Without the interval bound the click state
would grow with the whole stream — the bug this query exists to show
is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources import load
from .confscope import scaled_state_partitions, state_scope
from .rollup_stream import drain_to_memory, staged_events_stream
from .sessionize import ATTRIB_MINUTES

WATERMARK = "1 hour"
# output horizon below the final watermark: > the 1h delay, with an
# extra hour of margin over eviction strictness
HORIZON_HOURS = 2


@query(
    "stream_stream_outer_attribution",
    oracle=f"""
WITH horizon AS (
  SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
               max(ts) FILTER (WHERE event_type = 'purchase'))
         - INTERVAL {HORIZON_HOURS} HOUR AS cutoff
  FROM events
)
SELECT p.event_id AS purchase_id, p.user_id,
       c.event_id AS click_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_seconds
FROM events p
LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL {ATTRIB_MINUTES} MINUTE
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
  AND p.ts <= (SELECT cutoff FROM horizon)
""",
    tags=("streaming", "J2", "P10"),
    writes=True,
)
def stream_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every closed-horizon purchase with its attributing clicks, or a
    NULL click row when the watermark proved none exists. availableNow
    over the bounded fixture must equal the batch LEFT JOIN (oracle)."""
    # the closed horizon is computed from the BATCH view of the same
    # table (one tiny scalar) and applied identically on both sides
    ev = load(spark, sf_dir, "events")
    cutoff = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr(f"interval {HORIZON_HOURS} hours")
        ).alias("c")
    ).collect()[0]["c"]

    # Size-derived state partitioning — same rationale and oracle pin
    # as stream_stream_attribution_join (confscope.scaled_state_partitions):
    # scaling key domain, so the store count follows input bytes
    # instead of a constant; NULL emission depends only on the global
    # watermark, which is partition-count independent.
    n_state = scaled_state_partitions(spark, f"{sf_dir}/events.parquet")
    stream, stage = staged_events_stream(state_scope(spark, n_state), sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    joined = (
        purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr(f"interval {ATTRIB_MINUTES} minutes")
            )
            & (F.col("c_ts") <= F.col("p_ts")),
            "left_outer",
        )
        # OUTPUT-side horizon: stateless filter after the stateful join,
        # so the purchase-side watermark still tracks the raw stream
        .filter(F.col("p_ts") <= F.lit(cutoff))
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias(
                "lag_seconds"
            ),
        )
    )
    rows = drain_to_memory(joined, stage, "append")
    return spark.createDataFrame(
        rows, "purchase_id bigint, user_id bigint, click_id bigint, lag_seconds bigint"
    )
