"""Streaming point-in-time enrichment — leakage-safe feature lookup on
an unbounded label stream (the serving-time complement of the batch
``pit_feature_join`` in operators/feature_pit.py).

The batch PIT join's union + carry-forward window cannot run on a
stream (an unbounded per-user window is exactly the state Structured
Streaming refuses). The Spark-first streaming shape PERIODIZES the
static feature table instead: each per-(user, day) feature snapshot
becomes a validity interval [ds, next_ds) via one lead() window on the
STATIC side, and the strictly-before PIT lookup collapses to a
stateless stream-static join

    label.user_id = f.user_id AND f.ds < label_ds
                              AND (next_ds IS NULL OR label_ds <= next_ds)

— each label row matches EXACTLY ONE period (or none: LEFT join keeps
it with NULL feature, the same no-earlier-feature semantics as the
batch operator). Strictness falls out of the boundaries: a snapshot
taken ON the label's day has ds = label_ds, which fails ds < label_ds,
and its predecessor's interval still admits the label via
label_ds <= next_ds.

100 TB posture: the periodized feature frame is built once per
micro-batch plan from the bounded dimension side and is
broadcast-joinable (per-user-day order spend is dimension-sized, not
event-sized); the label stream never shuffles before the join and the
join keeps NO state store (stateless per-row enrichment — unlike the
stream-stream attribution joins, there is nothing to watermark). On a
bounded drain (availableNow) the result must equal the batch PIT
lookup, which is the full DuckDB oracle (a strict ASOF LEFT JOIN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from ..sources import load
from .rollup_stream import drain_to_memory, staged_events_stream

_PIT_ORACLE = f"""
WITH lbl AS (
  SELECT event_id, user_id, CAST(ts AS DATE) AS label_ds
  FROM events WHERE event_type = 'purchase'
),
fb AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS ds,
         {sql_fixed_sum('o_totalprice', 2, 2)} AS day_spend
  FROM orders GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.label_ds, b.day_spend AS spend_before
FROM lbl l
ASOF LEFT JOIN fb b ON l.user_id = b.user_id AND l.label_ds > b.ds
"""


@query("stream_pit_enrich", oracle=_PIT_ORACLE, tags=("streaming", "J7", "asof"), writes=True)
def stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming purchases enriched with the user's most recent daily
    order spend STRICTLY BEFORE the purchase date, via the periodized
    stream-static range join (module docstring). Stateless — append
    mode, no watermark, no state store."""
    with staged_events_stream(spark, sf_dir) as stream:
        labels = stream.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.to_date("ts").alias("label_ds")
        )
        snap = (
            load(spark, sf_dir, "orders")
            .groupBy(
                F.col("o_custkey").alias("f_user"),
                F.to_date("o_orderdate").alias("ds"),
            )
            .agg(fixed_sum(F.col("o_totalprice"), 2, 2).alias("day_spend"))
        )
        periods = F.broadcast(
            snap.withColumn(
                "next_ds", F.lead("ds").over(Window.partitionBy("f_user").orderBy("ds"))
            )
        )
        enriched = labels.join(
            periods,
            (F.col("user_id") == F.col("f_user"))
            & (F.col("ds") < F.col("label_ds"))
            & (F.col("next_ds").isNull() | (F.col("label_ds") <= F.col("next_ds"))),
            "left",
        ).select("event_id", "user_id", "label_ds", F.col("day_spend").alias("spend_before"))
        return drain_to_memory(spark, enriched, "append")
