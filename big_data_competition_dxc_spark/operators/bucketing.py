"""Shuffle-elimination strategies for fact⋈fact joins at scale:
bucketed co-located joins and deterministic salting for skew.

The reference never manages layout (everything repartition(1),
SURVEY §4); these are the strategies a 100 TB deployment uses instead.
Both queries produce results identical to the plain join (oracle-
verified) — the POINT is the physical plan, which tests/test_plans.py
asserts: the bucketed join has no Exchange, the salted join spreads a
hot key across SALT_BUCKETS shuffle partitions.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from ..session import scoped
from ..sources import load

N_BUCKETS = 8
SALT_BUCKETS = 8
#: Off where a bucketed table is read for bucket-filter pruning; see
#: bucket_pruned_scan_frames.
AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

_BUCKETED_ORACLE = f"""
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_fixed_sum('l.l_extendedprice', 2, 2)} AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""


def bucketed_join_frames(spark: SparkSession, sf_dir: str):
    """Write both fact tables bucketed+sorted on the join key, re-read
    via the catalog, and join — Spark recognizes the co-located layout
    and plans the sort-merge join WITHOUT a shuffle on either side.
    Returns (joined_df, cleanup) — call cleanup() once the result is
    materialized to drop the scratch tables and files. The tables are
    named per call, as the catalog is shared by every session."""
    base = tempfile.mkdtemp(prefix="bucketed_")
    suffix = uuid.uuid4().hex[:8]
    orders, lineitem = f"bt_orders_{suffix}", f"bt_lineitem_{suffix}"

    def cleanup() -> None:
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {orders}")
        spark.sql(f"DROP TABLE IF EXISTS {lineitem}")
        shutil.rmtree(base, ignore_errors=True)

    try:
        for name, src, key in (
            (orders, load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"), "o_orderkey"),
            (lineitem, load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"), "l_orderkey"),
        ):
            (
                src.write.bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", f"{base}/{name}")
                .saveAsTable(name)
            )
        o = spark.table(orders)
        l = spark.table(lineitem)
    except BaseException:
        cleanup()
        raise
    return o.join(l, o.o_orderkey == l.l_orderkey), cleanup


@query("bucketed_colocated_join", oracle=_BUCKETED_ORACLE, tags=("J2", "S2", "S3"), writes=True)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact via bucketed tables: the repeated-join workhorse at
    100 TB — pay the layout shuffle once at write, join shuffle-free
    forever after. Result identical to the plain join (the oracle)."""
    joined, cleanup = bucketed_join_frames(spark, sf_dir)
    try:
        out = joined.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_items"),
            fixed_sum(F.col("l_extendedprice"), 2, 2).alias("revenue"),
        )
        rows = out.collect()
    finally:
        cleanup()
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_items bigint, revenue double"
    )


_SALTED_ORACLE = f"""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_fixed_sum('e.value', 2, 2)} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("salted_skew_join", oracle=_SALTED_ORACLE, tags=("J1", "P11"))
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation by salting, oracle-identical to the plain join:
    the fact side gets a DETERMINISTIC salt (pmod(event_id, n)); the
    dim side is exploded n ways so every (key, salt) pair exists; the
    join key becomes (user_id, salt), spreading any hot user over n
    shuffle partitions. This is the manual fallback when AQE skew
    splitting can't help (e.g. skewed aggregation upstream)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "value", F.pmod("event_id", F.lit(SALT_BUCKETS)).alias("salt")
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("salt"),
    )
    joined = ev.join(
        cust, (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt)
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        fixed_sum(F.col("value"), 2, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Bucket pruning: point/IN-list lookups read 1 of N buckets (r6)
# ---------------------------------------------------------------------------

# keys chosen to exist at every fixture scale (orders are 0..N-1)
_PROBE_KEYS = (11, 42, 77)

_BUCKET_PRUNE_ORACLE = f"""
SELECT o.o_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_fixed_sum('l.l_extendedprice', 2, 2)} AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN {_PROBE_KEYS}
GROUP BY o.o_orderkey
"""


def bucket_pruned_scan_frames(spark: SparkSession, sf_dir: str):
    """Write lineitem bucketed on the key, probe it with an IN-list —
    Spark's scan prunes to the buckets the literals hash into
    (SelectedBucketsCount in the plan), reading 1/{N_BUCKETS} of the
    files per key instead of the whole table. Returns (df, cleanup).

    autoBucketedScan is OFF for this frame (it is built on a child
    session, ``session.scoped``): that heuristic keeps the bucketed read
    only when an operator consumes the bucketed OUTPUT partitioning
    (join/agg shuffle elimination) and is blind to the bucket-FILTER
    read-cost benefit — with it on, this scan plans as
    'Bucketed: false (disabled by query planner)' and reads every file.
    The table is named per call; cleanup() drops it."""
    spark = scoped(spark, {AUTO_BUCKETED_SCAN: "false"})
    base = tempfile.mkdtemp(prefix="bucketprune_")
    table = f"bp_lineitem_{uuid.uuid4().hex[:8]}"

    def cleanup() -> None:
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(base, ignore_errors=True)

    try:
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .write.bucketBy(N_BUCKETS, "l_orderkey")
            .option("path", f"{base}/{table}")
            .saveAsTable(table)
        )
        li = spark.table(table).filter(
            F.col("l_orderkey").isin(*_PROBE_KEYS)
        )
        orders = load(spark, sf_dir, "orders").select("o_orderkey").filter(
            F.col("o_orderkey").isin(*_PROBE_KEYS)
        )
        joined = li.join(
            F.broadcast(orders), li.l_orderkey == orders.o_orderkey
        )
    except BaseException:
        cleanup()
        raise
    return joined, cleanup


@query(
    "bucket_pruned_scan",
    oracle=_BUCKET_PRUNE_ORACLE,
    tags=("S2", "S3", "P9", "scale"),
    writes=True,
)
def bucket_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup revenue for {len(_PROBE_KEYS)} order keys through a
    bucketed layout: the scan hashes each IN-list literal to its bucket
    and reads ONLY those files (SelectedBucketsCount — plan-asserted in
    test_plans), the O(keys) index-like access path a bucketed 100 TB
    fact table gives point queries for free. Complements
    `bucketed_colocated_join` (same layout, shuffle elimination) and
    partition pruning (`parquet_partitioned_roundtrip` — coarse date
    ranges): partitioning prunes by VALUE ranges you chose at write
    time, bucketing prunes by HASH for arbitrary key lookups. The
    oracle computes the same totals from the pristine tables."""
    joined, cleanup = bucket_pruned_scan_frames(spark, sf_dir)
    try:
        agg = joined.groupBy("o_orderkey").agg(
            F.count("*").alias("n_items"),
            fixed_sum(F.col("l_extendedprice"), 2, 2).alias("revenue"),
        )
        rows = agg.collect()
    finally:
        cleanup()
    return spark.createDataFrame(
        rows, "o_orderkey bigint, n_items bigint, revenue double"
    )
