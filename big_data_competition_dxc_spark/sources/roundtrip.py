"""Source/sink round-trips (SURVEY §2.1 S1–S4, S7; §2.2 P6, P14).

The reference's pipelines constantly materialize to disk and re-ingest:
text sinks + re-parse (流行音乐趋势预测.md:98→106, 257→260), parquet
checkpoints (M:129→132, 156→160), CSV-with-arity-filter ingestion
(M:29-31, 38-40). These queries prove the same round-trips preserve
semantics in our engine: each derives its input from a fixture table,
writes it through the sink under test into a scratch dir, re-reads, and
aggregates — so the DuckDB oracle (which sees only the original
parquet) matches exactly iff the round-trip is lossless.

Scale notes: the parquet checkpoint writes `partitionBy(ds)` — the
layout that gives partition pruning on the re-read (the reference's
`repartition(1)` single-file habit is the anti-pattern we replace,
SURVEY §4). Writers shown here run `coalesce(1)` ONLY because the
fixture output is tiny; the partitioned form is the 100 TB path.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fixed_sum, sql_fixed_sum
from ..plans.registry import query
from . import load, table_sql

@contextlib.contextmanager
def _scratch_dir(prefix: str) -> Iterator[str]:
    """mkdtemp that is ALWAYS removed, even when the write/read/collect
    under test raises — a failed round-trip must not leak scratch dirs
    into /tmp across a long driver session."""
    out = tempfile.mkdtemp(prefix=prefix)
    try:
        yield out
    finally:
        shutil.rmtree(out, ignore_errors=True)


_ORDERS_AGG_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@query(
    "csv_roundtrip_malformed",
    oracle=_ORDERS_AGG_ORACLE,
    tags=("S1", "S4", "P6", "P14"),
    writes=True,
)
def csv_roundtrip_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S4 (M:29-31 textFile→split→arity filter; M:98 saveAsTextFile):
    export orders to CSV, append malformed short/long/bad-typed rows,
    re-ingest with the reference's LITERAL parse shape — text lines →
    split(",") → arity filter (P6, `filter(e.length==4)` M:40) → typed
    casts (P14) with cast-failure rows dropped (what CSV DROPMALFORMED
    does for type errors; token-count errors need the explicit arity
    filter on modern Spark, which is permissive about them). Oracle sees
    only the clean parquet — parity holds iff all three dirty rows are
    dropped and types survive the text round-trip."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    with _scratch_dir("csv_rt_") as out:
        orders.coalesce(1).write.mode("overwrite").csv(out)
        # Inject malformed rows (wrong arity / wrong types) — the
        # reference's raw inputs contained these and silently dropped
        # them (M:31, M:40).
        part = next(p for p in os.listdir(out) if p.startswith("part-"))
        with open(f"{out}/{part}", "a") as f:
            f.write("garbage,row\n")
            f.write("1,2,3,4,5,6,7,8,9\n")
            f.write("notanint,5,O,1.0\n")
        # drop Hadoop's checksum sidecars — stale after the append
        for p in os.listdir(out):
            if p.endswith(".crc"):
                os.remove(f"{out}/{p}")
        lines = spark.read.text(out)
        parts = F.split(F.col("value"), ",")
        parsed = (
            lines.filter(F.size(parts) == 4)  # P6: the arity filter, verbatim
            .select(
                # try_cast: ANSI mode throws on bad input; NULL-then-drop
                # reproduces the reference's silent bad-row behavior (P14)
                parts[0].try_cast("long").alias("o_orderkey"),
                parts[1].try_cast("long").alias("o_custkey"),
                parts[2].alias("o_orderstatus"),
                parts[3].try_cast("double").alias("o_totalprice"),
            )
            .filter(F.col("o_orderkey").isNotNull())  # cast-failure drop
        )
        agg = parsed.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, total_price double"
    )


@query(
    "parquet_partitioned_roundtrip",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_fixed_sum('value', 2, 2)} AS total_value
  FROM events GROUP BY 1, 2
)
SELECT ds, CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       {sql_fixed_sum('total_value', 2, 2)} AS total_value
FROM daily WHERE ds >= DATE '2024-01-10' GROUP BY ds
""",
    bench=True,
    tags=("S2", "S3", "P3"),
    writes=True,
)
def parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3 (M:129→132 write.parquet / read.parquet checkpoint), done
    the scale-correct way: `repartition(ds)` THEN `partitionBy(ds)` on
    write — without the repartition every shuffle task holding rows for
    a date writes its own file, an O(tasks x days) small-files fanout
    that is NameNode/listing pressure at 100 TB. With it, each date's
    rows land in one task, so each ds directory holds exactly one file
    (asserted in test_plans). The re-read's `ds >=` filter prunes whole
    partitions — vs the reference's repartition(1) single file."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("ds"), "event_type").agg(
        F.count("*").alias("n_events"),
        fixed_sum(F.col("value"), 2, 2).alias("total_value"),
    )
    with _scratch_dir("pq_rt_") as out:
        daily.repartition("ds").write.mode("overwrite").partitionBy("ds").parquet(out)
        back = spark.read.parquet(out)
        agg = (
            back.filter(F.col("ds") >= F.lit("2024-01-10").cast("date"))
            .groupBy("ds")
            .agg(
                F.count("*").alias("n_types"),
                F.sum("n_events").alias("n_events"),
                fixed_sum(F.col("total_value"), 2, 2).alias("total_value"),
            )
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows, "ds date, n_types bigint, n_events bigint, total_value double"
    )


@query(
    "local_rows_to_df",
    oracle="""
WITH ranges AS (
  SELECT * FROM (VALUES ('small', 0.0, 100.0), ('mid', 100.0, 150.0),
                        ('large', 150.0, 1e9)) AS t(bucket, lo, hi)
)
SELECT r.bucket, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN ranges r ON e.value >= r.lo AND e.value < r.hi
GROUP BY r.bucket
""",
    tags=("S7", "J3"),
)
def local_rows_to_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (D:91-93 sc.makeRDD of driver-local results): lift a small
    driver-side list into a DataFrame (createDataFrame), broadcast it as
    a range-condition dim against the fact table — the standard pattern
    for driver-computed lookup tables."""
    ranges = spark.createDataFrame(
        [("small", 0.0, 100.0), ("mid", 100.0, 150.0), ("large", 150.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    ev = load(spark, sf_dir, "events")
    return (
        ev.join(
            F.broadcast(ranges),
            (ev.value >= ranges.lo) & (ev.value < ranges.hi),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "sql_templated_peek",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE event_type = 'purchase'
ORDER BY event_id
LIMIT 1
""",
    tags=("F16", "O4", "P2", "S5"),
)
def sql_templated_peek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 (D:95 String.format SQL) + O4 (first()/peek, M:133 etc.):
    parameterized spark.sql — named-parameter binding instead of the
    reference's injection-prone string template — returning the first
    row by deterministic order."""
    return table_sql(
        spark,
        sf_dir,
        """
        SELECT event_id, user_id, event_type, value
        FROM {events} WHERE event_type = :etype
        ORDER BY event_id LIMIT 1
        """,
        args={"etype": "purchase"},
    )


@query(
    "partition_overwrite_backfill",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
patched AS (
  SELECT ds, event_type,
         CASE WHEN ds = DATE '2024-01-05' THEN n_events * 2 ELSE n_events END
           AS n_events
  FROM daily
)
SELECT ds, CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM patched GROUP BY ds
""",
    tags=("S2", "S3", "P3"),
    writes=True,
)
def partition_overwrite_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill — the production write pattern a
    daily pipeline needs: write the full partitioned table, then
    re-run ONE day (here with doubled counts, standing in for a
    corrected recompute) in dynamic partitionOverwriteMode. Only that
    day's partition is replaced; every other partition must be
    byte-identical to the first write (the oracle computes the expected
    patched state). Static mode — the default — would have wiped the
    whole table."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("ds"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    with _scratch_dir("pq_backfill_") as out:
        daily.write.mode("overwrite").partitionBy("ds").parquet(out)
        patch = daily.filter(
            F.col("ds") == F.lit("2024-01-05").cast("date")
        ).withColumn("n_events", F.col("n_events") * 2)
        # dynamic mode, for this write only: ONLY the ds=2024-01-05
        # partition is replaced
        (
            patch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ds")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        agg = back.groupBy("ds").agg(
            F.count("*").alias("n_types"), F.sum("n_events").alias("n_events")
        )
        rows = agg.collect()
    return spark.createDataFrame(rows, "ds date, n_types bigint, n_events bigint")


@query(
    "json_roundtrip_source",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders
GROUP BY 1, 2
""",
    tags=("S1", "S4", "json"),
    writes=True,
)
def json_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines as a source/sink format (the S1/S4 surface beyond CSV
    and parquet): export orders to JSONL, re-ingest with an EXPLICIT
    schema — schema inference on JSON costs a full extra pass at 100 TB
    and types drift per-file — and aggregate. Doubles survive the text
    round-trip exactly (Spark writes shortest-roundtrip decimals), so
    the oracle over the pristine parquet must hash-match."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with _scratch_dir("json_rt_") as out:
        orders.write.mode("overwrite").json(out)
        back = spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_orderpriority string, "
            "o_totalprice double"
        ).json(out)
        agg = back.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, o_orderpriority string, n_orders bigint, "
        "total_price double",
    )


@query(
    "orc_roundtrip",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders
GROUP BY 1
""",
    tags=("S2", "S3", "format"),
    writes=True,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 widened to the ORC columnar format (built into Spark, no
    extra packages): orders written as ORC, re-read, rolled up — the
    interchange path for warehouses standardized on ORC (Hive-era
    lakes) rather than parquet. The oracle aggregates the pristine
    table, so any write/read fidelity loss (types, nulls, encodings)
    breaks the hash. ORC carries the same columnar pruning/pushdown
    properties as parquet at 100 TB; the repo's parquet-first layout
    is a compression/tooling preference, not a correctness one."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    with _scratch_dir("orc_rt_") as out:
        orders.write.mode("overwrite").orc(out)
        back = spark.read.orc(out)
        agg = back.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows, "o_orderpriority string, n_orders bigint, total_price double"
    )


@query(
    "xml_roundtrip_source",
    oracle=f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM orders
GROUP BY 1
""",
    tags=("S1", "S4", "xml"),
    writes=True,
)
def xml_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4 widened to Spark 4's NATIVE XML source (rowTag-based, no
    external package — the format enterprise feeds still arrive in):
    orders exported as <row> elements, re-ingested with an EXPLICIT
    schema (XML schema inference costs a full extra pass at 100 TB,
    same argument as JSON), rolled up; the oracle aggregates the
    pristine parquet, so any write/read fidelity loss — type coercion,
    escaping, null handling — breaks the hash. At scale XML is an
    INGEST format only: the first job rewrites it columnar, because a
    rowTag text scan supports neither column pruning nor predicate
    pushdown."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with _scratch_dir("xml_rt_") as out:
        orders.write.mode("overwrite").format("xml").option("rowTag", "row").save(
            out
        )
        back = (
            spark.read.schema(
                "o_orderkey long, o_orderstatus string, o_totalprice double"
            )
            .format("xml")
            .option("rowTag", "row")
            .load(out)
        )
        agg = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, total_price double"
    )


@query(
    "schema_evolution_merge",
    oracle=f"""
WITH unified AS (
  SELECT o_orderstatus, o_totalprice,
         CASE WHEN o_orderkey % 2 = 1
              THEN CAST(year(o_orderdate) AS BIGINT) END AS o_year
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(o_year) AS BIGINT) AS n_with_year,
       {sql_fixed_sum('o_totalprice', 2, 2)} AS total_price
FROM unified
GROUP BY 1
""",
    tags=("S2", "S3", "format", "evolution"),
    writes=True,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch (even
    order keys) lacks the ``o_year`` column a later batch (odd keys)
    added; ``mergeSchema=true`` unions the footers so old rows surface
    NULL for the new column — the append-only ingest reality of any
    long-lived dataset. The rollup counts rows carrying the evolved
    column per status, proving no row or value is lost across the
    merge. At 100 TB, schema merge is a FOOTER operation (one small
    read per file's metadata), not a data rewrite; pinning
    mergeSchema per-read (not globally) keeps unevolved scans cheap."""
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    with _scratch_dir("evolve_") as out:
        old.write.mode("overwrite").parquet(f"{out}/batch=1")
        new.write.mode("overwrite").parquet(f"{out}/batch=2")
        back = spark.read.option("mergeSchema", "true").parquet(out)
        agg = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.count("o_year").alias("n_with_year"),
            fixed_sum(F.col("o_totalprice"), 2, 2).alias("total_price"),
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, n_orders bigint, n_with_year bigint, "
        "total_price double",
    )


@query(
    "small_file_compaction",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, user_id, value FROM events
)
SELECT CAST(COUNT(DISTINCT ds) AS BIGINT) AS n_files_after,
       CAST(COUNT(DISTINCT ds) AS BIGINT) AS n_partitions,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_fixed_sum('value', 2, 2)} AS total_value
FROM daily
""",
    tags=("S2", "S3", "compaction", "scale"),
    writes=True,
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files maintenance operation every long-lived 100 TB
    table needs: an ingest layout scattered into many files per date
    partition (here: hash-partitioned by user_id across writers, the
    streaming-ingest shape) is compacted by `repartition(N, ds)` +
    `partitionBy(ds)` so each date directory collapses to exactly ONE
    file (every ds lands in exactly one shuffle bucket, and only the
    task owning that bucket writes that directory). The query returns
    the POST-compaction file count measured from the filesystem — the
    oracle can state it exactly: one file per distinct day — plus row
    and exact-cents value fidelity across the rewrite. NameNode/
    listing pressure is the 100 TB motivation: file count per query
    drops from O(writers x days) to O(days)."""
    import glob

    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("ds"), "user_id", "value"
    )
    n_days = ev.select("ds").distinct().count()
    with _scratch_dir("compact_") as out:
        # messy ingest: one file per (writer-bucket, ds) pair
        ev.repartition(8, "user_id").write.partitionBy("ds").parquet(f"{out}/ingest")
        # compaction: read the messy layout back, rewrite one file per ds
        back = spark.read.parquet(f"{out}/ingest")
        back.repartition(n_days, "ds").write.partitionBy("ds").parquet(
            f"{out}/compact"
        )
        files = glob.glob(f"{out}/compact/ds=*/part-*.parquet")
        dirs = glob.glob(f"{out}/compact/ds=*")
        compacted = spark.read.parquet(f"{out}/compact")
        agg = compacted.agg(
            F.count("*").alias("n_rows"),
            fixed_sum(F.col("value"), 2, 2).alias("total_value"),
        )
        [r] = agg.collect()
    return spark.createDataFrame(
        [(len(files), len(dirs), r["n_rows"], r["total_value"])],
        "n_files_after bigint, n_partitions bigint, n_rows bigint, "
        "total_value double",
    )


_BINARYFILE_ORACLE = """
SELECT 'nation_' || CAST(n_nationkey AS VARCHAR) || '.bin' AS file_name,
       CAST(strlen(n_name || '|' || CAST(n_regionkey AS VARCHAR)) AS BIGINT)
         AS n_bytes,
       md5(n_name || '|' || CAST(n_regionkey AS VARCHAR)) AS content_md5
FROM nation
"""


@query(
    "binaryfile_ingest_audit",
    oracle=_BINARYFILE_ORACLE,
    tags=("S1", "multimodal"),
    writes=True,
)
def binaryfile_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source as the multimodal RAW-INGESTION
    seam: images/audio/video land on a filesystem as opaque files
    before they are ever parquet columns, and
    ``spark.read.format("binaryFile")`` is the built-in, JVM-side,
    partition-parallel way to lift them into (path, length, content)
    rows — the step upstream of every multimodal/binary_ops.py decode
    pipeline. At 100 TB the reader distributes per-file (a directory of
    media shards scans like any other splittable source, one task per
    file) with no Python in the scan.

    Oracle design: the file CONTENT is derived deterministically from
    the ``nation`` table (name|regionkey as UTF-8, one file per key,
    scale-invariant 25 rows at every sf), so the DuckDB oracle recomputes
    the full audit — byte length and md5 — from the TABLE without ever
    seeing the scratch files; parity holds iff the binary round-trip is
    byte-lossless. Spark's ``md5`` hashes the raw bytes; DuckDB's
    ``md5(VARCHAR)`` hashes the same UTF-8 bytes; ``strlen`` is
    DuckDB's byte (not character) length, matching binaryFile's
    ``length``."""
    src = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # 25 rows at every sf — bounded driver materialization
    )
    with _scratch_dir("binfile_") as out:
        for r in src:
            payload = f"{r.n_name}|{r.n_regionkey}".encode("utf-8")
            with open(os.path.join(out, f"nation_{r.n_nationkey}.bin"), "wb") as f:
                f.write(payload)
        audited = spark.read.format("binaryFile").load(out).select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        rows = audited.collect()
    return spark.createDataFrame(
        rows, "file_name string, n_bytes bigint, content_md5 string"
    )
