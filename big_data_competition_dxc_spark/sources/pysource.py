"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API).

The reference's only extension seam is ``sc.textFile`` + hand parsing
(流行音乐趋势预测.md:29-31); Spark 4's Python DataSource API is the
modern engine-extension point for the same need — wrapping an internal
feed, an API, or a bespoke format as a FIRST-CLASS parallel source
with a declared schema, partition planning, and pushed-down
``spark.read`` ergonomics.

``DeterministicFeedSource`` simulates such a feed: N_ROWS records
sharded into N_PARTS planned partitions (``partitions()`` returns one
``InputPartition`` per shard, so the read parallelizes across
executors exactly like a file source's splits); each record is
(id, md5-of-id) computed INSIDE the partition reader — pure Python,
per-partition, no driver materialization. The registered query
aggregates the feed by id-suffix bucket and hash prefix, verified
against DuckDB computing the identical md5 over ``range()`` — proving
the Python-side reader produced byte-identical content, not just the
right row count.

Scale notes: each partition generates/fetches only its own slice
(constant driver memory); this is the blueprint for a 100 TB custom
ingest — plan splits in ``partitions()``, stream rows in ``read()``.
The Python reader is the slow path by design (Arrow-less row
iteration): right for wrapping sources Spark can't read natively,
wrong for data that already sits in parquet — which is why every
fixture table in this repo loads via ``spark.read.parquet`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..plans.registry import query

N_ROWS = 10_000
N_PARTS = 8


class _FeedPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class DeterministicFeedReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", N_ROWS))
        self.n_parts = int(options.get("n_parts", N_PARTS))

    def partitions(self):
        step = -(-self.n_rows // self.n_parts)  # ceil division
        return [
            _FeedPartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _FeedPartition):
        import hashlib

        for i in range(partition.start, partition.end):
            yield i, hashlib.md5(str(i).encode()).hexdigest()


class DeterministicFeedSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "deterministic_feed"

    def schema(self) -> str:
        return "id bigint, digest string"

    def reader(self, schema) -> DataSourceReader:
        return DeterministicFeedReader(self.options)


@query(
    "python_datasource_feed",
    oracle=f"""
SELECT CAST(i % 10 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(i) AS BIGINT) AS id_sum,
       MIN(md5(CAST(i AS VARCHAR))) AS min_digest,
       MAX(md5(CAST(i AS VARCHAR))) AS max_digest
FROM range({N_ROWS}) t(i)
GROUP BY 1
""",
    tags=("S1", "A1", "extension"),
)
def python_datasource_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the custom Python datasource and aggregate per id-suffix
    bucket; min/max digest per bucket pins the Python reader's content
    byte-for-byte against DuckDB's md5 over the same id range."""
    # Registered on the caller's session, not a child's: registration
    # checks the name against the JVM thread's active session, so a
    # child cannot register a source its root already has
    # (DATA_SOURCE_ALREADY_EXISTS), and the child would not see the
    # root's. On the caller's session a repeat replaces the same class.
    spark.dataSource.register(DeterministicFeedSource)
    feed = spark.read.format("deterministic_feed").load()
    return feed.groupBy((F.col("id") % 10).cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("id").cast("bigint").alias("id_sum"),
        F.min("digest").alias("min_digest"),
        F.max("digest").alias("max_digest"),
    )
