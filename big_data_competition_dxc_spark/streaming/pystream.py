"""Custom STREAMING Python DataSource (Spark 4
``SimpleDataSourceStreamReader``).

sources/pysource.py wraps a bespoke feed as a batch source; this module
is its streaming sibling — the modern seam for wrapping a tailing API,
a message queue Spark has no connector for, or an internal event feed
as a first-class ``readStream`` source with offsets, checkpointing, and
replay. The reference has no streaming at all (SURVEY §2.9), so like
the rest of streaming/ this is a flagged extension.

``TickFeedSource`` simulates such a feed deterministically: N_BATCHES
offset steps of BATCH_ROWS records each, every record (id, md5(id))
computed inside the reader. Offsets are ``{"next": b}`` dicts, advanced
one step per ``read()``; ``readBetweenOffsets`` replays any committed
range bit-identically (the recovery contract). The registered query
drains the feed through a stateful streaming aggregation and verifies
CONTENT, not just counts: every row's hash must equal the JVM's
``md5(cast(id AS string))``, and the DuckDB oracle recomputes the whole
feed from ``range()`` — proving reader, offset loop, and replay plumbing
produced exactly the declared records.

Scale notes: a simple stream reader reads ON THE DRIVER (Spark
prefetches each slice before planning the micro-batch) — right for
low-rate control feeds, wrong for volume; a high-throughput source
implements ``DataSourceStreamReader`` with ``partitions()`` so
executors fetch in parallel (same split as pysource.py's batch reader).
The drain uses ``processAllAvailable`` rather than availableNow:
admission control on a simple reader sees only the already-prefetched
slice, so an availableNow run stops after ONE offset step (measured:
200 of 1000 rows) — a real-world gotcha worth pinning.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from ..plans.memos import local
from ..plans.registry import query
from .confscope import state_scope
from .rollup_stream import run_stream

# State-store commit fan-out (see confscope.py): the feed's key domain
# is the CONSTANT {N_BUCKETS} buckets, but the session default (32
# shuffle partitions) made every one of the 6 micro-batches commit 32
# snapshot+delta state stores to hold 10 rows. Pinned to the domain
# size, the r14 A/B in the same window read min-of-3 19.2s -> 8.2s.

N_BATCHES = 5
BATCH_ROWS = 200
N_BUCKETS = 10


class TickFeedReader(SimpleDataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"next": 0}

    @staticmethod
    def _rows(b: int) -> list:
        base = b * BATCH_ROWS
        return [
            (base + i, hashlib.md5(str(base + i).encode()).hexdigest())
            for i in range(BATCH_ROWS)
        ]

    def read(self, start: dict):
        b = start["next"]
        if b >= N_BATCHES:  # feed exhausted: same offset = no new data
            return iter([]), start
        return iter(self._rows(b)), {"next": b + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        out: list = []
        for b in range(start["next"], end["next"]):
            out.extend(self._rows(b))
        return iter(out)


class TickFeedSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tickfeed"

    def schema(self) -> str:
        return "id bigint, h string"

    def simpleStreamReader(self, schema):  # noqa: ARG002 (fixed schema)
        return TickFeedReader()


@query(
    "python_datasource_stream",
    oracle=f"""
SELECT i % {N_BUCKETS} AS bucket,
       COUNT(*) AS n,
       MIN(i) AS min_id,
       MAX(i) AS max_id,
       COUNT(*) AS n_verified
FROM range(0, {N_BATCHES * BATCH_ROWS}) t(i)
GROUP BY 1
""",  # n_verified = COUNT(*): every row must verify; the Spark side
    # counts actual Python-hash-vs-JVM-md5 matches, so a content
    # corruption shows up as a value-hash mismatch against this oracle.
    tags=("streaming", "source", "extension"),
    writes=True,
)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the deterministic tick feed through a stateful streaming
    aggregation (complete mode, one state row per bucket): per id-bucket
    counts, id range, and the number of rows whose Python-computed hash
    matches the JVM's md5 of the same id — {N_BATCHES} offset steps x
    {BATCH_ROWS} rows, all verified. (sf_dir unused: the source IS the
    data; the oracle rebuilds the feed from range().)"""
    scope = state_scope(spark, N_BUCKETS)
    scope.dataSource.register(TickFeedSource)
    agg = (
        scope.readStream.format("tickfeed")
        .load()
        .groupBy((F.col("id") % N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum(
                F.when(F.col("h") == F.md5(F.col("id").cast("string")), 1).otherwise(0)
            ).alias("n_verified"),
        )
    )
    sink = f"sink_{uuid.uuid4().hex[:8]}"
    writer = agg.writeStream.format("memory").queryName(sink).outputMode("complete")
    with run_stream(writer) as q:
        # availableNow would stop after the first prefetched slice
        # (see module docstring); processAllAvailable loops
        # micro-batches until read() stops advancing the offset.
        q.processAllAvailable()
        return local(spark, scope.table(sink))
