"""Custom Python DataSource WRITER (Spark 4 ``pyspark.sql.datasource``).

The reference's only sink is ``repartition(1).saveAsTextFile``
(流行音乐趋势预测.md:98) — a single-task funnel with no commit
protocol. This module is the modern engine-extension twin of
sources/pysource.py's reader: a first-class PARALLEL sink with the
two-phase commit semantics a 100 TB write needs:

- ``write(iterator)`` runs once per partition on executors, streaming
  rows to a task-unique part file (write-to-temp + rename, no name
  races) and returning a commit message (file name + row count);
- ``commit(messages)`` runs ONCE on the driver after every task
  succeeded, atomically publishing a ``_MANIFEST.json`` that lists
  exactly the committed parts — O(tasks) metadata, never O(rows);
- ``abort(messages)`` removes any parts a failed job left behind;
- readers consume ONLY manifest-listed files, so orphan outputs from
  zombie/speculative tasks are invisible — the registered query plants
  a decoy part file and proves the read-back excludes it.

This is FileOutputCommitter-v2 / Iceberg-snapshot commit semantics in
miniature; on a cluster the part files land in object storage and the
manifest write is the one atomic operation. The local-filesystem form
here keeps the protocol real (temp+rename, manifest-gated visibility)
while staying runnable in local mode.

Determinism: prices cross the text sink as exact integer CENTS
(floor(x*100 + 0.5), the functions/rounding.py unit convention), so
the round-trip aggregate is bit-identical to DuckDB regardless of
partition count, task order, or float formatting.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

from ..plans.registry import query
from . import load
from .roundtrip import _scratch_dir

#: Sink tasks in the demo write (repartition width — the point is a
#: MULTI-part commit; the reference's repartition(1) is the anti-shape).
N_SINK_PARTS = 4

MANIFEST = "_MANIFEST.json"


class _PartCommit(WriterCommitMessage):
    """Per-task commit message: which file this task published and how
    many rows it holds (module-level class: commit messages must
    pickle from executors back to the driver)."""

    def __init__(self, file: str, rows: int):
        self.file = file
        self.rows = rows


class AuditedSinkWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        import uuid

        fname = f"part-{uuid.uuid4().hex}.txt"
        tmp = os.path.join(self.path, f".{fname}.inprogress")
        n = 0
        try:
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(f"{row[0]}|{row[1]}|{row[2]}\n")
                    n += 1
        except BaseException:
            # task-level cleanup: a failing task removes its own temp
            # (the driver-side abort() sweep races with still-dying
            # tasks — this is the deterministic path for the common
            # "upstream computation raised" failure)
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        os.rename(tmp, os.path.join(self.path, fname))
        return _PartCommit(fname, n)

    def _sweep_inprogress(self):
        """Remove temp files from tasks that crashed mid-write: those
        never reached their rename, so no commit message names them and
        abort()'s message-driven removal can't see them. Invisible to
        manifest readers either way, but garbage accumulates across
        retries without this sweep."""
        import glob

        for tmp in glob.glob(os.path.join(self.path, ".*.inprogress")):
            try:
                os.remove(tmp)
            except OSError:
                pass

    def commit(self, messages):
        self._sweep_inprogress()
        manifest = {
            "files": sorted(m.file for m in messages),
            "parts": {m.file: m.rows for m in messages},
            "total_rows": sum(m.rows for m in messages),
        }
        tmp = os.path.join(self.path, f".{MANIFEST}.inprogress")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, os.path.join(self.path, MANIFEST))

    def abort(self, messages):
        self._sweep_inprogress()
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.file))
                except OSError:
                    pass


class AuditedSinkSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "audited_sink"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return AuditedSinkWriter(self.options)


@query(
    "python_datasource_sink",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0)))
            AS BIGINT) AS total_cents
FROM orders
GROUP BY o_orderstatus
""",
    tags=("S4", "S6", "extension"),
    writes=True,
)
def python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip ``orders`` through the custom Python sink: a 4-task
    parallel write with per-task commit messages, a driver-side atomic
    manifest commit, and a planted DECOY part file (a zombie task's
    leftover) that the manifest-gated read-back must ignore. Parity
    with the oracle (which reads the clean parquet directly) holds iff
    the commit protocol published every real row exactly once and
    nothing else."""
    # Registered on the caller's session, not a child's: the writer
    # looks a Python data source up in the JVM thread's active session,
    # not in the session of the frame it writes, so a sink registered on
    # a child is not found (DATA_SOURCE_NOT_FOUND). On the caller's
    # session a repeat replaces the same class.
    spark.dataSource.register(AuditedSinkSource)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    with _scratch_dir("pysink_") as out:
        # a zombie task's orphan: valid-looking name and content, but
        # no commit message ever mentioned it — must stay invisible
        with open(os.path.join(out, "part-deadbeefdecoy.txt"), "w") as f:
            f.write("999999999|Z|123456\n")
        (
            src.repartition(N_SINK_PARTS, "o_orderkey")
            .write.format("audited_sink")
            .option("path", out)
            .mode("append")
            .save()
        )
        with open(os.path.join(out, MANIFEST)) as f:
            manifest = json.load(f)
        files = [os.path.join(out, name) for name in manifest["files"]]
        parts = F.split(F.col("value"), r"\|")
        agg = (
            spark.read.text(files)
            .select(
                parts[1].alias("o_orderstatus"),
                parts[2].cast("bigint").alias("cents"),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("cents").alias("total_cents"),
            )
        )
        rows = agg.collect()
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, total_cents bigint"
    )
