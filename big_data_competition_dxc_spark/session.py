"""SparkSession factory tuned for local[N] testing and cluster-safe defaults.

Replaces the reference's per-notebook ``sqlContext`` (流行音乐趋势预测.md:36)
with one configured session: AQE on (runtime partition coalescing + skew-join
splitting), UTC session time zone (date/timestamp determinism vs the DuckDB
oracle), Arrow enabled for the Pandas-UDF slow path.

The factory has two shapes (r10 verdict item 5):

- **local fixture mode** — active when the harness env contract is present
  (``SPARK_GRAFT_CPUS`` or ``SPARK_GRAFT_SF_DIR`` set, or ``SPARK_GRAFT_LOCAL``
  forced truthy): pins ``local[N]`` master, core-count shuffle partitions,
  MB-scale scan splits, driver memory, and stdout-safe JVM logging.
- **cluster mode** — no env contract: only semantic/safe confs are set
  (AQE, UTC, Arrow); master, parallelism, split sizing, and memory are left
  to ``spark-submit`` / cluster defaults exactly as MIGRATION.md prescribes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are correct on any deployment: AQE is the runtime re-plan
#: safety net the brief asks for, UTC pins date/timestamp semantics to the
#: oracle, Arrow accelerates the (rare) pandas-UDF paths.
PORTABLE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _local_fixture_mode() -> bool:
    """Whether the harness env contract is active.

    ``SPARK_GRAFT_LOCAL`` is an explicit override (``0``/``false`` forces
    cluster shape, anything else forces local shape); otherwise the driver
    contract vars decide. The test/perfbench/driver entry points all set
    ``SPARK_GRAFT_CPUS`` (or ``SPARK_GRAFT_SF_DIR``) before calling
    :func:`get_spark`, so a bare import on a real cluster gets stock
    defaults without editing source (r10 advice, session.py:45).
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL")
    if override is not None:
        return override.strip().lower() not in ("0", "false", "no", "")
    return "SPARK_GRAFT_CPUS" in os.environ or "SPARK_GRAFT_SF_DIR" in os.environ


def _local_confs(cpus: str) -> dict[str, str]:
    """Local-fixture-scale confs — NEVER applied in cluster mode.

    Scan-split sizing (r10→r11): the 128MB ``maxPartitionBytes`` default
    packed a whole MB-scale fixture table into ONE scan task, so CPU-heavy
    corpus projections (tokenize/stopword-score/shingle-explode) ran
    single-threaded on 32 cores. r10 forced 1MB splits globally, which fixed
    the corpus family but made every sub-second full-lineitem agg pay ~135
    tasks of scheduling overhead (the two r10 trailing flags). r11 instead
    lowers only the ``openCostInBytes`` FLOOR and restores the default
    ceiling, letting Spark's own split formula

        maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
                            totalBytes / defaultParallelism))

    size splits per table: sf1 lineitem (143MB) → ~4.5MB splits → ~32 tasks;
    sf1 documents (5.9MB) → the 256k floor → ~24 tasks (matching its 25 row
    groups). Every fixture scan lands near core-count parallelism with no
    global 1MB tax. On a real cluster both knobs stay at default — a 100 TB
    input gets multi-task scans for free.
    """
    return {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.files.openCostInBytes": "256k",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        # JVM unified-logging writes to the process stdout, whose last
        # line perfbench/run.py reserves for its JSON result — an
        # r8 run saw "[warning][gc,alloc] ... GCLocker ..." land on
        # stdout ahead of the payload. Route JVM log output to stderr
        # instead of silencing it (warnings stay visible, stdout stays
        # machine-parseable).
        "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr:uptime,level,tags",
    }


def build_plan(local: bool | None = None) -> tuple[str | None, dict[str, str]]:
    """Pure conf plan: ``(master_or_None, confs)`` for the given shape.

    Exposed so tests can pin both factory shapes without starting a JVM.
    ``local=None`` resolves from the environment.
    """
    if local is None:
        local = _local_fixture_mode()
    confs = dict(PORTABLE_CONFS)
    if not local:
        return None, confs
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    confs.update(_local_confs(cpus))
    return f"local[{cpus}]", confs


def get_spark(app_name: str = "bdc-dxc-spark") -> SparkSession:
    """Build (or fetch) the session.

    Local parallelism follows ``SPARK_GRAFT_CPUS`` (driver contract);
    shuffle partitions match cores in local mode — on a real cluster this
    would be sized to ~2-3x total executor cores, with AQE coalescing
    handling the long tail.
    """
    master, confs = build_plan()
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for key, value in confs.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
