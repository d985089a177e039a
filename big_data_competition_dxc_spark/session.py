"""SparkSession factory tuned for local[N] testing and cluster-safe defaults.

Replaces the reference's per-notebook ``sqlContext`` (流行音乐趋势预测.md:36)
with one configured session: AQE on (runtime partition coalescing + skew-join
splitting), UTC session time zone (date/timestamp determinism vs the DuckDB
oracle), Arrow enabled for the Pandas-UDF slow path, and a generated-code
cache large enough that a hot set of registry queries, sent again and
again to one session, compiles each of its classes once.

The factory has two shapes (r10 verdict item 5):

- **local fixture mode** — active when the harness env contract is present
  (``SPARK_GRAFT_CPUS`` or ``SPARK_GRAFT_SF_DIR`` set, or ``SPARK_GRAFT_LOCAL``
  forced truthy): pins ``local[N]`` master, core-count shuffle partitions,
  MB-scale scan splits, driver memory, and stdout-safe JVM logging.
- **cluster mode** — no env contract: only semantic/safe confs are set
  (AQE, UTC, Arrow, codegen cache size); master, parallelism, split sizing,
  and memory are left to ``spark-submit`` / cluster defaults exactly as
  MIGRATION.md prescribes.

In the local shape the driver JVM starts from a class-data-sharing
archive (JDK 17 dynamic CDS: a file of already-parsed classes that the
JVM maps instead of loading each class again). Class loading is most of
``get_spark`` and of the first action after it; the archive halves both
(7-10 s to about 4 s, and 4-6 s to about 3 s, on 4 cores).

- **Where:** ``$XDG_CACHE_HOME/spark-graft/cds/``, by default
  ``~/.cache/spark-graft/cds/``. It outlives any checkout and any
  per-run ``TMPDIR`` or ``SPARK_LOCAL_DIRS``. Deleting the directory
  resets it; the next launch dumps again.
- **Key:** the archive's name hashes what the JVM checks it against:
  the real path of the ``java`` binary, the size and mtime of
  ``libjvm.so``, and the classpath (the conf directory, then the name,
  size and mtime of every jar under ``$SPARK_HOME/jars``).
- **No archive for the key:** the JVM starts with
  ``-XX:ArchiveClassesAtExit`` and, when it exits, writes every class
  the process loaded (150-260 MB, 15-25 s) to a name unique to the
  process. An exit hook ends the JVM, waits for the dump, and renames
  the file to the key's name only if the JVM exited with code 0; it
  then deletes the other keys' archives. A killed dump never shows
  under the key's name, and no JVM outlives the Python process.
- **Archive present:** the JVM starts with ``-XX:SharedArchiveFile``.
  A JVM that rejects the archive runs without it (``-Xshare:auto``),
  so results never depend on it; :func:`class_sharing_state` tells
  which happened.
- **Conf directory:** JDK 17 will not dump with a non-empty directory
  on the classpath, and Spark puts its conf directory there. When that
  directory holds only ``*.template`` files, the JVM starts with
  ``SPARK_CONF_DIR`` pointing at an empty directory in the cache, on
  the dumping and the using side alike. A conf directory with a real
  file in it is never hidden: the JVM then starts without an archive,
  as it does when the cache directory cannot be written or when
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH``
  adds entries to the classpath.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import uuid
import weakref
from collections.abc import Iterator, Mapping
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark import SparkContext
from pyspark.sql import SparkSession

if TYPE_CHECKING:
    from pyspark.sql.datasource import DataSource

#: Entries of Spark's generated-code cache (the default keeps 100). The
#: ten queries of perfbench's ``analytics_mix`` need about 200 generated
#: classes, so at the default every rotation evicts classes the next one
#: needs and Janino recompiles them: 437 compiles in one seed-1 window
#: on a 4-core machine, against 14 at this size. 1000 holds five such hot
#: sets. A retained entry costs roughly 40-70 KB of heap (inferred from
#: +8.6 MB retained on ``paper_pipelines``). A full
#: ``scripts/driver_sim.py`` sweep compiles about 3,900 classes: the cap
#: is sized for a hot set, not for the whole registry.
CODEGEN_CACHE_ENTRIES = 1000

#: Confs that are correct on any deployment: AQE is the runtime re-plan
#: safety net the brief asks for, UTC pins date/timestamp semantics to the
#: oracle, Arrow accelerates the (rare) pandas-UDF paths, and executors
#: compile generated code too, so the codegen cache size applies there.
PORTABLE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
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
        # machine-parseable). A stderr output is added next to the
        # default stdout one, so ``-Xlog:disable`` turns that off first.
        "spark.driver.extraJavaOptions": (
            "-Xlog:disable -Xlog:all=warning:stderr:uptime,level,tags"
        ),
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


#: The class-data-sharing cache, under the user's cache directory.
CDS_SUBDIR = Path("spark-graft", "cds")
#: How long the exit hook waits for a dumping JVM before killing it.
#: Dumping after a ``paper_pipelines`` run takes 15-25 s on 4 cores.
DUMP_WAIT_S = 120
#: Classpath entries the Spark launcher adds from the environment; any
#: of them may be a non-empty directory, which stops a dump.
_EXTRA_CLASSPATH = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: A dump warns once per class it skips (about 600 lines) on stderr,
#: where ``_local_confs`` routes warnings: class-sharing logs are off.
_CDS_LOG_OFF = "-Xlog:cds*=off:stderr"


@dataclass(frozen=True)
class ClassSharing:
    """How a local driver JVM starts with a class-data-sharing archive."""

    archive: Path  # the key's published archive
    dump_to: Path | None  # where the JVM dumps at exit; None: use ``archive``
    conf_dir: str | None  # SPARK_CONF_DIR for the launch; None: unchanged

    @property
    def options(self) -> str:
        if self.dump_to is None:
            return f"-XX:SharedArchiveFile={self.archive} {_CDS_LOG_OFF}"
        return f"-XX:ArchiveClassesAtExit={self.dump_to} {_CDS_LOG_OFF}"


def _java() -> Path | None:
    """The ``java`` binary spark-submit runs (``bin/spark-class``'s rule)."""
    home = os.environ.get("JAVA_HOME")
    found = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return Path(found).resolve() if found and os.path.isfile(found) else None


def _stamp(path: Path) -> str:
    st = path.stat()
    return f"{path.name}:{st.st_size}:{st.st_mtime_ns}"


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def class_sharing(
    cache: Path | None = None, spark_home: str | None = None, java: Path | None = None
) -> ClassSharing | None:
    """The archive a local driver JVM launch uses or dumps, or None to
    start without one (see the module docstring). ``cache``,
    ``spark_home`` and ``java`` default to the user cache, PySpark's
    Spark home and the ``java`` that spark-submit runs."""
    if any(os.environ.get(var) for var in _EXTRA_CLASSPATH):
        return None
    if spark_home is None:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
    java = java or _java()
    jars = sorted(Path(spark_home, "jars").glob("*.jar"))
    if java is None or not jars:
        return None
    if cache is None:
        base = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
        cache = Path(base) / CDS_SUBDIR
    conf = Path(os.environ.get("SPARK_CONF_DIR") or Path(spark_home, "conf"))
    try:
        held = [p.name for p in conf.iterdir()] if conf.is_dir() else []
        if any(not name.endswith(".template") for name in held):
            return None  # a real conf file is never hidden
        cache.mkdir(parents=True, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return None
        conf_dir = None
        if held:
            conf_dir = str(cache / "empty-conf")
            os.makedirs(conf_dir, exist_ok=True)
        key = hashlib.sha256()
        libjvm = java.parents[1] / "lib" / "server" / "libjvm.so"
        for part in (
            str(java),
            _stamp(libjvm) if libjvm.is_file() else "",
            conf_dir or str(conf),
            str(jars[0].parent),
            *map(_stamp, jars),
        ):
            key.update(part.encode() + b"\0")
        name = key.hexdigest()[:16]
        # a dump whose process is gone was never published
        for tmp in cache.glob("*.tmp"):
            pid = tmp.name.split(".")[1]
            if pid.isdigit() and not _alive(int(pid)):
                tmp.unlink(missing_ok=True)
        archive = cache / f"{name}.jsa"
        if archive.is_file():
            return ClassSharing(archive, None, conf_dir)
        dump_to = cache / f"{name}.{os.getpid()}.tmp"
        return ClassSharing(archive, dump_to, conf_dir)
    except OSError:
        return None


def launch_plan(
    local: bool | None = None, cache: Path | None = None
) -> tuple[str | None, dict[str, str], ClassSharing | None]:
    """:func:`build_plan` for the call that starts the driver JVM:
    ``(master_or_None, confs, sharing)``. The local shape adds the
    class-sharing options to the driver's JVM options; the cluster shape
    never gets any (``sharing`` is None)."""
    master, confs = build_plan(local)
    sharing = class_sharing(cache) if master is not None else None
    if sharing is not None:
        confs["spark.driver.extraJavaOptions"] += " " + sharing.options
    return master, confs, sharing


@contextmanager
def _conf_dir(path: str | None) -> Iterator[None]:
    """``SPARK_CONF_DIR`` is ``path`` (if given) inside the block, for
    the JVM launch; the old value is back afterwards."""
    old = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if path is not None and old is None:
            del os.environ["SPARK_CONF_DIR"]
        elif path is not None:
            os.environ["SPARK_CONF_DIR"] = old


def _publish_dump(proc: subprocess.Popen, sharing: ClassSharing) -> None:
    """Exit hook of a dumping launch: end the driver JVM if it still
    runs (it dumps as it exits), wait for it, then publish a complete
    archive under the key's name, or delete a partial one."""
    if proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            # stopped first, or its accumulator server reports the
            # JVM's exit as a broken connection
            SparkContext._active_spark_context.stop()
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not sharing.dump_to.is_file():
        sharing.dump_to.unlink(missing_ok=True)
        return
    os.replace(sharing.dump_to, sharing.archive)
    for other in sharing.archive.parent.glob("*.jsa"):
        if other != sharing.archive:
            other.unlink(missing_ok=True)


def get_spark(app_name: str = "bdc-dxc-spark") -> SparkSession:
    """Build (or fetch) the session.

    Local parallelism follows ``SPARK_GRAFT_CPUS`` (driver contract);
    shuffle partitions match cores in local mode — on a real cluster this
    would be sized to ~2-3x total executor cores, with AQE coalescing
    handling the long tail. The call that starts the driver JVM starts
    it with class-data sharing in the local shape.
    """
    if SparkContext._gateway is None:
        master, confs, sharing = launch_plan()
    else:
        (master, confs), sharing = build_plan(), None
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for key, value in confs.items():
        builder = builder.config(key, value)
    with _conf_dir(sharing and sharing.conf_dir):
        spark = builder.getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if sharing is not None and sharing.dump_to is not None and proc is not None:
        atexit.register(_publish_dump, proc, sharing)
    return spark


def class_sharing_state(spark: SparkSession) -> str:
    """How this driver JVM shares class data: ``using <archive>`` when it
    mapped the archive it was given, ``dumping`` when it writes one at
    exit, ``off`` otherwise (none given, or one the JVM rejected)."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    if bean.getVMOption("ArchiveClassesAtExit").getValue():
        return "dumping"
    archive = bean.getVMOption("SharedArchiveFile").getValue()
    maps = Path(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps")
    if archive and maps.is_file() and archive in maps.read_text():
        return f"using {archive}"
    return "off"


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far; a
    codegen-cache hit does not count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


_SCOPES_LOCK = threading.Lock()  # guards the two dicts below
#: (applicationId, id(root), conf set) -> the child holding that conf set
_CHILDREN: dict[tuple[str, int, frozenset], SparkSession] = {}
#: id(child) -> (root, conf set): how a child was made, to nest scopes
_ORIGINS: dict[int, tuple[SparkSession, frozenset]] = {}


def scoped(spark: SparkSession, confs: Mapping[str, str]) -> SparkSession:
    """A session with ``confs`` applied, for one request's queries.

    This is the package's one way to hold a conf for a request. A
    session conf set on the shared session would hold for every other
    client's queries too, so the request instead builds and runs its
    query on a child of the root session (``newSession()``: same
    SparkContext and cached data, its own SQL conf and temp views). A
    frame built on the child keeps its confs for as long as it lives,
    planning included. A child has its own function registry as well,
    so a query that registers a UDTF does it on ``scoped(spark, {})``.

    A child starts from the confs ``get_spark`` created the session
    with, not from confs set at runtime, so a scope opened on a child
    merges its confs over the child's (``confs`` win) and branches from
    the root again.

    Children are kept, one per (root, full conf set). A child whose
    streaming manager is touched adds a listener to the context's
    listener bus that is never removed, so a child per call would grow
    the bus without bound.
    """
    with _SCOPES_LOCK:
        root, held = _ORIGINS.get(id(spark), (spark, frozenset()))
        merged = frozenset({**dict(held), **confs}.items())
        app = root.sparkContext.applicationId
        # a stopped context's children are dead: forget them
        for key in [k for k in _CHILDREN if k[0] != app]:
            del _ORIGINS[id(_CHILDREN.pop(key))]
        key = (app, id(root), merged)
        child = _CHILDREN.get(key)
        if child is None:
            child = root.newSession()
            for k, v in merged:
                child.conf.set(k, v)
            _CHILDREN[key] = child
            _ORIGINS[id(child)] = (root, merged)
        return child


_SOURCES_LOCK = threading.Lock()  # guards the dict below
#: session -> names of the Python data sources registered on it
_SOURCES: weakref.WeakKeyDictionary[SparkSession, set[str]] = weakref.WeakKeyDictionary()


def python_source(spark: SparkSession, source: type[DataSource]) -> str:
    """Register the Python data source ``source`` on ``spark`` once and
    return its name, for ``format``.

    This is the package's one way to register a batch Python data
    source. It goes on the caller's session, not on a child:
    registration checks the name against the JVM thread's active
    session, so a child cannot register a source its root already has
    (DATA_SOURCE_ALREADY_EXISTS) and would not see the root's, and a
    writer looks its source up in the active session, not in the
    session of the frame it writes. Later calls only read the
    registration, so one request never replaces a source while another
    reads it.
    """
    name = source.name()
    with _SOURCES_LOCK:
        names = _SOURCES.setdefault(spark, set())
        if name not in names:
            spark.dataSource.register(source)
            names.add(name)
    return name


#: The name every scratch dir of a request starts with, so a leak check
#: can tell the package's own entries in the temp dir from anyone else's.
SCRATCH_PREFIX = "spark-graft-"


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh temp dir for one request, removed on every way out of the
    ``with`` block, an error included.

    This is the package's one way to hold files for a request: staged
    inputs, written round-trips, bucketed tables' files and stream
    checkpoints all live in one, so a failed request leaves nothing in
    the temp dir of a long-lived driver."""
    out = tempfile.mkdtemp(prefix=f"{SCRATCH_PREFIX}{prefix}")
    try:
        yield out
    finally:
        shutil.rmtree(out, ignore_errors=True)


@contextmanager
def scratch_tables(spark: SparkSession, *names: str) -> Iterator[tuple[str, ...]]:
    """Per-call catalog table names for ``names``, dropped on every way
    out of the ``with`` block. The catalog is shared by every session,
    so each name gets a suffix unique to the call."""
    suffix = uuid.uuid4().hex[:8]
    tables = tuple(f"{name}_{suffix}" for name in names)
    try:
        yield tables
    finally:
        for table in tables:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
