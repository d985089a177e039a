"""Pins for the two session-factory shapes (r10 verdict item 5).

`get_spark` must be safe to import on a real cluster: the local-only
confs (local[N] master, core-count shuffle partitions, fixture-scale
scan-split floor, driver memory, UI/JVM-log plumbing) apply ONLY when
the harness env contract is present. `build_plan` is the pure core so
both shapes are testable without starting a JVM. So is the local
shape's class-data-sharing plan (``class_sharing``), on a fake Spark
home; one test reads the options the shared test JVM really got.
"""

from __future__ import annotations

import os
import subprocess
from pathlib import Path

from big_data_competition_dxc_spark import session as S

_CONTRACT_VARS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_LOCAL")


def _clear_contract(monkeypatch):
    for var in _CONTRACT_VARS:
        monkeypatch.delenv(var, raising=False)


def test_local_shape_under_env_contract(monkeypatch):
    _clear_contract(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    master, confs = S.build_plan()
    assert master == "local[8]"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    assert confs["spark.sql.files.openCostInBytes"] == "256k"
    # the split CEILING stays at the Spark default — only the floor is
    # lowered, so big fixture tables split by bytes/defaultParallelism
    assert "spark.sql.files.maxPartitionBytes" not in confs
    assert confs["spark.driver.memory"] == "16g"
    assert confs["spark.ui.enabled"] == "false"
    assert confs["spark.sql.codegen.cache.maxEntries"] == str(S.CODEGEN_CACHE_ENTRIES)


def test_cluster_shape_without_env_contract(monkeypatch):
    _clear_contract(monkeypatch)
    master, confs = S.build_plan()
    assert master is None, "cluster deploys pick the master via spark-submit"
    # no local-only knobs may leak into a cluster session
    assert not any(k.startswith("spark.sql.files.") for k in confs)
    assert "spark.sql.shuffle.partitions" not in confs
    assert "spark.driver.memory" not in confs
    assert "spark.driver.extraJavaOptions" not in confs
    assert "spark.ui.enabled" not in confs
    # the portable semantic confs always apply
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.session.timeZone"] == "UTC"
    assert confs["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    # executors compile generated code too: the cache size is portable
    assert confs["spark.sql.codegen.cache.maxEntries"] == str(S.CODEGEN_CACHE_ENTRIES)


def test_explicit_override_wins_both_ways(monkeypatch):
    _clear_contract(monkeypatch)
    # contract present but override forces cluster shape
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_GRAFT_LOCAL", "0")
    assert S.build_plan()[0] is None
    # no contract but override forces local shape (default 32 cores)
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setenv("SPARK_GRAFT_LOCAL", "1")
    assert S.build_plan()[0] == "local[32]"


# --- class-data sharing: the plan is pinned on a fake Spark home and
# ``java``, so no JVM starts and the user cache is never touched.


def _fake_install(tmp_path, conf_files=("spark-defaults.conf.template",)):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("spark-core.jar", "spark-sql.jar"):
        (home / "jars" / name).write_bytes(b"x" * 10)
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text("")
    (java.parents[1] / "lib" / "server").mkdir(parents=True)
    (java.parents[1] / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    return home, java


def _sharing(monkeypatch, tmp_path, cache=None, **install):
    home, java = _fake_install(tmp_path, **install)
    for var in ("SPARK_CONF_DIR", *S._EXTRA_CLASSPATH):
        monkeypatch.delenv(var, raising=False)
    cache = cache or tmp_path / "cache"
    return S.class_sharing(cache, str(home), java), home, java, cache


def test_cluster_shape_gets_no_class_sharing(monkeypatch, tmp_path):
    _clear_contract(monkeypatch)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    master, confs, sharing = S.launch_plan(cache=tmp_path / "cache")
    assert master is None and sharing is None
    assert not any("-XX:" in v for v in confs.values())
    assert not (tmp_path / "cache").exists()


def test_local_shape_dumps_to_a_temp_name_then_uses_the_archive(monkeypatch, tmp_path):
    sharing, home, java, cache = _sharing(monkeypatch, tmp_path)
    assert sharing.dump_to is not None and sharing.dump_to != sharing.archive
    assert sharing.dump_to.parent == sharing.archive.parent == cache
    assert f"-XX:ArchiveClassesAtExit={sharing.dump_to}" in sharing.options
    assert str(sharing.archive) not in sharing.options
    # the conf dir holds only templates: the launch sees an empty one
    assert sharing.conf_dir is not None and not any(Path(sharing.conf_dir).iterdir())

    sharing.archive.write_bytes(b"archive")
    again = S.class_sharing(cache, str(home), java)
    assert again.dump_to is None and again.archive == sharing.archive
    assert again.options.startswith(f"-XX:SharedArchiveFile={sharing.archive} ")
    assert again.conf_dir == sharing.conf_dir


def test_local_launch_keeps_stderr_log_routing(monkeypatch, tmp_path):
    _clear_contract(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    _, home, java, cache = _sharing(monkeypatch, tmp_path)
    sharing = S.class_sharing(cache, str(home), java)
    monkeypatch.setattr(S, "class_sharing", lambda cache: sharing)
    _, confs, got = S.launch_plan()
    opts = confs["spark.driver.extraJavaOptions"]
    assert got is sharing
    assert opts.startswith("-Xlog:disable -Xlog:all=warning:stderr:uptime,level,tags ")
    assert opts.endswith(sharing.options)
    assert "-Xlog:cds*=off:stderr" in opts


def test_a_changed_jar_gives_a_new_key(monkeypatch, tmp_path):
    sharing, home, java, cache = _sharing(monkeypatch, tmp_path)
    jar = home / "jars" / "spark-sql.jar"
    jar.write_bytes(b"y" * 11)  # size
    resized = S.class_sharing(cache, str(home), java)
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime only
    touched = S.class_sharing(cache, str(home), java)
    keys = {s.archive for s in (sharing, resized, touched)}
    assert len(keys) == 3


def test_publish_renames_only_a_complete_dump(monkeypatch, tmp_path):
    sharing, home, java, cache = _sharing(monkeypatch, tmp_path)
    old = cache / "0123456789abcdef.jsa"
    old.write_bytes(b"another key")
    killed = subprocess.Popen(["sh", "-c", "exit 137"], stdin=subprocess.PIPE)
    killed.wait()
    sharing.dump_to.write_bytes(b"half")
    S._publish_dump(killed, sharing)
    assert not sharing.dump_to.exists() and not sharing.archive.exists()
    assert old.exists()

    # the shared test session must not be stopped by the hook
    monkeypatch.setattr(S.SparkContext, "_active_spark_context", None)
    done = subprocess.Popen(["sh", "-c", "cat >/dev/null"], stdin=subprocess.PIPE)
    sharing.dump_to.write_bytes(b"whole")
    S._publish_dump(done, sharing)  # closes stdin, waits for exit 0
    assert sharing.archive.read_bytes() == b"whole"
    assert not sharing.dump_to.exists() and not old.exists()


def test_a_real_conf_file_is_never_hidden(monkeypatch, tmp_path):
    sharing, *_ = _sharing(
        monkeypatch, tmp_path, conf_files=("spark-defaults.conf", "log4j2.properties.template")
    )
    assert sharing is None


def test_an_unwritable_cache_gives_no_class_sharing(monkeypatch, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    sharing, *_ = _sharing(monkeypatch, tmp_path, cache=blocker / "cds")
    assert sharing is None


def test_driver_jvm_runs_with_exactly_one_class_sharing_option(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    given = [
        name
        for name in ("SharedArchiveFile", "ArchiveClassesAtExit")
        if bean.getVMOption(name).getValue()
    ]
    assert len(given) == 1, given
