"""Pins for the two session-factory shapes (r10 verdict item 5).

`get_spark` must be safe to import on a real cluster: the local-only
confs (local[N] master, core-count shuffle partitions, fixture-scale
scan-split floor, driver memory, UI/JVM-log plumbing) apply ONLY when
the harness env contract is present. `build_plan` is the pure core so
both shapes are testable without starting a JVM.
"""

from __future__ import annotations

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
