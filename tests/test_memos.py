"""The session memo contract of plans/memos.py: one build per input
under concurrency, rebuilt when the input changes under the same path,
bypassed in plan-audit mode, and one ``clear_all()`` that releases
every cached frame and persisted RDD."""

from __future__ import annotations

import shutil
import sys
import threading
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from big_data_competition_dxc_spark import plans
from big_data_competition_dxc_spark.plans import memos

from conftest import SF_TEST_DIR

plans.load_all()


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.mark.parametrize("n_threads", [4, 16])
def test_concurrent_callers_build_once(spark, tmp_path, n_threads):
    """Threads asking for one memo at once build it once; every caller
    that waited on the lock counts as a warm hit."""
    builds = []
    start = threading.Barrier(n_threads, timeout=30)

    def build():
        builds.append(1)
        time.sleep(0.5)  # hold the lock while the others arrive
        return spark.range(3)

    def call(out: list):
        start.wait()
        out.append(memos.memoized("concurrency_probe", spark, str(tmp_path), build))

    got: list = []
    memos.consume_warm_hits()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(got,)) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert len(builds) == 1
        assert memos.consume_warm_hits() == n_threads - 1
        assert len(got) == n_threads and len({id(df) for df in got}) == 1
    finally:
        sys.setswitchinterval(interval)
        memos.clear_all()


def test_memo_rebuilds_when_input_rewritten(spark, tmp_path):
    """A table rewritten under the same path is read anew: the memo is
    keyed on the input's identity, and the stale cached frame is
    unpersisted so Spark's plan-matched cache cannot serve its blocks."""
    from big_data_competition_dxc_spark.ml import recommend

    for f in Path(SF_TEST_DIR).iterdir():
        shutil.copyfile(f, tmp_path / f.name)
    d = str(tmp_path)
    try:
        before = recommend.cached_ratings(spark, d).count()
        lineitem = tmp_path / "lineitem.parquet"
        table = pq.read_table(lineitem)
        pq.write_table(table.slice(0, table.num_rows // 3), lineitem)
        [(want,)] = duckdb.sql(
            f"SELECT count(DISTINCT (o.o_custkey, l.l_partkey))"
            f" FROM '{d}/orders.parquet' o JOIN '{lineitem}' l"
            f" ON o.o_orderkey = l.l_orderkey"
        ).fetchall()
        assert 0 < want < before
        assert recommend.cached_ratings(spark, d).count() == want
    finally:
        memos.clear_all()


def test_audit_mode_stores_nothing(spark, tmp_path, monkeypatch):
    """Plan-audit mode returns the plain build, uncached, every time."""
    monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    memos.consume_warm_hits()
    a = memos.memoized("audit_probe", spark, str(tmp_path), build)
    b = memos.memoized("audit_probe", spark, str(tmp_path), build)
    assert len(builds) == 2 and a is not b
    assert a.storageLevel == StorageLevel.NONE
    assert memos.consume_warm_hits() == 0
    assert not any(k[0] == "audit_probe" for k in memos._MEMOS)


def test_clear_all_releases_pipeline_state(spark):
    """The paper pipelines' memos and checkpoints (the feature table,
    the cluster ensemble's and GBT horizons' localCheckpoints, the
    ratings and pairs memos, the KNN result checkpoint) are all released
    by one clear_all()."""
    from big_data_competition_dxc_spark.ml import regression

    regression.daily_features(spark, SF_TEST_DIR).count()
    for q in ("ml_cluster_ensemble", "ml_gbt_horizon_blend", "knn_user_recommend"):
        plans.QUERIES[q].fn(spark, SF_TEST_DIR).collect()
    assert _persisted(spark) > 0
    memos.clear_all()
    assert _persisted(spark) == 0


def test_clear_all_frees_cyclic_py4j_proxies(spark):
    """A py4j proxy that had a method called sits in a reference cycle
    and pins its JVM object until Python's cycle collector runs;
    clear_all() runs it."""
    import gc
    import weakref

    gc.disable()
    try:
        df = spark.range(3)
        df.count()
        ref = weakref.ref(df._jdf)
        del df
        assert ref() is not None  # held by the proxy's own cycle
        memos.clear_all()
        assert ref() is None
    finally:
        gc.enable()
