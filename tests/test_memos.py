"""The session memo contract of plans/memos.py: one build per input
under concurrency, rebuilt when the input changes under the same path
(a part file inside a table directory included), bypassed in plan-audit
mode, and one ``clear_all()`` that releases every cached frame and
persisted RDD. ``sources.load`` keeps each table's resolved relation in
the same store, uncached."""

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
from big_data_competition_dxc_spark.sources import io

from conftest import SF_TEST_DIR

plans.load_all()


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _copy_fixture(dst: Path) -> str:
    for f in Path(SF_TEST_DIR).iterdir():
        shutil.copyfile(f, dst / f.name)
    return str(dst)


@pytest.mark.parametrize(
    ("n_threads", "via"),
    [(4, "memoized"), (16, "memoized"), (4, "load"), (16, "load")],
    ids=["4", "16", "4-load", "16-load"],
)
def test_concurrent_callers_build_once(spark, tmp_path, monkeypatch, n_threads, via):
    """Threads asking for one memo at once build it once; every caller
    that waited on the lock counts as a warm hit. Threads loading one
    table at once resolve it once and share the frame; an uncached
    relation counts no warm hit."""
    builds = []
    start = threading.Barrier(n_threads, timeout=30)

    def build():
        builds.append(1)
        time.sleep(0.5)  # hold the lock while the others arrive
        return spark.range(3)

    if via == "load":
        shutil.copyfile(f"{SF_TEST_DIR}/nation.parquet", tmp_path / "nation.parquet")
        resolve = io._resolve

        def slow_resolve(*args):
            build()
            return resolve(*args)

        monkeypatch.setattr(io, "_resolve", slow_resolve)

        def lookup():
            return io.load(spark, str(tmp_path), "nation")
    else:

        def lookup():
            return memos.memoized("concurrency_probe", spark, str(tmp_path), build)

    def call(out: list):
        start.wait()
        out.append(lookup())

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
        assert memos.consume_warm_hits() == (n_threads - 1 if via == "memoized" else 0)
        assert len(got) == n_threads and len({id(df) for df in got}) == 1
    finally:
        sys.setswitchinterval(interval)
        memos.clear_all()


def _rewrite_a_third(part: Path, d: str, lineitem_glob: str) -> tuple[int, int]:
    """Rewrite ``part`` in place with a third of its rows; return the
    (ratings, lineitem) row counts DuckDB then reads from ``d``."""
    table = pq.read_table(part)
    pq.write_table(table.slice(0, table.num_rows // 3), part)
    [(ratings, lineitem)] = duckdb.sql(
        f"SELECT count(DISTINCT (o.o_custkey, l.l_partkey)),"
        f" (SELECT count(*) FROM '{lineitem_glob}')"
        f" FROM '{d}/orders.parquet' o JOIN '{lineitem_glob}' l"
        f" ON o.o_orderkey = l.l_orderkey"
    ).fetchall()
    return ratings, lineitem


def test_memo_rebuilds_when_input_rewritten(spark, tmp_path):
    """A table rewritten under the same path is read anew: the memo and
    the table's relation are keyed on the input's identity, and the
    stale cached frame is unpersisted so Spark's plan-matched cache
    cannot serve its blocks."""
    from big_data_competition_dxc_spark.ml import recommend

    d = _copy_fixture(tmp_path)
    try:
        before = recommend.cached_ratings(spark, d).count()
        lineitem = tmp_path / "lineitem.parquet"
        want, want_lineitem = _rewrite_a_third(lineitem, d, str(lineitem))
        assert 0 < want < before
        assert recommend.cached_ratings(spark, d).count() == want
        assert io.load(spark, d, "lineitem").count() == want_lineitem
    finally:
        memos.clear_all()


def test_memo_rebuilds_when_part_rewritten_in_table_dir(spark, tmp_path):
    """A table stored as a directory (Spark's writer layout) whose part
    file is rewritten in place keeps the directory's own size and mtime;
    the input identity looks inside it, so memos and relations follow."""
    from big_data_competition_dxc_spark.ml import recommend

    d = _copy_fixture(tmp_path)
    table_dir = tmp_path / "lineitem.parquet"
    part = tmp_path / "part-00000.parquet"
    table_dir.rename(part)
    table_dir.mkdir()
    part = part.rename(table_dir / part.name)
    try:
        before = recommend.cached_ratings(spark, d).count()
        before_lineitem = io.load(spark, d, "lineitem").count()
        want, want_lineitem = _rewrite_a_third(part, d, f"{table_dir}/*.parquet")
        assert 0 < want < before and 0 < want_lineitem < before_lineitem
        assert recommend.cached_ratings(spark, d).count() == want
        assert io.load(spark, d, "lineitem").count() == want_lineitem
    finally:
        memos.clear_all()


def test_load_resolves_once_per_input(spark, tmp_path):
    """An unchanged input is resolved once: later calls return the same
    frame, and count no warm hit. ``clear_all()`` forgets it."""
    d = _copy_fixture(tmp_path)
    try:
        memos.consume_warm_hits()
        first = io.load(spark, d, "nation")
        assert io.load(spark, d, "nation") is first
        assert io.load(spark, d, "region") is not first
        assert memos.consume_warm_hits() == 0
        memos.clear_all()
        assert io.load(spark, d, "nation") is not first
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
