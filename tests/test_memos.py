"""The session memo contract of plans/memos.py: one build per input
under concurrency, rebuilt when the input changes under the same path
(a part file inside a table directory included), and one
``clear_all()`` that releases every cached frame and persisted RDD.
``sources.load`` keeps each table's resolved relation in the same
store, uncached; the registry keeps each query's answer there as a
local frame of at most ``memos.N`` rows, except for the queries
declared ``writes=True``."""

from __future__ import annotations

import importlib
import inspect
import re
import shutil
import sys
import threading
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

from big_data_competition_dxc_spark import plans
from big_data_competition_dxc_spark.plans import memos
from big_data_competition_dxc_spark.sources import io

from conftest import SF_TEST_DIR
from test_oracle_parity import _rowset

plans.load_all()


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _copy_fixture(dst: Path) -> str:
    for f in Path(SF_TEST_DIR).iterdir():
        shutil.copyfile(f, dst / f.name)
    return str(dst)


@pytest.mark.parametrize(
    ("n_threads", "via"),
    [(4, "memoized"), (16, "memoized"), (4, "load"), (16, "load"), (4, "result"), (16, "result")],
    ids=["4", "16", "4-load", "16-load", "4-result", "16-result"],
)
def test_concurrent_callers_build_once(spark, tmp_path, monkeypatch, n_threads, via):
    """Threads asking for one memo at once build it once; every caller
    that waited on the lock counts as a warm hit, a held result's
    included. Threads loading one table at once resolve it once and
    share the frame; an uncached relation counts no warm hit."""
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
        hold = "result" if via == "result" else "cached"

        def lookup():
            return memos.memoized("concurrency_probe", spark, str(tmp_path), build, hold=hold)

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
        assert memos.consume_warm_hits() == (0 if via == "load" else n_threads - 1)
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


def _held(df) -> bool:
    """Whether ``df`` is a held answer: a frame over local rows."""
    return df._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")


def _rows(df) -> list:
    return _rowset(df.columns, [tuple(r) for r in df.collect()])


def test_answer_follows_a_rewritten_input(spark, tmp_path):
    """A held answer is keyed on the input's identity: after a table is
    rewritten under the same path, ``fn`` returns the new answer."""
    entry = plans.QUERIES["pricing_summary"]
    d = _copy_fixture(tmp_path)

    def oracle() -> list:
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{d}/lineitem.parquet'")
            rel = con.execute(entry.oracle)
            return _rowset([c[0] for c in rel.description], rel.fetchall())
        finally:
            con.close()

    try:
        first = entry.fn(spark, d)
        assert _held(first) and _rows(first) == oracle()
        assert entry.fn(spark, d) is first
        _rewrite_a_third(tmp_path / "lineitem.parquet", d, f"{d}/lineitem.parquet")
        second = entry.fn(spark, d)
        assert second is not first and _rows(second) == oracle() != _rows(first)
    finally:
        memos.clear_all()


def test_writing_query_runs_its_body_on_every_call(spark, tmp_path):
    """``writes=True`` makes ``fn`` the builder itself: every call runs
    the body; an undeclared query's body runs once per input."""
    bodies = []

    def body(spark, sf_dir):
        bodies.append(sf_dir)
        return spark.range(3)

    names = ("probe_writes", "probe_reads")
    try:
        plans.query(names[0], writes=True)(body)
        plans.query(names[1])(body)
        for name in names:
            for _ in range(3):
                assert plans.QUERIES[name].fn(spark, str(tmp_path)).count() == 3
        assert len(bodies) == 3 + 1
        assert plans.QUERIES[names[0]].fn is body
        entry = plans.QUERIES["parquet_partitioned_roundtrip"]
        assert entry.writes and entry.fn is entry.build
    finally:
        for name in names:
            plans.QUERIES.pop(name, None)
        memos.clear_all()


def test_answer_over_the_bound_is_served_lazily(spark, monkeypatch):
    """An answer of more than ``N`` rows is returned as the lazy frame
    and not held: the next call builds it again."""
    entry = plans.QUERIES["daily_rollup"]
    build = entry.build
    want = _rows(build(spark, SF_TEST_DIR))
    builds = []

    def counted(spark, sf_dir):
        builds.append(sf_dir)
        return build(spark, sf_dir)

    monkeypatch.setattr(entry, "build", counted)
    monkeypatch.setattr(memos, "N", len(want) - 1)
    memos.clear_all()
    try:
        first = entry.fn(spark, SF_TEST_DIR)
        assert not _held(first) and _rows(first) == want
        assert not any(k[0] == "query:daily_rollup" for k in memos._MEMOS)
        entry.fn(spark, SF_TEST_DIR)
        assert len(builds) == 2
        monkeypatch.setattr(memos, "N", len(want))
        assert _held(entry.fn(spark, SF_TEST_DIR))
    finally:
        memos.clear_all()


def test_local_frame_is_bounded(spark, monkeypatch):
    """``local`` holds a result's rows with its own schema, and raises
    for one of more than ``N`` rows instead of holding it."""
    df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
    monkeypatch.setattr(memos, "N", 3)
    held = memos.local(spark, df)
    assert _held(held) and held.schema == df.schema and _rows(held) == _rows(df)
    monkeypatch.setattr(memos, "N", 2)
    with pytest.raises(ValueError, match="more than 2 rows"):
        memos.local(spark, df)


#: The mix's nine reads, and the recommender whose rows once lived only
#: in localCheckpoint blocks.
_SURVIVORS = (
    "daily_rollup",
    "hour_bucket_rollup",
    "dayofweek_rollup",
    "lag_window",
    "topk_days_per_user",
    "join_snowflake_rollup",
    "pricing_summary",
    "ratings_matrix_stats",
    "knn_user_neighbors",
    "knn_user_recommend",
)


def test_answers_survive_clear_all(spark):
    """A frame ``fn`` returned reads the same rows after ``clear_all()``
    released every memo, cached block and checkpoint."""
    memos.clear_all()
    frames = {q: plans.QUERIES[q].fn(spark, SF_TEST_DIR) for q in _SURVIVORS}
    before = {q: _rows(df) for q, df in frames.items()}
    memos.clear_all()
    assert _persisted(spark) == 0
    assert {q: _rows(df) for q, df in frames.items()} == before
    assert all(before.values())


@pytest.mark.parametrize("name", sorted(plans.QUERIES))
def test_built_frames_survive_clear_all(spark, name):
    """Every frame a builder returns owns no session state: it reads the
    same rows after ``clear_all()`` released every memo, cached block
    and checkpoint. A bounded result is a local frame; a lazy one
    recomputes from its lineage. The frame checked is a second build
    that first runs after the release: re-collecting a frame that has
    already run reuses its final plan's shuffle output, which would
    hide a released checkpoint below a shuffle."""
    build = plans.QUERIES[name].build
    before = _rows(build(spark, SF_TEST_DIR))
    df = build(spark, SF_TEST_DIR)
    memos.clear_all()
    assert _rows(df) == before


#: A writer call: a DataFrame or stream writer, or the package's memory
#: sink drain (which starts a stream).
_WRITER = re.compile(r"\.(write|writeStream|writeTo)\b|\b(saveAsTable|insertInto|drain_to_memory)\(")

#: Queries registered from a module that calls a writer, whose own body
#: writes nothing.
_READS_ONLY = {
    "local_rows_to_df": "a driver-side list joined to events; no write",
    "sql_templated_peek": "a parameterized SELECT over events; no write",
    "salted_skew_join": "a salted join of two relations; no write",
    "sessionize_batch": "the batch twin of sessionize_stream; no stream",
}


def test_writing_modules_declare_their_writers():
    """A held answer skips its body on a repeat, so every query whose
    module calls a writer is declared ``writes=True``, or listed in
    ``_READS_ONLY`` with the reason its body writes nothing."""
    undeclared, stale = [], []
    for name, entry in sorted(plans.QUERIES.items()):
        module = importlib.import_module(entry.build.__module__)
        if not _WRITER.search(inspect.getsource(module)):
            continue
        if name in _READS_ONLY:
            if entry.writes:
                stale.append(name)
        elif not entry.writes:
            undeclared.append(f"{name} ({module.__name__})")
    assert not undeclared, "not declared writes=True: " + ", ".join(undeclared)
    assert not stale, "declared writes=True but listed as reads only: " + ", ".join(stale)
