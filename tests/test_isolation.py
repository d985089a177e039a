"""Client threads sharing one session each get their own input's answer.

Eight threads send the registry queries that use a temp view, a
session conf or a catalog table to one session, over two inputs at
once: the test fixture and a second input holding every other row of
each of its tables. Every result is compared with DuckDB's answer for
the input it was asked about. A query that registers a fixed-name view,
sets a session-global conf or writes a fixed-name table lets one client
read, drop or overwrite another client's state; this test makes those
races show as WRONG or ERROR calls.
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import tempfile
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

from big_data_competition_dxc_spark import plans, session
from big_data_competition_dxc_spark.plans import memos
from big_data_competition_dxc_spark.session import SCRATCH_PREFIX
from big_data_competition_dxc_spark.sources import TABLES

from conftest import SF_TEST_DIR
from test_oracle_parity import _rowset

plans.load_all()

CLIENTS = 8
ROUNDS = 2

BATCH = (
    "grouping_sets_status_segment",
    "listagg_daily_paths",
    "bloom_pruned_join",
    "bucketed_colocated_join",
    "bucket_pruned_scan",
    "collated_group_counts",
    "join_theta_sql",
    "lateral_topk_per_nation",
    "recursive_cte_reach",
    "sql_templated_peek",
    "partition_overwrite_backfill",
    "sql_scripting_sigma_clip",
    "sql_pipeline_daily",
    "sql_pipe_syntax_daily",
    "scalar_subquery_above_avg",
    "in_subquery_urgent_customers",
    "not_exists_idle_suppliers",
    "udtf_word_chunks",
)

#: Run two at once on the fixture itself: their stored index tables are
#: what they could share, and their asserted row counts assume it.
STREAMS = ("stream_ann_ingest", "stream_incremental_dedup")


@pytest.fixture(scope="module")
def half_input(tmp_path_factory):
    out = tmp_path_factory.mktemp("half_input")
    for t in TABLES:
        table = pq.read_table(f"{SF_TEST_DIR}/{t}.parquet")
        pq.write_table(table.take(list(range(0, table.num_rows, 2))), out / f"{t}.parquet")
    return str(out)


def _oracle_rowsets(sf_dir: str, names) -> dict[str, list]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            rel = con.execute(plans.QUERIES[name].oracle)
            out[name] = _rowset([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def test_concurrent_clients_get_their_own_results(spark, half_input):
    inputs = {"full": SF_TEST_DIR, "half": half_input}
    expected = {
        "full": _oracle_rowsets(SF_TEST_DIR, BATCH + STREAMS),
        "half": _oracle_rowsets(half_input, BATCH),
    }
    # streams first so two of each run at once; then every batch query
    # on both inputs back to back, so the two land on different clients.
    # The first round asks for the registry's answers; later rounds run
    # the builders, which a held answer would otherwise stand in for.
    calls = [(name, "full", 0) for name in STREAMS for _ in range(2)]
    calls += [(name, tag, k) for k in range(ROUNDS) for name in BATCH for tag in inputs]

    def run(call):
        name, tag, k = call
        entry = plans.QUERIES[name]
        try:
            df = (entry.build if k else entry.fn)(spark, inputs[tag])
            got = _rowset(df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 - every failure is reported below
            return f"ERROR {name}@{tag}: {str(exc).splitlines()[0][:160]}"
        return None if got == expected[tag][name] else f"WRONG {name}@{tag}"

    with ThreadPoolExecutor(CLIENTS) as pool:
        failures = [f for f in pool.map(run, calls) if f is not None]
    assert not failures, f"{len(failures)} of {len(calls)} calls failed:\n" + "\n".join(
        failures
    )


#: The mix's nine reads: the registry's answers the benchmark's clients
#: share.
ANSWERS = (
    "daily_rollup",
    "hour_bucket_rollup",
    "dayofweek_rollup",
    "lag_window",
    "topk_days_per_user",
    "join_snowflake_rollup",
    "pricing_summary",
    "ratings_matrix_stats",
    "knn_user_neighbors",
)


def test_concurrent_clients_share_one_answer_per_input(spark, half_input, monkeypatch):
    """Eight clients ask for the same answers over two inputs at once:
    each (query, input) is built once, and every client gets its own
    input's answer."""
    from big_data_competition_dxc_spark.plans import memos

    inputs = {"full": SF_TEST_DIR, "half": half_input}
    expected = {tag: _oracle_rowsets(d, ANSWERS) for tag, d in inputs.items()}
    builds: list[tuple[str, str]] = []
    for name in ANSWERS:
        entry = plans.QUERIES[name]

        def counted(spark, sf_dir, _build=entry.build, _name=name):
            builds.append((_name, sf_dir))
            return _build(spark, sf_dir)

        monkeypatch.setattr(entry, "build", counted)
    calls = [(name, tag) for _ in range(CLIENTS) for name in ANSWERS for tag in inputs]

    def run(call):
        name, tag = call
        try:
            df = plans.QUERIES[name].fn(spark, inputs[tag])
            got = _rowset(df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 - every failure is reported below
            return f"ERROR {name}@{tag}: {str(exc).splitlines()[0][:160]}"
        return None if got == expected[tag][name] else f"WRONG {name}@{tag}"

    memos.clear_all()
    try:
        with ThreadPoolExecutor(CLIENTS) as pool:
            failures = [f for f in pool.map(run, calls) if f is not None]
    finally:
        memos.clear_all()
    assert not failures, "\n".join(failures)
    assert sorted(builds) == sorted((n, d) for n in ANSWERS for d in inputs.values())


def test_streaming_child_sessions_do_not_grow_the_listener_bus(spark, duck):
    """A streaming query runs on a clone of its session, and a stateful
    one makes the clone's streaming manager, which adds a listener bus
    to the context's listener bus. ``rollup_stream.run_stream`` removes
    that bus when the query stops, so after the first call, which may
    make the request's cached child session (``session.scoped``), the
    bus must not grow: neither for the stateless ``stream_pit_enrich``,
    whose clone gets a manager only when the bus is looked up, nor for
    the stateful ``streaming_daily_rollup``, which added one bus per
    run before."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    for name in ("stream_pit_enrich", "streaming_daily_rollup"):
        entry = plans.QUERIES[name]
        rel = duck.execute(entry.oracle)
        expected = _rowset([d[0] for d in rel.description], rel.fetchall())
        counts = []
        for _ in range(3):
            df = entry.fn(spark, SF_TEST_DIR)
            assert _rowset(df.columns, [tuple(r) for r in df.collect()]) == expected
            counts.append(bus.listeners().size())
        assert counts[1:] == counts[:1] * 2, (name, counts)


WRITERS = sorted(name for name, entry in plans.QUERIES.items() if entry.writes)
#: The queries whose module holds intermediates of its own
#: (``plans.memos.held``).
HOLDERS = sorted(
    name
    for name, entry in plans.QUERIES.items()
    if "held(" in Path(inspect.getfile(entry.build)).read_text()
)


class _Injected(Exception):
    """Raised in place of a builder's local frame."""


def _scratch_state(spark) -> tuple:
    """What a request may hold while it runs and must release when it
    returns or raises: the package's scratch dirs in the temp dir, the
    catalog's tables and each session's views (the root's and those of
    every child ``session.scoped`` made), running streams (counted in
    the state every session shares, so no session's streaming manager
    is made just to look), the context's persisted RDDs (cached frames
    and checkpoints) and each session's non-builtin functions."""
    sessions = [spark, *session._CHILDREN.values()]
    return (
        sorted(p for p in os.listdir(tempfile.gettempdir()) if p.startswith(SCRATCH_PREFIX)),
        {t.name for s in sessions for t in s.catalog.listTables()},
        spark._jsparkSession.sharedState().activeStreamingQueries().size(),
        [sorted(r[0] for r in s.sql("SHOW USER FUNCTIONS").collect()) for s in sessions],
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
    )


def _assert_left_as(spark, warm: tuple) -> None:
    """The state is as ``warm`` recorded it. Persisted RDDs may only
    have gone: the context cleaner unpersists an RDD some earlier test
    left behind once the JVM collects it."""
    now = _scratch_state(spark)
    assert now[:-1] == warm[:-1]
    assert now[-1] <= warm[-1], sorted(now[-1] - warm[-1])


@pytest.mark.parametrize("name", sorted({*WRITERS, *HOLDERS}))
def test_writing_query_releases_its_scratch_state(spark, monkeypatch, name):
    """A writing query, or one that holds intermediates of its own,
    leaves no scratch dir, table, view, running stream, persisted RDD or
    function behind, whether it returns or raises, and its later runs
    leave the context's listener bus as its first did. The first run
    warms the memos (and may make a ``session.scoped`` child), so the
    later runs are compared with the state it left; it must itself
    leave no scratch dir, table, view or stream. The raise is injected
    where the builder hands back its result: every ``plans.memos.local``
    call goes through ``_local_or_none``, which then raises; a query
    that never calls it is checked on return only."""
    build = plans.QUERIES[name].build
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = _scratch_state(spark)
    build(spark, SF_TEST_DIR)
    warm = _scratch_state(spark)
    assert warm[:3] == before[:3]
    listeners = bus.listeners().size()
    build(spark, SF_TEST_DIR)
    _assert_left_as(spark, warm)
    assert bus.listeners().size() == listeners

    def fail(*_):
        raise _Injected

    monkeypatch.setattr(memos, "_local_or_none", fail)
    try:
        build(spark, SF_TEST_DIR)
    except _Injected:
        pass
    _assert_left_as(spark, warm)
    assert bus.listeners().size() == listeners


PACKAGE = Path(plans.__file__).resolve().parents[1]
#: Ways a request changes state other clients share. Only the helper
#: that makes child sessions (session.scoped) may set a conf; the one
#: way to run a stream (rollup_stream.run_stream) drops a memory sink's
#: view; a UDTF or a Python data source is registered only on a
#: session the same file assigns from ``scoped`` or ``state_scope``
#: (which calls it). The batch Python
#: source and sink stay on the caller's session, registered once per
#: session by ``session.python_source``: registration and the writer
#: consult the thread's active session, not a child (see there).
_SHARED_STATE = re.compile(
    r"conf\.(set|unset)\(|TempView\(|register_views|(\w+)\.(udtf|dataSource)\.register\("
)
_ALLOWED = {
    ("session.py", "child.conf.set(k, v)"),
    ("session.py", "spark.dataSource.register(source)"),
    ("rollup_stream.py", "jq.sparkSession().catalog().dropTempView(q.name)"),
}


def test_only_the_scope_helper_touches_session_state():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for n, line in enumerate(text.splitlines(), 1):
            code = line.strip()
            m = _SHARED_STATE.search(code)
            if not m or code.startswith("#"):
                continue
            if (path.name, code) in _ALLOWED:
                continue
            if m[2] and re.search(rf"\b{m[2]} = (scoped|state_scope)\(", text):
                continue
            hits.append(f"{path.relative_to(PACKAGE)}:{n}: {code}")
    assert not hits, "\n".join(hits)


def _own_nodes(fn: ast.FunctionDef):
    """The nodes of ``fn``'s body, not of the functions nested in it (a
    thunk's checkpointed intermediate is not a frame ``fn`` hands back)."""
    todo = list(fn.body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
            todo.extend(ast.iter_child_nodes(node))


def _checkpoints(node) -> bool:
    return isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "localCheckpoint"


def test_no_function_returns_a_checkpointed_frame():
    """``localCheckpoint`` blocks die at ``plans.memos.clear_all()``, so
    no module-level function hands one back, directly or through a name
    it bound: a bounded result is a local frame (``plans.memos.local``),
    anything else stays lazy."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(_own_nodes(fn))
            bound = {
                t.id
                for n in nodes
                if isinstance(n, ast.Assign) and _checkpoints(n.value)
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            hits += [
                f"{path.relative_to(PACKAGE)}:{n.lineno}: {fn.name}"
                for n in nodes
                if isinstance(n, ast.Return)
                and (_checkpoints(n.value) or getattr(n.value, "id", None) in bound)
            ]
    assert not hits, "\n".join(hits)


def _held_misses(tree: ast.AST) -> list[ast.Call]:
    """The calls in ``tree`` that release a frame by hand (``unpersist``)
    or keep one (``cache``, ``persist``, ``localCheckpoint``) other than
    as the direct argument of ``held(...)``."""
    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    held_args = {
        id(a)
        for n in calls
        if getattr(n.func, "id", getattr(n.func, "attr", None)) == "held"
        for a in n.args
    }
    return [
        n
        for n in calls
        if getattr(n.func, "attr", None) == "unpersist"
        or (
            getattr(n.func, "attr", None) in ("cache", "persist", "localCheckpoint")
            and id(n) not in held_args
        )
    ]


def test_every_kept_frame_is_held():
    """Outside ``plans/memos.py``, every frame a builder caches, persists
    or checkpoints is the direct argument of ``plans.memos.held``, which
    releases it on return and on error, and nothing unpersists by
    hand."""
    hits = [
        f"{path.relative_to(PACKAGE)}:{n.lineno}: {ast.unparse(n)[:80]}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "plans" / "memos.py"
        for n in _held_misses(ast.parse(path.read_text()))
    ]
    assert not hits, "\n".join(hits)


#: Reading the environment: ``os.environ``, ``os.getenv`` or either
#: imported bare.
_ENV_READ = re.compile(r"\b(environ|getenv)\b")


def test_only_the_session_factory_reads_the_environment():
    """Deployment settings (cores, local mode, input directory, driver
    memory) are read in session.py alone; no other module switches its
    behaviour on an environment variable."""
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _ENV_READ.search(line) and not line.strip().startswith("#")
    ]
    assert not hits, "\n".join(hits)


def test_udtf_registration_stays_off_the_callers_session(spark):
    """The UDTF a query registers lands on a child session: the
    caller's function registry does not gain its name."""
    plans.QUERIES["udtf_word_chunks"].build(spark, SF_TEST_DIR).collect()
    assert not spark.catalog.functionExists("chunk_words")
