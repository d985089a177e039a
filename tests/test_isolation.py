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

import re
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

from big_data_competition_dxc_spark import plans
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
    """A child session whose streaming manager is touched adds a
    listener to the context's bus for good, so the child a streaming
    query runs on must be reused, never made per call: after the first
    call, which makes the child, the bus must not grow. The query is a
    stateless stream; on PySpark 4.1 every run of a stateful stream
    leaves one more listener behind on any session, the shared one
    included."""
    entry = plans.QUERIES["stream_pit_enrich"]
    bus = spark.sparkContext._jsc.sc().listenerBus()
    rel = duck.execute(entry.oracle)
    expected = _rowset([d[0] for d in rel.description], rel.fetchall())
    counts = []
    for _ in range(3):
        df = entry.fn(spark, SF_TEST_DIR)
        assert _rowset(df.columns, [tuple(r) for r in df.collect()]) == expected
        counts.append(bus.listeners().size())
    assert counts[1:] == counts[:1] * 2, counts


PACKAGE = Path(plans.__file__).resolve().parents[1]
#: Ways a request changes state other clients share. Only the helper
#: that makes child sessions (session.scoped) may set a conf; a memory
#: sink's own ``sink_<uuid>`` view may be dropped; a UDTF or a Python
#: data source is registered only on a session the same file assigns
#: from ``scoped`` or ``state_scope`` (which calls it). The batch Python
#: source and sink stay on the caller's session: registration and the
#: writer consult the thread's active session, not a child (see each
#: site).
_SHARED_STATE = re.compile(
    r"conf\.(set|unset)\(|TempView\(|register_views|(\w+)\.(udtf|dataSource)\.register\("
)
_ALLOWED = {
    ("session.py", "child.conf.set(k, v)"),
    ("pysink.py", "spark.dataSource.register(AuditedSinkSource)"),
    ("pysource.py", "spark.dataSource.register(DeterministicFeedSource)"),
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
            if (path.name, code) in _ALLOWED or "dropTempView(sink)" in code:
                continue
            if m[2] and re.search(rf"\b{m[2]} = (scoped|state_scope)\(", text):
                continue
            hits.append(f"{path.relative_to(PACKAGE)}:{n}: {code}")
    assert not hits, "\n".join(hits)


def test_udtf_registration_stays_off_the_callers_session(spark):
    """The UDTF a query registers lands on a child session: the
    caller's function registry does not gain its name."""
    plans.QUERIES["udtf_word_chunks"].build(spark, SF_TEST_DIR).collect()
    assert not spark.catalog.functionExists("chunk_words")
