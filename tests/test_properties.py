"""Property-based checks (hypothesis) for the cross-engine invariants
the oracle gate depends on (SURVEY §5: correctness is constructed).

These target the two spots where parity is subtle rather than
structural: the shared rounding formula under adversarial doubles, and
the shifted-date-join vs window-lag equivalence, which holds exactly
when the date series is dense (SURVEY §7.1) — both directions of that
claim are pinned.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from big_data_competition_dxc_spark.functions.rounding import round_to, sql_round

# doubles that stress the halfway behavior: exact 2-decimal values,
# near-halfway 3-decimal values, and arbitrary floats
_adversarial = st.one_of(
    st.integers(-10**6, 10**6).map(lambda n: n / 100.0),  # exact cents
    st.integers(-10**6, 10**6).map(lambda n: n / 1000.0 + 0.005),  # halfway
    st.floats(-1e9, 1e9, allow_nan=False, allow_infinity=False),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_adversarial, min_size=1, max_size=100))
def test_round_to_matches_duckdb(spark, values):
    """floor(x*100+0.5)/100 must agree bit-for-bit across engines for
    any double — this is the axiom every oracle comparison rests on."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, x double")
    srows = {
        r["i"]: r["y"]
        for r in sdf.select("i", round_to(F.col("x"), 2).alias("y")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(values)])
    drows = dict(con.execute(f"SELECT i, {sql_round('x', 2)} FROM t").fetchall())
    con.close()
    assert srows == drows


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 1000), min_size=2, max_size=20),
    st.sets(st.integers(1, 18), max_size=5),
)
def test_shifted_join_vs_window_lag(spark, counts, holes):
    """On DENSE dates the shifted-date join equals window lag exactly;
    a hole in the calendar makes the join yield 0 (no row on the prior
    calendar day) while window lag reaches back to the last existing
    row — the semantic difference SURVEY §7.1 requires us to preserve."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), int(c))
        for i, c in enumerate(counts)
        if i not in holes  # drop some days -> sparse series
    ]
    if not rows:
        return
    daily = spark.createDataFrame(rows, "ds date, n int")

    shifted = daily.select(F.date_add("ds", 1).alias("ds"), F.col("n").alias("prev"))
    join_lag = daily.join(shifted, "ds", "left").na.fill({"prev": 0})

    w = Window.orderBy("ds")
    win_lag = daily.withColumn("prev", F.coalesce(F.lag("n").over(w), F.lit(0)))

    j = {r["ds"]: r["prev"] for r in join_lag.collect()}
    v = {r["ds"]: r["prev"] for r in win_lag.collect()}
    kept = {r[0] for r in rows}
    for ds in kept:
        prior_day_exists = (ds - datetime.timedelta(days=1)) in kept
        if prior_day_exists:
            assert j[ds] == v[ds], f"dense date {ds}: forms must agree"
        else:
            assert j[ds] == 0, f"calendar hole before {ds}: join form must yield 0"


def test_sessionize_exact_boundary_microseconds(spark, tmp_path):
    """A gap of EXACTLY 30:00.000000 must stay in-session (strict >) and
    30:00.000001 must split — pinned at integer-microsecond resolution.
    The old double-epoch compare had ~0.5 µs of ulp noise at 2024 epochs,
    which could flip a boundary gap across the strict inequality."""
    import datetime as dt

    from big_data_competition_dxc_spark.streaming.sessionize import sessionize_batch

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, 100, t0, 1.0, "click", "{}"),
        (2, 100, t0 + gap, 1.0, "click", "{}"),            # exactly 30:00 -> same session
        (3, 100, t0 + gap + gap + us, 1.0, "click", "{}"), # 30:00.000001 -> new session
        (4, 200, t0, 1.0, "click", "{}"),
        (5, 200, t0 + gap - us, 1.0, "click", "{}"),       # 29:59.999999 -> same session
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, ts timestamp, value double, "
        "event_type string, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = sessionize_batch(spark, str(tmp_path)).collect()
    sessions = {}
    for r in out:
        sessions.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(sessions[100]) == [1, 2]  # [e1,e2] together, e3 alone
    assert sessions[200] == [2]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(1, 10**7).map(lambda n: n / 100.0), min_size=2, max_size=200),
    st.integers(1, 16),
    st.integers(1, 16),
)
def test_fixed_sum_avg_order_independent(spark, values, parts_a, parts_b):
    """fixed_sum/fixed_avg must return BIT-IDENTICAL doubles regardless
    of partitioning (the whole point: plain SUM(double) varies in its
    last ulp with partition order, which the oracle hash gate sees),
    and must agree with DuckDB's exact integer accumulation."""
    from big_data_competition_dxc_spark.functions.rounding import (
        fixed_avg,
        fixed_sum,
        sql_fixed_avg,
        sql_fixed_sum,
    )
    from pyspark.sql import functions as F

    def run(n_parts):
        df = spark.createDataFrame([(v,) for v in values], "x double").repartition(n_parts)
        [r] = df.agg(
            fixed_sum(F.col("x"), 2, 2).alias("s"),
            fixed_avg(F.col("x"), 2, 4).alias("a"),
        ).collect()
        return r["s"], r["a"]

    ra, rb = run(parts_a), run(parts_b)
    assert ra == rb  # partitioning-invariant, bitwise

    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    [oracle] = con.execute(
        f"SELECT {sql_fixed_sum('x', 2, 2)} AS s, {sql_fixed_avg('x', 2, 4)} AS a FROM t"
    ).fetchall()
    con.close()
    assert ra == oracle  # cross-engine, bitwise


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation on a worst-case chain (diameter = n-1) plus
    a clique and a singleton: every node must land on its component's
    minimum id, and the chain must still converge within MAX_ROUNDS."""
    from pyspark.sql import functions as F

    from big_data_competition_dxc_spark.dedup.clustering import connected_components

    # chain 10-11-12-...-19 (diameter 9), clique {30,31,32}, singleton 99
    chain = [(i, i + 1) for i in range(10, 19)]
    clique = [(30, 31), (30, 32), (31, 32)]
    edges = spark.createDataFrame(chain + clique, "u bigint, v bigint")
    nodes = spark.createDataFrame(
        [(i,) for i in range(10, 20)] + [(30,), (31,), (32,), (99,)], "id bigint"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {**{i: 10 for i in range(10, 20)}, 30: 30, 31: 30, 32: 30, 99: 99}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**9),
            st.text(alphabet="abcdef|", min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_table_checksum_order_independent(spark, rows, parts_a, parts_b):
    """The bit_xor md5 table fingerprint (table_checksum_audit) must be
    identical under any partitioning and row order — including rows
    whose string fields contain the '|' separator itself (the checksum
    only promises equality for equal multisets of rendered rows, which
    reordering preserves)."""
    from pyspark.sql import functions as F

    from big_data_competition_dxc_spark.operators.audit import _row_checksum

    def checksum(df):
        [r] = df.agg(
            _row_checksum([F.col("k").cast("string"), F.col("s")]).alias("c")
        ).collect()
        return r["c"]

    base = spark.createDataFrame(rows, "k long, s string")
    a = checksum(base.repartition(parts_a))
    b = checksum(base.repartition(parts_b, "s"))
    c = checksum(base.orderBy(F.desc("k")))
    assert a == b == c


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.one_of(
            st.text(min_size=0, max_size=60),
            st.text(alphabet="0123456789abcdef:", min_size=1, max_size=40),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_md5_bigint_matches_duckdb(spark, texts):
    """The parity-critical portable-hash idiom (functions/hashing.py):
    Spark conv(substr(md5(s),1,15),16,10) must equal DuckDB
    ('0x'||substr(md5(s),1,15))::BIGINT for arbitrary unicode strings —
    every dedup/sampling/rotation split in the engine rides on this."""
    from big_data_competition_dxc_spark.functions.hashing import (
        md5_bigint,
        sql_md5_bigint,
    )
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r[0] for r in sdf.select(md5_bigint(F.col("s"))).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {sql_md5_bigint('?::VARCHAR')}", [t]).fetchone()[0]
        for t in texts
    ]
    con.close()
    assert got == want
    assert all(v >= 0 for v in got)  # 60 bits: never negative


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_random_graphs(spark, raw_edges):
    """connected_components vs a pure-Python union-find on random small
    graphs (self-loops and duplicate edges included — the kernel must
    tolerate both). Pins the r9 rewrite: propagation runs only over
    edge-touched nodes, so isolated nodes exercise the left-join +
    coalesce path every example."""
    from pyspark.sql import functions as F

    from big_data_competition_dxc_spark.dedup.clustering import (
        connected_components,
    )

    node_ids = list(range(25))
    parent = {i: i for i in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in raw_edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expected = {i: find(i) for i in node_ids}

    edges_rows = [(u, v) for u, v in raw_edges if u != v]
    if edges_rows:
        edges = spark.createDataFrame(edges_rows, "u bigint, v bigint")
    else:
        edges = spark.createDataFrame([], "u bigint, v bigint")
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id bigint")
    got = {r["id"]: r["label"] for r in connected_components(nodes, edges).collect()}
    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_loop_matches_oracle_on_random_corpora(spark, tmp_path_factory, words):
    """The Spark merge loop and the chained-CTE DuckDB oracle must
    produce identical merge tables AND final token rows on ARBITRARY
    tiny corpora over {a,b} — runs ("aaa", self-adjacent exclusion),
    ties (count DESC then pair ASC), sub-N_MERGES corpora (the
    COALESCE-guarded degenerate passthrough), and 1-char words (the
    len >= 2 filter) all land in this space."""
    import pandas as pd

    from big_data_competition_dxc_spark.textops.bpe_learn import (
        N_MERGES,
        _oracle_sql,
        _run_merge_loop,
    )

    d = tmp_path_factory.mktemp("bpe_prop")
    text = " ".join(words)
    pd.DataFrame(
        {
            "doc_id": [1],
            "text": [text],
            "lang": ["en"],
            "source": ["t"],
            "n_chars": [len(text)],
        }
    ).to_parquet(d / "documents.parquet")

    with _run_merge_loop(spark, str(d), N_MERGES) as (merges, toks):
        spark_toks = sorted(tuple(r) for r in toks.select("w", "freq", "pos", "sym").collect())
    spark_merges = [tuple(m) for m in merges]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    sql = _oracle_sql(N_MERGES)
    oracle_merges = [tuple(r) for r in con.execute(sql).fetchall()]
    head = sql[: sql.index("\nSELECT * FROM (")]
    oracle_toks = sorted(
        tuple(r)
        for r in con.execute(
            head + f"\nSELECT w, freq, pos, sym FROM tok{N_MERGES}"
        ).fetchall()
    )
    con.close()
    assert spark_merges == oracle_merges
    assert spark_toks == oracle_toks


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # labels: (user, day)
        st.tuples(st.integers(0, 3), st.integers(1, 8)),
        min_size=1,
        max_size=12,
    ),
    st.dictionaries(  # clicks: one row per (user, day) -> count
        st.tuples(st.integers(0, 3), st.integers(1, 8)),
        st.integers(1, 5),
        max_size=10,
    ),
    st.dictionaries(  # spend: one row per (user, day) -> cents
        st.tuples(st.integers(0, 3), st.integers(1, 8)),
        st.integers(1, 10**6),
        max_size=10,
    ),
)
def test_pit_enrich_matches_bruteforce(spark, labels, clicks, spend):
    """pit_enrich_frames vs a brute-force Python spec on random
    timelines: clicks_before = sum of click_n at STRICTLY earlier days
    (0 if none), spend_before = day_spend at the LATEST strictly
    earlier day (None if none). Same-day features excluded (the
    leakage rule), duplicate same-day labels, users with no features,
    and feature-only users all land in this space."""
    from pyspark.sql import functions as F  # noqa: F401

    from big_data_competition_dxc_spark.operators.feature_pit import (
        pit_enrich_frames,
    )

    lbl_rows = [(u, d, i) for i, (u, d) in enumerate(labels)]
    click_rows = [(u, d, n) for (u, d), n in clicks.items()]
    spend_rows = [(u, d, c / 100.0) for (u, d), c in spend.items()]

    ldf = spark.createDataFrame(lbl_rows, "user_id bigint, t int, event_id bigint")
    cdf = (
        spark.createDataFrame(click_rows, "user_id bigint, t int, click_n bigint")
        if click_rows
        else spark.createDataFrame([], "user_id bigint, t int, click_n bigint")
    )
    sdf = (
        spark.createDataFrame(spend_rows, "user_id bigint, t int, day_spend double")
        if spend_rows
        else spark.createDataFrame([], "user_id bigint, t int, day_spend double")
    )

    got = {
        r["event_id"]: (r["clicks_before"], r["spend_before"])
        for r in pit_enrich_frames(ldf, cdf, sdf).collect()
    }

    expected = {}
    for u, d, i in lbl_rows:
        cb = sum(n for (u2, d2), n in clicks.items() if u2 == u and d2 < d)
        earlier = [(d2, c) for (u2, d2), c in spend.items() if u2 == u and d2 < d]
        sb = max(earlier)[1] / 100.0 if earlier else None
        expected[i] = (cb, sb)

    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=3, max_size=6),
        min_size=2,
        max_size=6,
    )
)
def test_minhash_verified_spec_on_random_corpora(spark, tmp_path_factory, docs):
    """Spec (not algorithm-replay) properties of minhash_dedup_verified
    on random tiny corpora over a 3-word pool (plus a forced exact
    duplicate of doc 1):
      1. no false positives: every reported pair's TRUE shingle-Jaccard
         is >= the threshold;
      2. reported jaccard values equal the brute-force value (rounded
         with the shared cross-engine formula);
      3. exact-duplicate texts are ALWAYS reported at 1.0 — identical
         shingle sets collide in every band, the one recall guarantee
         LSH makes unconditionally."""
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.dedup.jaccard import (
        JACCARD_THRESHOLD,
        SHINGLE_WORDS,
    )

    plans.load_all()
    texts = [" ".join(ws) for ws in docs] + [" ".join(docs[0])]
    d = tmp_path_factory.mktemp("mh_prop")
    pd.DataFrame(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in plans.QUERIES["minhash_dedup_verified"].fn(spark, str(d)).collect()
    }

    def shingles(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + SHINGLE_WORDS])
            for i in range(len(toks) - SHINGLE_WORDS + 1)
        }

    sh = {i + 1: shingles(t) for i, t in enumerate(texts)}
    true_j = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] and sh[b]:
                inter = len(sh[a] & sh[b])
                true_j[(a, b)] = inter * 1.0 / (len(sh[a]) + len(sh[b]) - inter)

    for pair, j in got.items():
        assert true_j[pair] >= JACCARD_THRESHOLD  # no false positive
        assert j == math.floor(true_j[pair] * 10000.0 + 0.5) / 10000.0

    for pair, j in true_j.items():
        if sh[pair[0]] == sh[pair[1]]:  # identical shingle sets
            assert got.get(pair) == 1.0


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=1, max_size=6),
        min_size=2,
        max_size=6,
    )
)
def test_simhash_pairs_exactly_match_bruteforce(spark, tmp_path_factory, docs):
    """simhash_neardup_pairs is EXACT by construction (pigeonhole
    chunk-bucketing has perfect recall within the Hamming threshold;
    the verify step filters to the true distance), so on random tiny
    corpora the reported pair set and every hamming value must EQUAL a
    from-scratch Python recomputation of the published algorithm:
    md5-token 48-bit hashing, +count/-count bit votes, strict sign
    (tie -> 0 bit), pairwise popcount."""
    import hashlib

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.dedup.simhash import (
        HAMMING_THRESHOLD,
        NUM_BITS,
    )

    plans.load_all()
    texts = [" ".join(ws) for ws in docs] + [" ".join(docs[0])]
    d = tmp_path_factory.mktemp("sh_prop")
    pd.DataFrame(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in plans.QUERIES["simhash_neardup_pairs"].fn(spark, str(d)).collect()
    }

    def simhash(text):
        counts = {}
        for tok in text.split():
            counts[tok] = counts.get(tok, 0) + 1
        fp = 0
        for j in range(NUM_BITS):
            contrib = 0
            for tok, cnt in counts.items():
                h = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16)
                contrib += cnt if (h >> j) & 1 else -cnt
            if contrib > 0:
                fp |= 1 << j
        return fp

    fps = {i + 1: simhash(t) for i, t in enumerate(texts)}
    expected = {}
    for a in fps:
        for b in fps:
            if a < b:
                ham = bin(fps[a] ^ fps[b]).count("1")
                if ham <= HAMMING_THRESHOLD:
                    expected[(a, b)] = ham

    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # events: (user, minute offset, cents)
        st.tuples(st.integers(0, 2), st.integers(0, 120), st.integers(0, 10**4)),
        min_size=1,
        max_size=15,
    )
)
def test_sessionize_batch_matches_bruteforce(spark, tmp_path_factory, events):
    """sessionize_batch vs a brute-force Python split on random
    timelines over a minute grid (so gaps land EXACTLY on the
    30-minute boundary with real probability — strictly-greater means
    a gap of exactly 30min does NOT split). Duplicate timestamps per
    user and single-event sessions land in this space too."""
    import datetime as dt

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.streaming.sessionize import GAP_MINUTES

    plans.load_all()
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (u, base + dt.timedelta(minutes=m), c / 100.0) for u, m, c in events
    ]
    d = tmp_path_factory.mktemp("sess_prop")
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")

    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["total_value"])
        for r in plans.QUERIES["sessionize_batch"].fn(spark, str(d)).collect()
    )

    expected = []
    by_user = {}
    for u, t, v in rows:
        by_user.setdefault(u, []).append((t, v))
    for u, evs in by_user.items():
        evs.sort(key=lambda e: e[0])
        sessions, cur = [], [evs[0]]
        for e in evs[1:]:
            if (e[0] - cur[-1][0]) > dt.timedelta(minutes=GAP_MINUTES):
                sessions.append(cur)
                cur = [e]
            else:
                cur.append(e)
        sessions.append(cur)
        for s in sessions:
            cents = sum(int(round(v * 100)) for _, v in s)
            expected.append((u, s[0][0], s[-1][0], len(s), cents / 100.0))
    expected.sort()

    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.dictionaries(  # one reading per (user, minute offset) -> cents
        st.tuples(st.integers(0, 2), st.integers(0, 300)),
        st.integers(0, 10**4),
        min_size=1,
        max_size=12,
    )
)
def test_linear_interpolation_matches_bruteforce(spark, tmp_path_factory, readings):
    """linear_interpolate_hourly vs a brute-force Python spec on random
    irregular timelines: per grid hour g, prev = latest reading at
    t <= g, next = earliest reading at t > g (the (ts, is_grid) tie
    rule: a reading ON a grid point brackets it from the left), edges
    bfill/ffill, blend by exact microsecond fraction, shared rounding
    formula. Single-reading users (pure bfill) land here too."""
    import datetime as dt
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans

    plans.load_all()
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (u, base + dt.timedelta(minutes=m), c / 100.0)
        for (u, m), c in readings.items()
    ]
    d = tmp_path_factory.mktemp("interp_prop")
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")

    got = {
        (r["user_id"], r["ts"]): r["value_interp"]
        for r in plans.QUERIES["linear_interpolate_hourly"].fn(spark, str(d)).collect()
    }

    expected = {}
    by_user = {}
    for u, t, v in rows:
        by_user.setdefault(u, []).append((t, v))
    hour = dt.timedelta(hours=1)
    for u, evs in by_user.items():
        evs.sort(key=lambda e: e[0])
        h0 = evs[0][0].replace(minute=0, second=0, microsecond=0)
        h1 = evs[-1][0].replace(minute=0, second=0, microsecond=0)
        g = h0
        while g <= h1:
            prev = [(t, v) for t, v in evs if t <= g]
            nxt = [(t, v) for t, v in evs if t > g]
            if not prev:
                val = nxt[0][1]
            elif not nxt:
                val = prev[-1][1]
            else:
                pt, pv = prev[-1]
                nt, nv = nxt[0]
                # exact integer microseconds, divided once — the same
                # IEEE operation the engine performs; total_seconds()
                # would pre-divide each side by 1e6 and can differ by
                # an ulp, flipping the 6dp rounding on a boundary
                num = (g - pt) // dt.timedelta(microseconds=1)
                den = (nt - pt) // dt.timedelta(microseconds=1)
                val = pv + (nv - pv) * (num / den)
            expected[(u, g)] = math.floor(val * 1000000.0 + 0.5) / 1000000.0
            g += hour
    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.dictionaries(  # (user, day offset) -> events that day
        st.tuples(st.integers(0, 2), st.integers(0, 12)),
        st.integers(1, 3),
        min_size=1,
        max_size=12,
    )
)
def test_rolling_median_matches_bruteforce(spark, tmp_path_factory, daily):
    """rolling_median_7d vs brute force on random sparse calendars: the
    frame is ROWS over the user's PRESENT days (a missing day does not
    consume a slot — the subtle difference from a RANGE/calendar
    reading), and the median is PERCENTILE_CONT's midpoint rule on the
    sorted <= 7 counts. Even/odd frames and gap-heavy users land here."""
    import datetime as dt
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans

    plans.load_all()
    base = dt.datetime(2024, 3, 1, 6, 0, 0)
    rows = []
    for (u, day), n in daily.items():
        for i in range(n):
            rows.append((u, base + dt.timedelta(days=day, minutes=i), 1.0))
    d = tmp_path_factory.mktemp("med_prop")
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")

    got = {
        (r["user_id"], r["ds"]): (r["n_events"], r["med7"])
        for r in plans.QUERIES["rolling_median_7d"].fn(spark, str(d)).collect()
    }

    expected = {}
    by_user = {}
    for (u, day), n in daily.items():
        by_user.setdefault(u, []).append((day, n))
    for u, days in by_user.items():
        days.sort()
        for i, (day, n) in enumerate(days):
            frame = sorted(c for _, c in days[max(0, i - 6) : i + 1])
            k = len(frame)
            lo = frame[math.floor((k + 1) / 2.0) - 1]
            hi = frame[math.ceil((k + 1) / 2.0) - 1]
            med = (lo + hi) / 2.0
            ds = (base + dt.timedelta(days=day)).date()
            expected[(u, ds)] = (n, math.floor(med * 10000.0 + 0.5) / 10000.0)

    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # delta docs (ids 1..n, all < FIXED_DELTA_DOCS)
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=3, max_size=5),
        min_size=1,
        max_size=4,
    ),
    st.lists(  # corpus docs (ids 100.., all >= FIXED_DELTA_DOCS)
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=3, max_size=5),
        min_size=1,
        max_size=4,
    ),
)
def test_incremental_dedup_spec_on_random_corpora(
    spark, tmp_path_factory, delta_docs, corpus_docs
):
    """Sound spec properties of incremental_dedup_fixed_delta on random
    split corpora (plus a forced exact duplicate of delta doc 1 planted
    in the corpus):
      1. a reported best_jaccard equals the TRUE shingle-Jaccard of
         (doc, best_match) and clears the threshold;
      2. a delta doc with NO corpus doc at true Jaccard >= threshold
         must come back novel (0 matches, NULL best) — verification
         filters by true Jaccard, so no candidate can survive;
      3. a corpus doc with an IDENTICAL shingle set to a delta doc is
         always found (banding recall is unconditional on equality), so
         best_jaccard == 1.0 and n_corpus_matches counts it."""
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.dedup.jaccard import (
        JACCARD_THRESHOLD,
        SHINGLE_WORDS,
    )

    plans.load_all()
    delta = [" ".join(ws) for ws in delta_docs]
    corpus = [" ".join(ws) for ws in corpus_docs] + [delta[0]]  # planted dup
    ids = list(range(1, len(delta) + 1)) + list(range(100, 100 + len(corpus)))
    texts = delta + corpus
    d = tmp_path_factory.mktemp("inc_prop")
    pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")

    got = {
        r["doc_id"]: (r["n_corpus_matches"], r["best_match"], r["best_jaccard"])
        for r in plans.QUERIES["incremental_dedup_fixed_delta"]
        .fn(spark, str(d))
        .collect()
    }
    assert set(got) == set(range(1, len(delta) + 1))

    def shingles(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + SHINGLE_WORDS])
            for i in range(len(toks) - SHINGLE_WORDS + 1)
        }

    sh = dict(zip(ids, (shingles(t) for t in texts)))

    def jac(a, b):
        inter = len(sh[a] & sh[b])
        return inter * 1.0 / (len(sh[a]) + len(sh[b]) - inter)

    corpus_ids = [i for i in ids if i >= 100]
    for did in range(1, len(delta) + 1):
        n, best, bj = got[did]
        true_close = [c for c in corpus_ids if jac(did, c) >= JACCARD_THRESHOLD]
        if not true_close:
            assert (n, best, bj) == (0, None, None)
        if best is not None:
            assert bj == math.floor(jac(did, best) * 10000.0 + 0.5) / 10000.0
            assert jac(did, best) >= JACCARD_THRESHOLD
        identical = [c for c in corpus_ids if sh[c] == sh[did]]
        if identical:
            assert bj == 1.0
            assert n >= len(identical)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.dictionaries(  # (user, item) -> quantity
        st.tuples(st.integers(0, 4), st.integers(0, 5)),
        st.integers(1, 60),
        min_size=2,
        max_size=18,
    )
)
def test_itemcf_neighbors_match_bruteforce(spark, tmp_path_factory, cells):
    """itemcf_item_neighbors vs a from-scratch Python recomputation on
    random ratings matrices: quantity -> clamped 1..5 rating, top-CAP
    per user (rating DESC, item tie-break), cosine co/sqrt(ni*nj)
    fixed to integer micro-units at the single float op, popularity
    top-{N} query items, per-item top-{K} by (sim DESC, j). Pins the
    entire scoring chain independently of the structural oracle."""
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.ml.itemcf import (
        K_NEIGHBORS,
        MICRO,
        N_QUERY_USERS,
        USER_ITEM_CAP,
    )

    plans.load_all()
    d = tmp_path_factory.mktemp("icf_prop")
    users = sorted({u for u, _ in cells})
    pd.DataFrame(
        {"o_orderkey": users, "o_custkey": users}
    ).astype("int64").to_parquet(d / "orders.parquet")
    li = pd.DataFrame(
        [(u, i, float(q)) for (u, i), q in cells.items()],
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    )
    li["l_orderkey"] = li["l_orderkey"].astype("int64")
    li["l_partkey"] = li["l_partkey"].astype("int64")
    li.to_parquet(d / "lineitem.parquet")

    got = {
        (r["item_id"], r["neighbor_id"]): (r["sim"], r["rn"])
        for r in plans.QUERIES["itemcf_item_neighbors"].fn(spark, str(d)).collect()
    }

    # brute force: ratings -> cap -> pop/co -> micro sims -> top-k
    rating = {
        (u, i): min(5, max(1, math.floor(q / 10.0) + 1)) for (u, i), q in cells.items()
    }
    by_user = {}
    for (u, i), rt in rating.items():
        by_user.setdefault(u, []).append((-rt, i))
    capped = set()
    for u, its in by_user.items():
        for _, i in sorted(its)[:USER_ITEM_CAP]:
            capped.add((u, i))
    pop = {}
    for u, i in capped:
        pop[i] = pop.get(i, 0) + 1
    co = {}
    for u, i in capped:
        for u2, j in capped:
            if u2 == u and j != i:
                co[(i, j)] = co.get((i, j), 0) + 1
    sim_u = {
        (i, j): math.floor(c / math.sqrt(pop[i] * pop[j]) * float(MICRO) + 0.5)
        for (i, j), c in co.items()
    }
    top_items = [i for i in sorted(pop, key=lambda i: (-pop[i], i))[:N_QUERY_USERS]]
    expected = {}
    for i in top_items:
        nbrs = sorted(
            ((j, s) for (i2, j), s in sim_u.items() if i2 == i),
            key=lambda e: (-e[1], e[0]),
        )
        for rn, (j, s) in enumerate(nbrs[:K_NEIGHBORS], start=1):
            disp = math.floor((s / float(MICRO)) * float(MICRO) + 0.5) / float(MICRO)
            expected[(i, j)] = (disp, rn)

    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.dictionaries(  # (user 1..6, item 0..5) -> quantity
        st.tuples(st.integers(1, 6), st.integers(0, 5)),
        st.integers(1, 60),
        min_size=3,
        max_size=20,
    )
)
def test_knn_user_neighbors_match_bruteforce(spark, tmp_path_factory, cells):
    """knn_user_neighbors (the reference's core ML9 user-cosine) vs a
    from-scratch Python recomputation on random ratings matrices: dot
    products over the query users' items, FULL-vector norms (items
    outside the query set still count in the denominator), 4dp rounded
    similarity, per-user top-k by (sim DESC, neighbor ASC)."""
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.ml.recommend import (
        K_NEIGHBORS,
        N_QUERY_USERS,
    )

    plans.load_all()
    d = tmp_path_factory.mktemp("knn_prop")
    users = sorted({u for u, _ in cells})
    pd.DataFrame(
        {"o_orderkey": users, "o_custkey": users}
    ).astype("int64").to_parquet(d / "orders.parquet")
    li = pd.DataFrame(
        [(u, i, float(q)) for (u, i), q in cells.items()],
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    )
    li["l_orderkey"] = li["l_orderkey"].astype("int64")
    li["l_partkey"] = li["l_partkey"].astype("int64")
    li.to_parquet(d / "lineitem.parquet")

    got = {
        (r["user_id"], r["neighbor_id"]): (r["sim"], r["rn"])
        for r in plans.QUERIES["knn_user_neighbors"].fn(spark, str(d)).collect()
    }

    rating = {
        (u, i): float(min(5, max(1, math.floor(q / 10.0) + 1)))
        for (u, i), q in cells.items()
    }
    qusers = [u for u in users if u <= N_QUERY_USERS]
    qitems = {i for (u, i) in rating if u in qusers}
    norm = {
        u: math.sqrt(sum(r * r for (u2, _), r in rating.items() if u2 == u))
        for u in users
    }
    expected = {}
    for u in qusers:
        sims = []
        for v in users:
            if v == u:
                continue
            dp = sum(
                rating[(u, i)] * rating[(v, i)]
                for i in qitems
                if (u, i) in rating and (v, i) in rating
            )
            if dp:
                s = dp / (norm[u] * norm[v])
                sims.append((v, math.floor(s * 10000.0 + 0.5) / 10000.0))
        sims.sort(key=lambda e: (-e[1], e[0]))
        for rn, (v, s) in enumerate(sims[:K_NEIGHBORS], start=1):
            expected[(u, v)] = (s, rn)

    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from(["spark", "join", "stream", "etl", "sql"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_bm25_matches_bruteforce(spark, tmp_path_factory, docs):
    """bm25_topk_docs vs a from-scratch Okapi BM25 (k1=1.2, b=0.75) on
    random tiny corpora mixing query and non-query terms: per-term tf,
    document length, df over the corpus, avgdl, the
    ln((N-df+.5)/(df+.5)+1) idf, the length-normalized tf saturation,
    4dp-rounded sum, global rank with doc_id tie-break."""
    import math

    import pandas as pd

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.textops.relevance import (
        B,
        K1,
        QUERY_TERMS,
        TOP_K,
    )

    plans.load_all()
    texts = [" ".join(ws) for ws in docs]
    d = tmp_path_factory.mktemp("bm25_prop")
    pd.DataFrame(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")

    got = {
        r["doc_id"]: (r["bm25"], r["rank"])
        for r in plans.QUERIES["bm25_topk_docs"].fn(spark, str(d)).collect()
    }

    toks = {i + 1: t.split() for i, t in enumerate(texts)}
    n_docs = len(toks)
    dl = {i: len(ws) for i, ws in toks.items()}
    avgdl = sum(dl.values()) * 1.0 / n_docs
    df = {}
    for ws in toks.values():
        for term in set(ws):
            df[term] = df.get(term, 0) + 1
    totals = {}
    for i, ws in toks.items():
        score = 0.0
        for q in QUERY_TERMS:
            tf = ws.count(q)
            if tf:
                idf = math.log((n_docs - df[q] + 0.5) / (df[q] + 0.5) + 1)
                score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl[i] / avgdl))
        if score:
            totals[i] = math.floor(score * 10000.0 + 0.5) / 10000.0
    ranked = sorted(totals.items(), key=lambda e: (-e[1], e[0]))[:TOP_K]
    expected = {i: (s, rn) for rn, (i, s) in enumerate(ranked, start=1)}

    assert got == expected
