"""Semantic invariants of the behavioral / temporal / audit operator
families — properties the DuckDB hash gate can't see (it proves
Spark == oracle, not that BOTH mean what the operator claims). Each
test pins a law of the operator's definition on the fixture.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_competition_dxc_spark import plans
from big_data_competition_dxc_spark.sources import load

from conftest import SF_TEST_DIR

plans.load_all()


def _df(name, spark):
    return plans.QUERIES[name].fn(spark, SF_TEST_DIR)


def test_funnel_stages_are_ordered(spark):
    """Stage timestamps must be strictly increasing where present, and
    the stage number must match which timestamps exist."""
    rows = _df("funnel_view_click_purchase", spark).collect()
    assert rows
    for r in rows:
        if r.t_click is not None:
            assert r.t_view is not None and r.t_click > r.t_view
        if r.t_purchase is not None:
            assert r.t_click is not None and r.t_purchase > r.t_click
        expected = 3 if r.t_purchase else 2 if r.t_click else 1 if r.t_view else 0
        assert r.stage == expected


def test_cohort_retention_anchors_at_one(spark):
    """Week-0 retention is exactly 1.0 (every user is active in their
    own first week), and no offset exceeds the cohort size."""
    rows = _df("cohort_retention", spark).collect()
    assert rows
    week0 = [r for r in rows if r.week_offset == 0]
    assert week0 and all(r.retention == 1.0 for r in week0)
    assert all(0 < r.n_active <= r.cohort_size for r in rows)


def test_markov_rows_normalize(spark):
    """Each prev_type's transition probabilities sum to ~1."""
    rows = _df("markov_transitions", spark).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, []).append(r.p_transition)
    assert by_prev
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-4, prev


def test_scd2_periods_tile_history(spark):
    """Per user: exactly one open (current) period, period event counts
    sum to the user's total events, and half-open intervals chain
    (every valid_to equals the next valid_from — guaranteed by
    construction via lead — with no NULL gaps in between)."""
    out = _df("scd2_type_periods", spark)
    per_user = (
        out.groupBy("user_id")
        .agg(
            F.sum("is_current").alias("n_open"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    )
    totals = {
        r.user_id: r.n
        for r in load(spark, SF_TEST_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_user
    for r in per_user:
        assert r.n_open == 1
        assert r.n_events == totals[r.user_id]


def test_time_weighted_avg_is_bounded(spark):
    """A time-weighted mean can never leave [min, max] of the user's
    readings."""
    twa = {r.user_id: r.twa_value for r in _df("time_weighted_avg", spark).collect()}
    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in load(spark, SF_TEST_DIR, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert twa
    for uid, v in twa.items():
        lo, hi = bounds[uid]
        assert lo - 1e-6 <= v <= hi + 1e-6


def test_interpolation_is_bounded(spark):
    """Linear interpolation (with edge ffill/bfill) stays within each
    user's observed value range."""
    interp = _df("linear_interpolate_hourly", spark)
    bounds = (
        load(spark, SF_TEST_DIR, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    bad = (
        interp.join(bounds, "user_id")
        .filter(
            (F.col("value_interp") < F.col("lo") - 1e-6)
            | (F.col("value_interp") > F.col("hi") + 1e-6)
        )
        .count()
    )
    assert bad == 0
    assert interp.filter(F.col("value_interp").isNull()).count() == 0


def test_hopping_windows_cover_each_event_twice(spark):
    """WIN/HOP = 2, so summed window counts are exactly 2x the events."""
    total = load(spark, SF_TEST_DIR, "events").count()
    windows = _df("hopping_window_counts", spark)
    assert windows.agg(F.sum("n_events")).collect()[0][0] == 2 * total


def test_class_rebalance_equalizes(spark):
    """After downsampling, every class has exactly the min class size."""
    docs = load(spark, SF_TEST_DIR, "documents")
    target = min(
        r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    )
    out = (
        _df("class_rebalance_downsample", spark)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(out) == 5
    assert all(r.n == target for r in out)


def test_decile_bins_partition_orders(spark):
    """Decile stats cover every order exactly once with monotone bins."""
    rows = sorted(_df("price_decile_stats", spark).collect(), key=lambda r: r.decile)
    n_orders = load(spark, SF_TEST_DIR, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders
    for a, b in zip(rows, rows[1:]):
        assert a.max_price <= b.min_price


def test_integrity_audit_is_clean_on_fixture(spark):
    """The synthetic star schema must have zero orphans on every edge —
    a nonzero count here means the audit (or the fixture) broke."""
    rows = _df("referential_integrity_audit", spark).collect()
    assert len(rows) == 7
    assert all(r.n_orphans == 0 for r in rows)
    assert all(r.n_child_rows >= r.n_child_keys > 0 for r in rows)


def test_incremental_dedup_delta_only(spark):
    """Incremental dedup must report ONLY hash-delta docs, never a
    corpus doc, and every best_match must be a corpus (non-delta) doc
    with a Jaccard at or above the verification threshold."""
    from big_data_competition_dxc_spark.dedup.incremental import DELTA_MOD
    from big_data_competition_dxc_spark.dedup.jaccard import JACCARD_THRESHOLD
    from big_data_competition_dxc_spark.functions.hashing import md5_bigint

    # sf0.01, not the default sf0.001: the smallest fixture's delta
    # slice happens to contain no near-dups, which would leave the
    # positive-match branch of this test vacuous. Derived from
    # SF_TEST_DIR so an env-relocated fixture tree still resolves.
    import os

    sf_dir = os.path.join(os.path.dirname(SF_TEST_DIR.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"sibling sf0.01 fixture not present at {sf_dir}")
    rows = plans.QUERIES["incremental_minhash_dedup"].fn(spark, sf_dir).collect()
    assert rows
    assert any(r.n_corpus_matches > 0 for r in rows), (
        "fixture must exercise the positive-match branch"
    )
    docs = load(spark, sf_dir, "documents")
    delta = {
        r.doc_id
        for r in docs.select("doc_id")
        .filter(md5_bigint(F.col("doc_id").cast("string")) % DELTA_MOD == 0)
        .collect()
    }
    assert {r.doc_id for r in rows} == delta  # exactly the delta slice
    for r in rows:
        if r.n_corpus_matches == 0:
            assert r.best_match is None and r.best_jaccard is None
        else:
            assert r.best_match not in delta  # matches come from corpus only
            assert r.best_jaccard >= JACCARD_THRESHOLD


def test_canonical_keep_one_per_family(spark):
    """Exactly one kept member per near-dup family, and the kept member
    maximizes (n_chars, then lowest doc_id) within its family."""
    rows = _df("neardup_canonical_keep", spark).collect()
    assert rows
    by_fam = {}
    for r in rows:
        by_fam.setdefault(r.component_id, []).append(r)
    for fam, members in by_fam.items():
        assert len(members) >= 2  # singleton families are excluded
        kept = [m for m in members if m.keep]
        assert len(kept) == 1
        best = min(members, key=lambda m: (-m.n_chars, m.doc_id))
        assert kept[0].doc_id == best.doc_id


def test_bpe_pairs_are_two_chars(spark):
    """Every reported pair is exactly two characters, counts are
    positive and ordered, and the most frequent pair's count matches a
    direct recount over the corpus."""
    rows = _df("bpe_pair_counts", spark).collect()
    assert rows
    assert all(len(r.pair) == 2 and r.n > 0 for r in rows)
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    top = rows[0]
    recount = (
        load(spark, SF_TEST_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .filter(F.col("pair") == top.pair)
        .count()
    )
    assert recount == top.n


def test_zorder_bounds_both_dimensions(spark):
    """The pruning law z-order exists for: under a shipdate-only sort
    the part extent of nearly every file spans the full grid (no
    pruning on part predicates); under z-order the MEAN extent of BOTH
    dimensions must be a small fraction of the grid."""
    from pyspark.sql import Window

    from big_data_competition_dxc_spark.operators.zorder import FILES, GRID

    rows = _df("zorder_layout_audit", spark).collect()
    assert len(rows) == FILES
    mean_part = sum(r.part_extent for r in rows) / len(rows)
    mean_date = sum(r.date_extent for r in rows) / len(rows)
    assert mean_part <= GRID / 2, mean_part
    assert mean_date <= GRID / 2, mean_date

    # the single-column-sort counterfactual, same bucketing, same files
    li = load(spark, SF_TEST_DIR, "lineitem")
    wx = Window.orderBy("l_partkey", "l_orderkey", "l_linenumber")
    wy = Window.orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    date_sorted = (
        li.select(
            (F.ntile(GRID).over(wx) - 1).alias("bx"),
            F.ntile(FILES).over(wy).alias("file_id"),
        )
        .groupBy("file_id")
        .agg((F.max("bx") - F.min("bx") + 1).alias("part_extent"))
        .collect()
    )
    mean_part_datesorted = sum(r.part_extent for r in date_sorted) / len(date_sorted)
    assert mean_part < mean_part_datesorted / 2, (
        f"z-order part extent {mean_part} should be far below the "
        f"date-sorted layout's {mean_part_datesorted}"
    )


def test_pit_feature_join_is_leakage_safe(spark):
    """The PIT law: every feature value visible at a label must derive
    from STRICTLY earlier days. Re-derives clicks_before independently
    (correlated count over raw events, a different plan shape than the
    union-window composition) and checks spend_before never reads a
    same-day or later order."""
    out = _df("pit_feature_join", spark)
    ev = load(spark, SF_TEST_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.to_date("ts").alias("cds")
    )
    # independent re-derivation: count of click events strictly before
    rederived = (
        out.join(clicks, "user_id", "left")
        .groupBy("event_id", "clicks_before")
        .agg(
            F.sum(
                F.when(F.col("cds") < F.col("label_ds"), 1).otherwise(0)
            ).alias("expect")
        )
    )
    bad = rederived.filter(
        F.col("clicks_before") != F.coalesce(F.col("expect"), F.lit(0))
    ).count()
    assert bad == 0
    # spend_before, when present, must equal the user's day-spend on
    # some strictly earlier date — and labels with NO earlier order
    # must carry NULL
    orders = load(spark, SF_TEST_DIR, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.to_date("o_orderdate").alias("ods"),
    )
    earliest = orders.groupBy("user_id").agg(F.min("ods").alias("first_ods"))
    joined = out.join(earliest, "user_id", "left")
    assert (
        joined.filter(
            F.col("spend_before").isNotNull()
            & (F.col("first_ods").isNull() | (F.col("first_ods") >= F.col("label_ds")))
        ).count()
        == 0
    )
    assert (
        joined.filter(
            F.col("spend_before").isNull()
            & F.col("first_ods").isNotNull()
            & (F.col("first_ods") < F.col("label_ds"))
        ).count()
        == 0
    )


def test_bpe_learn_merges_laws(spark):
    """Laws of the greedy merge loop: one row per iteration in order,
    merged = left||right with left != right, counts positive and
    NON-INCREASING (iteration 1 takes the global max; merging removes
    rows and creates adjacency only through the merged symbol, whose
    occurrence count is bounded by the chosen pair's — so no later
    pair can exceed an earlier winner), and the whole table is
    deterministic on rerun."""
    from big_data_competition_dxc_spark.textops.bpe_learn import N_MERGES

    rows = _df("bpe_learn_merges", spark).collect()
    assert [r.it for r in rows] == list(range(1, N_MERGES + 1))
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert r.left_sym != r.right_sym
        assert r.n > 0
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    rerun = plans.QUERIES["bpe_learn_merges"].build(spark, SF_TEST_DIR).collect()  # runs again
    assert [tuple(r) for r in rerun] == [tuple(r) for r in rows]


def test_bpe_merge_apply_reconstructs_words(spark):
    """The reconstruction law: after all merge rounds, concatenating a
    word's surviving symbols in position order reproduces the word
    exactly — the apply step (drop absorbed row, rewrite merged row,
    renumber) loses and duplicates nothing, for every word type."""
    from big_data_competition_dxc_spark.textops.bpe_learn import (
        N_MERGES,
        _run_merge_loop,
    )

    from pyspark.sql import Window

    merges, toks = _run_merge_loop(spark, SF_TEST_DIR, N_MERGES)
    assert len(merges) == N_MERGES
    # collect_list order is nondeterministic — sort (pos, sym) structs
    # inside the array before joining, so the check is order-proof
    rebuilt = (
        toks.withColumn(
            "joined",
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "sym")).over(
                            Window.partitionBy("w")
                        )
                    ),
                    lambda s: s["sym"],
                ),
            ),
        )
        .select("w", "joined")
        .distinct()
    )
    assert rebuilt.filter(F.col("w") != F.col("joined")).count() == 0


def test_bpe_encode_stats_consistency(spark):
    """Encoding stats must be internally consistent: saved =
    before - after, after < before (3 merges on this corpus always
    save something), compression = before/after at 4dp, and the saved
    total equals the sum of the learned merge counts (each merge
    occurrence removes exactly one token, corpus-weighted)."""
    [r] = _df("bpe_encode_stats", spark).collect()
    assert r.saved == r.tokens_before - r.tokens_after > 0
    assert abs(r.compression - round(r.tokens_before / r.tokens_after, 4)) < 1e-9
    merges = _df("bpe_learn_merges", spark).collect()
    assert r.saved == sum(m.n for m in merges)


def test_bpe_oracle_degenerate_corpus_matches_loop(spark, tmp_path):
    """A corpus with FEWER than N_MERGES mergeable pairs must produce
    the same merge table AND the same final token rows from the Spark
    loop (clean ``break``) and the DuckDB oracle (COALESCE-guarded
    tok{i} passthrough). Before the r12 guard, the oracle's empty
    best{i} turned the tok{i} WHERE clause NULL and silently dropped
    every row with non-null prv — this pins the divergence trap shut
    on a corpus where best2/best3 are genuinely empty."""
    import duckdb
    import pandas as pd

    from big_data_competition_dxc_spark.textops.bpe_learn import (
        N_MERGES,
        _oracle_sql,
        _run_merge_loop,
    )

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["ab ab", "ab"],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [5, 2],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    merges, toks = _run_merge_loop(spark, str(tmp_path), N_MERGES)
    assert len(merges) == 1  # the loop broke cleanly after the only merge
    assert merges[0][1:4] == ("a", "b", "ab")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    sql = _oracle_sql(N_MERGES)
    oracle_merges = con.execute(sql).fetchall()
    assert len(oracle_merges) == 1
    assert oracle_merges[0][1:4] == ("a", "b", "ab")
    head = sql[: sql.index("\nSELECT * FROM (")]
    tok_oracle = con.execute(
        head + f"\nSELECT w, freq, pos, sym FROM tok{N_MERGES} ORDER BY w, pos"
    ).fetchall()
    tok_spark = [
        tuple(r) for r in toks.select("w", "freq", "pos", "sym").orderBy("w", "pos").collect()
    ]
    assert tok_oracle == tok_spark == [("ab", 3, 1, "ab")]
    con.close()


def test_stream_pit_matches_batch_pit(spark):
    """The streaming periodized range join and the batch union+window
    PIT composition are two plans for the same operator: spend_before
    must agree row-for-row on the bounded fixture."""
    batch = _df("pit_feature_join", spark).select(
        "event_id",
        F.col("user_id").alias("b_user"),
        F.col("spend_before").alias("b_spend"),
    )
    stream = _df("stream_pit_enrich", spark).select(
        "event_id", "user_id", "spend_before"
    )
    # Equal cardinality first, then compare the never-null user_id as
    # well as spend_before: a label with NULL spend_before that one
    # plan DROPS entirely would otherwise slip through the full_outer
    # eqNullSafe check (NULL eqNullSafe NULL is true on the unmatched
    # half of the outer join); an unmatched row always has exactly one
    # NULL user_id side, so the user_id comparison flags it.
    assert stream.count() == batch.count()
    joined = stream.join(batch, "event_id", "full_outer")
    assert (
        joined.filter(
            ~F.col("spend_before").eqNullSafe(F.col("b_spend"))
            | ~F.col("user_id").eqNullSafe(F.col("b_user"))
        ).count()
        == 0
    )


def test_fpgrowth_fixed_vocab_tail_is_nonempty(spark):
    """The fixture-regime FP-growth twin's whole point (r11 verdict
    item 4): folding parts onto the bounded % VOCAB_MOD vocabulary must
    keep the frequent tail NON-EMPTY under the fraction threshold even
    as sf grows — the un-projected twin's tail empties above sf0.01.
    Pins: non-empty output, items inside [0, VOCAB_MOD), canonical
    item_a < item_b ordering, counts at/above the fraction threshold,
    and the deterministic top-k sort."""
    from big_data_competition_dxc_spark.ml.fpm import (
        TOP_K_PAIRS,
        VOCAB_FRACTION_DENOM,
        VOCAB_MOD,
    )

    rows = _df("fpgrowth_fixed_vocab_topk", spark).collect()
    assert 0 < len(rows) <= TOP_K_PAIRS
    n_baskets = (
        load(spark, SF_TEST_DIR, "lineitem").select("l_orderkey").distinct().count()
    )
    threshold = -(-n_baskets // VOCAB_FRACTION_DENOM)
    for r in rows:
        assert 0 <= r.item_a < r.item_b < VOCAB_MOD
        assert r.n_orders >= threshold
    keys = [(-r.n_orders, r.item_a, r.item_b) for r in rows]
    assert keys == sorted(keys)


def test_epoch_shuffle_orders_differ_and_are_stable(spark):
    """Each epoch must be a DIFFERENT permutation (distinct heads and
    checksums — the point of the epoch salt), every head must list
    HEAD_K real doc_ids, and the whole table must be identical on
    rerun (no RNG anywhere)."""
    from big_data_competition_dxc_spark.textops.packing import HEAD_K, N_EPOCHS

    rows = _df("epoch_shuffle_order", spark).collect()
    assert len(rows) == N_EPOCHS
    heads = [r.head_docs for r in rows]
    assert len(set(heads)) == N_EPOCHS
    assert len({r.perm_checksum for r in rows}) == N_EPOCHS
    doc_ids = {
        r.doc_id
        for r in load(spark, SF_TEST_DIR, "documents").select("doc_id").collect()
    }
    for h in heads:
        parts = h.split(",")
        assert len(parts) == HEAD_K
        assert all(int(p) in doc_ids for p in parts)
    rerun = plans.QUERIES["epoch_shuffle_order"].build(spark, SF_TEST_DIR).collect()  # runs again
    assert sorted(map(tuple, rerun)) == sorted(map(tuple, rows))


def test_setops_bag_semantics_algebra(spark):
    """EXCEPT ALL / INTERSECT ALL multiplicities must equal the
    closed-form counts derived independently from per-user view/click
    totals: n_except = views - clicks (when positive), n_intersect =
    min(views, clicks)."""
    ev = load(spark, SF_TEST_DIR, "events")
    counts = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    users = {u for u, _ in counts}
    expected = {}
    for u in users:
        v = counts.get((u, "view"), 0)
        c = counts.get((u, "click"), 0)
        if v - c > 0:
            expected[("except_all", u)] = v - c
        if min(v, c) > 0:
            expected[("intersect_all", u)] = min(v, c)
    got = {
        (r["op"], r["user_id"]): r["n"]
        for r in _df("setops_bag_semantics", spark).collect()
    }
    assert got == expected


def test_listagg_paths_match_python_ordering(spark):
    """The LISTAGG WITHIN GROUP result must equal paths rebuilt in
    Python from raw events sorted by (ts, event_id) — full corpus."""
    ev = load(spark, SF_TEST_DIR, "events").select(
        "user_id", F.to_date("ts").alias("ds"), "ts", "event_id", "event_type"
    )
    raw = ev.collect()
    from collections import defaultdict as dd

    groups = dd(list)
    for r in raw:
        groups[(r["user_id"], r["ds"])].append((r["ts"], r["event_id"], r["event_type"]))
    expected = {
        k: (">".join(t for _, _, t in sorted(v)), len(v)) for k, v in groups.items()
    }
    got = {
        (r["user_id"], r["ds"]): (r["path"], r["n_events"])
        for r in _df("listagg_daily_paths", spark).collect()
    }
    assert got == expected


def test_quantized_rerank_matches_pure_python(spark):
    """ann_quantized_rerank vs a from-scratch pure-Python recompute of
    the whole pipeline (quantize -> integer-dot shortlist -> exact
    re-rank), with the fold in index order so every IEEE double matches
    the engine bit-for-bit before rounding. Also pins the laws: the
    quantized arrays are integers bounded by 127, and every emitted
    neighbor came from the quantized shortlist (asymmetric retrieval
    never scores a vector the shortlist pass dropped)."""
    from math import floor, sqrt

    from big_data_competition_dxc_spark.similarity.quantize import (
        N_Q_QUERIES,
        Q_TOPK,
        QMAX,
        SHORTLIST,
    )

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load(spark, SF_TEST_DIR, "embeddings").collect()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def rnd(x, d):
        m = float(10**d)
        return floor(x * m + 0.5) / m

    scale = {i: max(abs(x) for x in v) / QMAX for i, v in emb.items()}
    nrm = {i: sqrt(fold_dot(v, v)) for i, v in emb.items()}
    qa = {
        i: [float(floor(x / scale[i] + 0.5)) for x in v] for i, v in emb.items()
    }
    for i, a in qa.items():
        assert all(x == int(x) and abs(x) <= QMAX for x in a), i

    expected = set()
    for q in range(N_Q_QUERIES):
        scored = sorted(
            (
                -rnd(
                    ((fold_dot(qa[q], qa[c]) * scale[q]) * scale[c])
                    / (nrm[q] * nrm[c]),
                    6,
                ),
                c,
            )
            for c in emb
            if c != q
        )
        short = scored[:SHORTLIST]
        rer = sorted(
            (
                -rnd(fold_dot(emb[q], emb[c]) / (nrm[q] * nrm[c]), 4),
                c,
                -negq,
            )
            for negq, c in short
        )
        for rn, (negs, c, qs) in enumerate(rer[:Q_TOPK], start=1):
            expected.add((q, c, qs, -negs, rn))

    got = {
        (r["q_id"], r["neighbor_id"], r["qsim"], r["sim"], r["rn"])
        for r in _df("ann_quantized_rerank", spark).collect()
    }
    assert got == expected


def test_ivfadc_matches_pure_python(spark):
    """ann_ivfadc_topk vs a from-scratch pure-Python recompute of the
    whole pipeline (sign-bit cells -> micro-unit-exact centroids ->
    int8 residuals -> Hamming-1 probe -> asymmetric score -> exact
    re-rank), folds in index order so doubles match bit-for-bit.
    Also pins the probe law: every emitted neighbor's cell is within
    Hamming distance 1 of its query's cell."""
    from math import floor, sqrt

    from big_data_competition_dxc_spark.similarity.ivfadc import (
        C_UNITS,
        IVF_BITS,
        PROBE_OFFSETS,
    )
    from big_data_competition_dxc_spark.similarity.quantize import (
        N_Q_QUERIES,
        Q_TOPK,
        QMAX,
        SHORTLIST,
    )

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load(spark, SF_TEST_DIR, "embeddings").collect()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def rnd(x, d):
        m = float(10**d)
        return floor(x * m + 0.5) / m

    cell = {
        i: sum((1 << b) for b in range(IVF_BITS) if v[b] >= 0)
        for i, v in emb.items()
    }
    nrm = {i: sqrt(fold_dot(v, v)) for i, v in emb.items()}

    # micro-unit-exact centroids, one division per element
    sums, counts = {}, {}
    for i, v in emb.items():
        c = cell[i]
        counts[c] = counts.get(c, 0) + 1
        su = sums.setdefault(c, [0] * len(v))
        for j, x in enumerate(v):
            su[j] += floor(x * float(C_UNITS))
    cen = {
        c: [float(su[j]) / (float(counts[c]) * float(C_UNITS)) for j in range(len(su))]
        for c, su in sums.items()
    }

    resid = {i: [x - c for x, c in zip(v, cen[cell[i]])] for i, v in emb.items()}
    rscale = {i: max(abs(x) for x in r) / QMAX for i, r in resid.items()}
    qr = {
        i: (
            [0.0] * len(r)
            if rscale[i] == 0
            else [float(floor(x / rscale[i] + 0.5)) for x in r]
        )
        for i, r in resid.items()
    }

    expected = set()
    for q in range(N_Q_QUERIES):
        probed = {cell[q] ^ o for o in PROBE_OFFSETS}
        scored = sorted(
            (
                -rnd(
                    (fold_dot(emb[q], cen[cell[c]]) + rscale[c] * fold_dot(emb[q], qr[c]))
                    / (nrm[q] * nrm[c]),
                    6,
                ),
                c,
            )
            for c in emb
            if c != q and cell[c] in probed
        )
        short = scored[:SHORTLIST]
        rer = sorted(
            (
                -rnd(fold_dot(emb[q], emb[c]) / (nrm[q] * nrm[c]), 4),
                c,
                -negq,
            )
            for negq, c in short
        )
        for rn, (negs, c, qs) in enumerate(rer[:Q_TOPK], start=1):
            expected.add((q, c, qs, -negs, rn))

    rows = _df("ann_ivfadc_topk", spark).collect()
    got = {
        (r["q_id"], r["neighbor_id"], r["qsim"], r["sim"], r["rn"]) for r in rows
    }
    assert got == expected
    for r in rows:
        ham = bin(cell[r["q_id"]] ^ cell[r["neighbor_id"]]).count("1")
        assert ham <= 1, (r["q_id"], r["neighbor_id"], ham)
