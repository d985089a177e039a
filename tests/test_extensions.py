"""Invariants of the extension-surface operators (PrefixSpan, Python
DataSource, recursive CTE, UDTF) beyond the DuckDB hash gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_competition_dxc_spark import plans
from big_data_competition_dxc_spark.ml.seqmining import MIN_SUPPORT
from big_data_competition_dxc_spark.operators.recursive_cte import MAX_HOPS
from big_data_competition_dxc_spark.session import python_source
from big_data_competition_dxc_spark.sources import load

from conftest import SF_TEST_DIR

plans.load_all()


def _df(name, spark):
    return plans.QUERIES[name].fn(spark, SF_TEST_DIR)


def test_prefixspan_threshold_binds(spark):
    """Every mined pattern meets the minCount implied by MIN_SUPPORT,
    and patterns are drawn from the event-type alphabet."""
    import math

    ev = load(spark, SF_TEST_DIR, "events")
    n_seq = ev.select("user_id", F.to_date("ts").alias("ds")).distinct().count()
    min_count = math.ceil(MIN_SUPPORT * n_seq)
    types = {r[0] for r in ev.select("event_type").distinct().collect()}
    rows = _df("prefixspan_day_journeys", spark).collect()
    assert rows
    for r in rows:
        assert r.n_days >= min_count
        assert r.first_type in types and r.then_type in types


def test_python_datasource_plans_parallel_partitions(spark):
    """The custom source must expose its shards as separate input
    partitions (the whole point of partitions())."""
    from big_data_competition_dxc_spark.sources.pysource import (
        N_PARTS,
        N_ROWS,
        DeterministicFeedSource,
    )

    feed = spark.read.format(python_source(spark, DeterministicFeedSource)).load()
    assert feed.rdd.getNumPartitions() == N_PARTS
    assert feed.count() == N_ROWS


def test_python_datasource_sink_commit_protocol(spark, tmp_path):
    """The custom sink's two-phase commit, pinned directly: every task
    publishes exactly one manifest-listed part, part row counts are
    conserved, the decoy orphan stays unlisted, and a failed job leaves
    NO manifest behind (abort path)."""
    import json
    import os

    import pytest

    from big_data_competition_dxc_spark.sources.pysink import (
        MANIFEST,
        AuditedSinkSource,
    )

    python_source(spark, AuditedSinkSource)
    out = str(tmp_path / "ok")
    os.makedirs(out)
    with open(os.path.join(out, "part-deadbeefdecoy.txt"), "w") as f:
        f.write("1|Z|1\n")
    # a crashed task's mid-write temp: never renamed, never in any
    # commit message — commit() must sweep it
    with open(os.path.join(out, ".part-stale.txt.inprogress"), "w") as f:
        f.write("2|Z|2\n")
    df = spark.createDataFrame(
        [(i, "AB"[i % 2], i * 100) for i in range(40)],
        "k bigint, status string, cents bigint",
    ).repartition(4, "k")
    df.write.format("audited_sink").option("path", out).mode("append").save()
    with open(os.path.join(out, MANIFEST)) as f:
        manifest = json.load(f)
    assert len(manifest["files"]) == 4
    assert "part-deadbeefdecoy.txt" not in manifest["files"]
    assert manifest["total_rows"] == 40
    assert sum(manifest["parts"].values()) == 40
    on_disk = {p for p in os.listdir(out) if p.startswith("part-")}
    assert set(manifest["files"]) == on_disk - {"part-deadbeefdecoy.txt"}
    assert not [p for p in os.listdir(out) if p.endswith(".inprogress")]

    # abort path: a poisoned partition fails the job -> no manifest
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    poisoned = spark.createDataFrame(
        [(i, "A", i) for i in range(8)], "k bigint, status string, cents bigint"
    ).repartition(2, "k").selectExpr(
        "k", "CASE WHEN k = 3 THEN assert_true(false) ELSE status END AS status", "cents"
    )
    with pytest.raises(Exception):
        poisoned.write.format("audited_sink").option("path", bad).mode(
            "append"
        ).save()
    assert MANIFEST not in os.listdir(bad)
    # The failing task removes its own temp and abort() sweeps the rest
    # — but both race with still-dying sibling tasks (the driver-side
    # abort can run while a killed task's Python worker is mid-write),
    # so poll briefly instead of asserting an instantaneous state.
    import time

    deadline = time.time() + 10.0
    while time.time() < deadline:
        leftovers = [p for p in os.listdir(bad) if p.endswith(".inprogress")]
        if not leftovers:
            break
        time.sleep(0.2)
    assert not leftovers
    # Whatever a raced straggler left behind, the next successful
    # commit to the same directory must sweep it — THAT is the durable
    # no-garbage-accumulation contract.
    with open(os.path.join(bad, ".part-planted.txt.inprogress"), "w") as f:
        f.write("9|Z|9\n")
    ok2 = spark.createDataFrame(
        [(1, "A", 100)], "k bigint, status string, cents bigint"
    )
    ok2.write.format("audited_sink").option("path", bad).mode("append").save()
    assert not [p for p in os.listdir(bad) if p.endswith(".inprogress")]
    with open(os.path.join(bad, MANIFEST)) as f:
        m2 = json.load(f)
    assert m2["total_rows"] == 1 and len(m2["files"]) >= 1


def test_statestore_metadata_describes_the_operator(spark, tmp_path):
    """The state-metadata read surface, pinned directly: one
    stateStoreSave operator, batch ids covering the availableNow
    drain, state partition count equal to the session's shuffle
    partitions, and the offline state row count equal to the number
    of distinct keys. The stream runs on the child session
    ``staged_events_stream`` builds it on, which holds the legacy nanos
    conf and the shuffle partitions ``get_spark`` set."""
    import uuid

    from big_data_competition_dxc_spark.functions.rounding import to_units
    from big_data_competition_dxc_spark.streaming.rollup_stream import (
        staged_events_stream,
    )

    with staged_events_stream(spark, SF_TEST_DIR) as stream:
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum(to_units(F.col("value"), 2)).alias("c")
        )
        ckpt = str(tmp_path / "ck")
        sink = f"sink_{uuid.uuid4().hex[:8]}"
        try:
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            assert stream.sparkSession.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
            assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")
            meta = spark.read.format("state-metadata").load(ckpt).collect()
            assert len(meta) == 1
            m = meta[0]
            assert m["operatorName"] == "stateStoreSave"
            assert m["minBatchId"] == 0 and m["maxBatchId"] >= 0
            assert m["numPartitions"] == int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
            state = spark.read.format("statestore").load(ckpt)
            n_keys = load(spark, SF_TEST_DIR, "events").select(
                "event_type"
            ).distinct().count()
            assert state.count() == n_keys
            assert state.select(F.max("partition_id")).first()[0] < m["numPartitions"]
        finally:
            stream.sparkSession.catalog.dropTempView(sink)


def test_sql_scripting_clip_matches_dataframe_loop(spark):
    """The scripting WHILE loop and an explicit Python-driven DataFrame
    iteration are two routes to the same clip: recompute the three
    passes with DataFrame aggregates and integer-cent floors, then
    compare count, bounds, and the rounded mean exactly."""
    import math

    from big_data_competition_dxc_spark.operators.scripting import (
        K_SIGMA,
        N_PASSES,
        sql_scripting_sigma_clip,
    )

    conf_before = spark.conf.get("spark.sql.scripting.enabled", None)
    tables_before = spark.catalog.listTables()
    got = sql_scripting_sigma_clip(spark, SF_TEST_DIR).collect()[0]

    # session hygiene: the query must not leak a temp view or the
    # scripting conf into the shared session
    assert spark.catalog.listTables() == tables_before
    assert spark.conf.get("spark.sql.scripting.enabled", None) == conf_before

    cents = [
        int(math.floor(r["l_extendedprice"] * 100.0 + 0.5))
        for r in load(spark, SF_TEST_DIR, "lineitem")
        .select("l_extendedprice")
        .collect()
    ]
    lo, hi = -(2**63 - 1), 2**63 - 1
    for _ in range(N_PASSES):
        kept = [c for c in cents if lo <= c <= hi]
        n = len(kept)
        s = float(sum(kept))
        sq = float(sum(c * c for c in kept))
        m = s / n
        sd = math.sqrt((sq - (s * s) / n) / n)
        lo = math.floor(m - K_SIGMA * sd)
        hi = math.floor(m + K_SIGMA * sd)
    kept = [c for c in cents if lo <= c <= hi]
    assert (got["lo_cents"], got["hi_cents"]) == (lo, hi)
    assert got["n_kept"] == len(kept)
    mean = float(sum(kept)) / len(kept) / 100.0
    assert got["kept_mean"] == math.floor(mean * 10000.0 + 0.5) / 10000.0
    # the loop must actually move: final bounds are finite and narrower
    # than the full data range, and something was clipped
    assert got["n_kept"] < len(cents)


def test_recursive_reach_anchored_and_bounded(spark):
    """The source supplier sits at hops 0; no node exceeds MAX_HOPS;
    per-level dedup bounds each node's row count by the level count."""
    rows = _df("recursive_cte_reach", spark).collect()
    assert rows
    src = min(r.s_suppkey for r in rows if r.min_hops == 0)
    assert any(r.s_suppkey == src and r.min_hops == 0 for r in rows)
    assert all(0 <= r.min_hops <= MAX_HOPS for r in rows)
    assert all(1 <= r.n_levels <= MAX_HOPS + 1 for r in rows)


def test_pseudonymization_preserves_join_counts(spark):
    """The tokenized join must reproduce the plaintext join's
    per-segment order counts exactly (referential integrity survives
    pseudonymization)."""
    rows = _df("pseudonymize_consistent_join", spark).collect()
    c = load(spark, SF_TEST_DIR, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, SF_TEST_DIR, "orders").select("o_custkey")
    plain = {
        r["c_mktsegment"]: (r["n_orders"], r["n_customers"])
        for r in c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_custkey").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .collect()
    }
    assert plain == {r.mktsegment: (r.n_orders, r.n_customers) for r in rows}


def test_k_anonymity_release_rule(spark):
    """No released group may be smaller than K; suppressed + kept rows
    must account for every customer."""
    from big_data_competition_dxc_spark.operators.privacy import K_ANON

    rows = _df("k_anonymity_groups", spark).collect()
    kept = [r for r in rows if r.status == "kept"]
    supp = [r for r in rows if r.status == "suppressed"]
    assert len(supp) == 1
    assert all(r.n >= K_ANON for r in kept)
    total = load(spark, SF_TEST_DIR, "customer").count()
    assert sum(r.n for r in kept) + supp[0].n == total


def test_lateness_audit_cumulative_monotone(spark):
    """Retained-permille must be monotone in the candidate delay and
    reach exactly 1000 at the last bucket; counts account for every
    event."""
    rows = sorted(
        _df("watermark_lateness_audit", spark).collect(),
        key=lambda r: r.le_minutes,
    )
    assert rows
    pms = [r.retained_pm for r in rows]
    assert pms == sorted(pms)
    assert pms[-1] == 1000
    total = sum(r.n_events for r in rows)
    assert total == load(spark, SF_TEST_DIR, "events").count()


def test_ranking_eval_metric_laws(spark):
    """Hits are bounded by both the rec-list length and the holdout
    size; reciprocal rank is positive exactly when a hit exists; the
    split leaves every query user with train data."""
    from big_data_competition_dxc_spark.ml.itemcf import TOPK_RECS

    rows = _df("itemcf_ranking_eval", spark).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hits <= min(TOPK_RECS, r.n_holdout)
        assert (r.rr_micro > 0) == (r.n_hits > 0)
        assert (r.recall_micro > 0) == (r.n_hits > 0)
    assert any(r.n_holdout > 0 for r in rows)


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restarting an availableNow stream against the SAME checkpoint
    must process ZERO new rows: the checkpoint's source offsets make
    replays exactly-once at the sink even though the input files are
    still present. This is the restart-safety half of the streaming
    story (the watermark tests cover the in-flight half)."""
    import os

    from big_data_competition_dxc_spark.streaming.rollup_stream import (
        staged_events_stream,
    )

    with staged_events_stream(spark, SF_TEST_DIR) as stream:
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        out = stream.select("event_id", "user_id", "event_type")

        def run_once():
            q = (
                out.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        n_first = spark.read.parquet(sink).count()
        assert n_first > 0
        run_once()  # same checkpoint, no new files -> no new rows
        n_second = spark.read.parquet(sink).count()
        assert n_second == n_first


def test_incremental_merge_overlaps_groups(spark):
    """The late delta must genuinely overlap snapshot groups (else the
    merge degenerates to a union and proves nothing)."""
    from big_data_competition_dxc_spark.operators.maintenance import LATE_MOD

    ev = load(spark, SF_TEST_DIR, "events").select(
        F.to_date("ts").alias("ds"), "event_type", "event_id"
    )
    both = (
        ev.groupBy("ds", "event_type")
        .agg(
            F.sum((F.col("event_id") % LATE_MOD == 0).cast("int")).alias("late"),
            F.sum((F.col("event_id") % LATE_MOD != 0).cast("int")).alias("base"),
        )
        .filter((F.col("late") > 0) & (F.col("base") > 0))
        .count()
    )
    assert both > 0


def test_drift_shares_account(spark):
    """Permille shares must floor-sum to at most 1000 per window and
    the per-type deltas must net out near zero."""
    rows = _df("snapshot_drift_report", spark).collect()
    assert rows
    assert sum(r.share_a_pm for r in rows) <= 1000
    assert sum(r.share_b_pm for r in rows) <= 1000
    assert abs(sum(r.delta_pm for r in rows)) <= len(rows)


def test_span_corruption_is_invertible(spark):
    """Splicing each sentinel's target span back into the input must
    reproduce the original document exactly — the denoising pair is a
    lossless re-encoding."""
    import re

    rows = _df("span_corruption_pairs", spark).limit(100).collect()
    assert rows
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_TEST_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    saw_masked = False
    for r in rows:
        spans = {}
        for part in re.split(r"(<X\d+>)", r.target_text):
            if re.fullmatch(r"<X\d+>", part):
                key = part
                spans[key] = ""
            elif part.strip():
                spans[key] = part.strip()
        rebuilt = r.input_text
        for key, words in spans.items():
            rebuilt = rebuilt.replace(key, words)
        assert rebuilt == docs[r.doc_id], r.doc_id
        if r.n_masked_spans > 0:
            saw_masked = True
            assert len(spans) == r.n_masked_spans
    assert saw_masked


def test_temperature_mixture_flattens(spark):
    """Temperature sampling must assign LOWER keep rates to LARGER
    domains (rate monotone non-increasing in n_total), and the realized
    sample must land near the half-corpus budget."""
    rows = sorted(
        _df("temperature_mixture_rates", spark).collect(), key=lambda r: r.n_total
    )
    assert rows
    rates = [r.rate_bp for r in rows]
    assert rates == sorted(rates, reverse=True)
    n = sum(r.n_total for r in rows)
    kept = sum(r.n_kept for r in rows)
    # md5 thresholding is uniform; allow generous sampling noise
    assert abs(kept - n / 2) < max(10, 0.15 * n)


def test_hard_negatives_cross_label_only(spark):
    """Every mined pair must cross labels, and per anchor the sims must
    be non-increasing in rank."""
    rows = _df("hard_negative_mining", spark).collect()
    assert rows
    assert all(r.anchor_label != r.neighbor_label for r in rows)
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r.q_id, []).append((r.rn, r.sim))
    for sims in by_anchor.values():
        ordered = [s for _, s in sorted(sims)]
        assert ordered == sorted(ordered, reverse=True)


def test_negative_samples_are_unrated_and_complete(spark):
    """No sampled pair may exist in the ratings table, and every query
    user gets exactly NEG_K negatives (catalog is far larger)."""
    from big_data_competition_dxc_spark.ml.negative_sampling import NEG_K
    from big_data_competition_dxc_spark.ml.recommend import ratings

    neg = _df("negative_sample_pairs", spark)
    r = ratings(spark, SF_TEST_DIR)
    assert neg.join(r, ["user_id", "item_id"], "inner").count() == 0
    per_user = neg.groupBy("user_id").count().collect()
    assert per_user and all(row["count"] == NEG_K for row in per_user)


def test_cdc_deletes_drop_exactly_tombstoned_keys(spark):
    """Snapshot keys + tombstoned keys must partition the user set, and
    no snapshot row may itself be a tombstone."""
    from big_data_competition_dxc_spark.operators.cdc_deletes import TOMBSTONE_TYPE

    snap = _df("cdc_apply_with_deletes", spark)
    assert snap.filter(F.col("last_type") == TOMBSTONE_TYPE).count() == 0
    ev = load(spark, SF_TEST_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    n_tomb = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") == TOMBSTONE_TYPE))
        .count()
    )
    assert snap.count() == n_users - n_tomb


def test_udtf_chunks_reassemble(spark):
    """Joining each document's chunks back in order must reproduce the
    original text exactly — the UDTF is a lossless partition."""
    chunks = _df("udtf_word_chunks", spark)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    docs = load(spark, SF_TEST_DIR, "documents").select("doc_id", "text")
    bad = (
        docs.join(rebuilt, "doc_id", "left")
        .filter(
            F.col("rebuilt").isNull() | (F.col("rebuilt") != F.col("text"))
        )
        .count()
    )
    assert bad == 0


import pytest as _pytest


@_pytest.mark.xfail(
    raises=ImportError,
    reason="container lacks google.protobuf (the typed-state server's "
    "wire protocol). An XPASS here means the image gained the "
    "dependency and transformWithStateInPandas now executes — promote "
    "typed_state_user_totals to a registered query. raises=ImportError "
    "keeps the gate narrow: on an image WITH protobuf, a genuine "
    "assertion failure still fails the suite instead of reporting "
    "xfail.",
)
def test_typed_state_matches_batch_aggregate(spark):
    """transformWithStateInPandas (typed-state API) — auto-activates
    when the runtime image gains google.protobuf (the state-server wire
    protocol's dependency; see streaming/typed_state.py). One
    availableNow microbatch => the emitted updates must equal the batch
    per-user aggregate exactly. Marked xfail (NOT skip) so the unlock
    surfaces as an XPASS instead of staying silently latent."""
    import google.protobuf  # noqa: F401 - absence -> ImportError -> xfail
    from big_data_competition_dxc_spark.functions.rounding import fixed_sum
    from big_data_competition_dxc_spark.streaming.typed_state import (
        typed_state_user_totals,
    )

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in typed_state_user_totals(spark, SF_TEST_DIR).collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in load(spark, SF_TEST_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value"), 2, 2).alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_table_diff_audit_buckets_bind(spark):
    """Every reconciliation class must be non-empty at sf0.01 — a diff
    audit whose changed/only-A/only-B buckets are zero would be
    vacuously green."""
    from big_data_competition_dxc_spark import plans

    [r] = plans.QUERIES["table_diff_audit"].fn(spark, "/root/testdata/sf0.01").collect()
    assert r["n_only_a"] > 0
    assert r["n_only_b"] > 0
    assert r["n_changed"] > 0
    assert r["n_identical"] > r["n_changed"]  # perturbation is the minority


def test_table_profile_invariants(spark):
    """Profile rows: one per profiled column; nulls+distinct bounded by
    row count; min/max renders present, numeric for the key columns
    (min/max aggregate over the NATIVE type — the renders of numeric
    columns must compare numerically, not lexicographically)."""
    from big_data_competition_dxc_spark import plans

    rows = plans.QUERIES["table_profile"].fn(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 6
    by_col = {r["col_name"]: r for r in rows}
    for r in rows:
        assert r["n_rows"] > 0
        assert 0 <= r["n_nulls"] <= r["n_rows"]
        assert 1 <= r["n_distinct"] <= r["n_rows"]
        assert r["min_render"] is not None and r["max_render"] is not None
    for numcol in ("o_orderkey", "o_custkey", "o_totalprice"):
        r = by_col[numcol]
        assert int(r["min_render"]) <= int(r["max_render"])
    assert by_col["o_orderstatus"]["min_render"] <= by_col["o_orderstatus"]["max_render"]
    assert by_col["o_orderdate"]["min_render"] <= by_col["o_orderdate"]["max_render"]


def test_stream_incremental_dedup_really_microbatches(spark):
    """The streaming ingest dedup must (a) reproduce the batch
    pipeline's decisions exactly and (b) actually run as SEVERAL
    micro-batches — one per staged slice — otherwise the equivalence
    claim is vacuous (a single availableNow batch IS the batch
    pipeline)."""
    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.streaming import dedup_ingest

    sf = "/root/testdata/sf0.01"
    got = {
        r["doc_id"]: tuple(r)
        for r in plans.QUERIES["stream_incremental_dedup"].fn(spark, sf).collect()
    }
    assert len(dedup_ingest.LAST_BATCH_IDS) == dedup_ingest.INGEST_SLICES
    want = {
        r["doc_id"]: tuple(r)
        for r in plans.QUERIES["incremental_dedup_fixed_delta"].fn(spark, sf).collect()
    }
    assert got == want


def test_index_evolution_catches_admitted_dups(spark):
    """dedup_index_evolution must actively consult the EVOLVED index:
    at sf0.001 doc 0 (phase-1, novel vs corpus, admitted) is a near-dup
    of docs 50 and 82 (phase-2), so both must surface with an admitted
    phase-1 doc as best_match — a regression that drops the index
    union would still oracle-match at scales with no cross-phase dups,
    but fails here."""
    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.dedup.incremental import (
        ADMIT_DELTA_DOCS,
        PROBE_DELTA_DOCS,
    )

    rows = plans.QUERIES["dedup_index_evolution"].fn(spark, SF_TEST_DIR).collect()
    assert len(rows) == PROBE_DELTA_DOCS - ADMIT_DELTA_DOCS
    admitted_hits = {
        r["doc_id"]: r["best_match"]
        for r in rows
        if r["best_match"] is not None and r["best_match"] < ADMIT_DELTA_DOCS
    }
    assert admitted_hits, "no phase-2 doc matched an admitted phase-1 doc"
    assert set(admitted_hits) >= {50, 82}


def test_sampled_curve_estimator_tracks_exact(spark):
    """neardup_curve_sampled's est_pairs (sampled count x 1/q^2) must
    track the exact curve's n_pairs per threshold. Each qualifying
    pair survives the md5 vector sample with probability q^2 = 1/4, so
    est_pairs is unbiased — but pairs sharing a hub vector survive
    TOGETHER, so the variance exceeds binomial and small counts are
    legitimately noisy (sf0.01's 59-pair grid point read 1.6x high).
    Runs at sf0.1 where the low grid points have hundreds of pairs
    (920 -> est 928; 144 -> est 168); thresholds under 100 exact pairs
    are skipped."""
    from big_data_competition_dxc_spark import plans

    sf = "/root/testdata/sf0.1"
    exact = {
        r.threshold: r.n_pairs
        for r in plans.QUERIES["neardup_threshold_curve"].fn(spark, sf).collect()
    }
    sampled = plans.QUERIES["neardup_curve_sampled"].fn(spark, sf).collect()
    assert {r.threshold for r in sampled} == set(exact)
    checked = 0
    for r in sampled:
        assert r.est_pairs == r.n_pairs_sampled * 4
        if exact[r.threshold] >= 100:
            assert 0.7 * exact[r.threshold] <= r.est_pairs <= 1.3 * exact[r.threshold], (
                r.threshold,
                r.est_pairs,
                exact[r.threshold],
            )
            checked += 1
    assert checked >= 1, "no threshold had enough pairs to check the estimator"


def test_tickfeed_replay_matches_incremental_reads():
    """The streaming Python source's recovery contract: chaining read()
    from the initial offset and replaying readBetweenOffsets over the
    full committed range must produce the identical record sequence."""
    from big_data_competition_dxc_spark.streaming.pystream import (
        BATCH_ROWS,
        N_BATCHES,
        TickFeedReader,
    )

    r = TickFeedReader()
    off = r.initialOffset()
    incremental = []
    for _ in range(N_BATCHES + 2):  # two extra polls: exhausted feed
        rows, nxt = r.read(off)
        rows = list(rows)
        if nxt == off:
            assert rows == []  # exhausted = no rows AND no offset move
        incremental.extend(rows)
        off = nxt
    assert off == {"next": N_BATCHES}
    replay = list(r.readBetweenOffsets(r.initialOffset(), off))
    assert replay == incremental
    assert len(replay) == N_BATCHES * BATCH_ROWS
    assert [i for i, _ in replay] == list(range(N_BATCHES * BATCH_ROWS))


def test_python_datasource_stream_verifies_content(spark):
    """End-to-end drain: every bucket fully verified (Python md5 ==
    JVM md5), ids exactly covering the feed range."""
    from big_data_competition_dxc_spark.streaming.pystream import (
        BATCH_ROWS,
        N_BATCHES,
        N_BUCKETS,
    )

    rows = _df("python_datasource_stream", spark).collect()
    assert len(rows) == N_BUCKETS
    total = N_BATCHES * BATCH_ROWS
    for r in rows:
        assert r["n"] == total // N_BUCKETS
        assert r["n_verified"] == r["n"]
        assert r["min_id"] == r["bucket"]
        assert r["max_id"] == total - N_BUCKETS + r["bucket"]


def test_collation_is_load_bearing(spark):
    """The UTF8_LCASE grouping must MERGE case variants the binary
    collation keeps apart (proving the collation, not the data, does
    the normalization), conserve the total row count, and emit the
    lowercase canonical form per group."""
    from big_data_competition_dxc_spark.operators.collations import (
        _MIXED,
        collated_group_counts,
    )

    rows = collated_group_counts(spark, SF_TEST_DIR).collect()
    docs = load(spark, SF_TEST_DIR, "documents")
    n_binary = docs.selectExpr(f"{_MIXED} AS k").distinct().count()
    assert n_binary > len(rows)  # case variants merged by the collation
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(r["lang_ci"] == r["lang_ci"].lower() for r in rows)
    # the session must not keep the helper view
    assert not spark.catalog.tableExists("docs_for_collation")
