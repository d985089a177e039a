"""Physical-plan quality gates (SURVEY §4): the scale properties the
engine promises — predicate pushdown to the parquet scan, column
pruning, broadcast joins for dims, whole-stage codegen, partition
pruning on partitioned layouts — asserted on the actual executed plans,
not taken on faith. Plans are read from each entry's lazy builder
(``build``): the registry's ``fn`` serves a held answer, whose plan is a
local table scan."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from big_data_competition_dxc_spark import plans
from big_data_competition_dxc_spark.plans import memos
from big_data_competition_dxc_spark.sources import load

from conftest import SF_TEST_DIR

plans.load_all()


def _formatted(df) -> str:
    """Formatted physical plan via the public API (captured
    ``df.explain``), not ``_jdf``/``_jvm`` py4j internals."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    df = plans.QUERIES["pricing_summary"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning(spark):
    df = load(spark, SF_TEST_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dim_join_broadcasts(spark):
    df = plans.QUERIES["join_left_broadcast"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen(spark):
    df = plans.QUERIES["daily_rollup"].build(spark, SF_TEST_DIR)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # whole-stage-codegen span markers
    # the whole pipeline is JVM expressions — no Python row boundary
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_cartesian_in_relational_queries(spark):
    # Theta-join (J3) must be planned as an equi-hash join, not a
    # nested-loop cross product (SURVEY §2.3).
    df = plans.QUERIES["join_theta_sql"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_partitioned_parquet(spark, tmp_path):
    ev = load(spark, SF_TEST_DIR, "events")
    daily = ev.groupBy(F.to_date("ts").alias("ds"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = str(tmp_path / "pq")
    daily.write.mode("overwrite").partitionBy("ds").parquet(out)
    back = spark.read.parquet(out).filter(F.col("ds") >= "2024-01-10")
    plan = _formatted(back)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "ds" in pf  # the date predicate prunes partitions, not rows


def test_partitioned_write_one_file_per_partition(spark, tmp_path):
    """repartition(ds) before partitionBy(ds) must collapse the write to
    exactly one parquet file per ds directory — without it, every
    shuffle task holding rows for a date writes its own file, an
    O(tasks x days) small-files fanout (the round-3 bench outlier and a
    real NameNode hazard at 100 TB)."""
    import os

    ev = load(spark, SF_TEST_DIR, "events")
    daily = ev.groupBy(F.to_date("ts").alias("ds"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = str(tmp_path / "pq1f")
    daily.repartition("ds").write.mode("overwrite").partitionBy("ds").parquet(out)
    ds_dirs = [d for d in os.listdir(out) if d.startswith("ds=")]
    assert len(ds_dirs) > 1
    for d in ds_dirs:
        files = [
            f
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)


# ---- engine-wide plan audit -------------------------------------------------
# Every relational query's optimized plan is swept for scale red flags.
# ML/streaming/stub queries are excluded (they execute jobs or train
# models at plan-build time); Pandas-UDF queries are allowed their
# ArrowEvalPython node but nothing else is.

_AUDIT_EXCLUDE_TAGS = {"ML", "streaming", "stub", "UDTF"}
# ("UDTF": udtf_word_chunks is the flagged lateral-Python-UDTF demo —
# a Python eval node is its entire point, not a hot-path regression)
# non-equi all-pairs / range joins where a broadcast nested-loop join
# IS the intended plan (small side broadcast, big side streamed):
# embedding_neardup_pairs is NOT here: its exact pair space now
# materializes through the block-partitioned equi-join (no BNLJ).
_BNLJ_OK = {
    "ann_cosine_topk",          # tiny query set broadcast vs corpus
    "ann_quantized_rerank",     # same bounded query set, quantized pass
    "local_rows_to_df",         # range-bucket dim broadcast
    "tfidf_top_terms",          # 1-row corpus-stats scalar attach
    "bm25_topk_docs",           # 1-row corpus-stats scalar attach
    "price_decile_stats",       # 1-row quantile-boundary scalar attach
    "referential_integrity_audit",  # 1-row orphan-count scalar attach per edge
    "rfm_segments",             # 1-row max-date + median-boundary attaches
    "bigram_collocations",      # 1-row corpus-total scalar attaches (n_uni, n_bg)
    "q11_part_revenue_share",   # 1-row global-revenue scalar attach
    "q15_top_revenue_supplier",  # 1-row max-revenue scalar attach
    "q20_heavy_part_suppliers",  # 1-row global-average scalar attach
    "q22_idle_rich_customers",  # 1-row balance-threshold scalar attach
    "lm_bigram_cross_entropy",  # 1-row vocabulary-size scalar attach
    "temperature_mixture_rates",  # 1-row corpus-totals scalar attach
    "triangle_count_cosupply",  # 1-row nodes/edges/tri/wedge scalar attaches
    "triangle_count_sampled",   # same 1-row scalar attaches, sampled graph
    "neardup_threshold_curve",  # 1-row x 1-row conditional-sum attach
    "neardup_curve_sampled",    # same attach shape on the sampled pair space
    "hll_sketch_rollup",        # 1-row exact-count scalar attach to the merged sketch
    "theta_overlap_check",      # 1-row min-day + estimate + exact-overlap attaches
    "ann_multiprobe_recall",    # exact ground truth: tiny query set broadcast vs corpus (r15: the five 1-row scalar attaches folded into one aggregate)
    "dsir_importance_weights",  # 1-row model-totals scalar attach (r12)
    "dsir_resample_keep",       # same attach via the shared dsir_doc_units (r13)
    "corpus_release_pipeline",  # same dsir model-totals attach, composed (r14)
}
# (negative_sample_pairs' broadcast cross join needs no entry: its ML
# tag already excludes it from the audit, like the other ML queries)

# Queries whose builder ends in a materialization, so the plan the audit
# reads is a bare local or RDD scan and none of the checks above sees
# the pipeline that produced it. Any other plan reading nothing but
# such scans fails the audit.
_DRIVER_BUILT = {
    "ann_index_evolution",      # local frame of the phase-2 per-query rows
    "ann_multiprobe_recall",    # local frame of the 1-row recall summary
    "binaryfile_ingest_audit",  # writes, reads back, holds the 25 rows
    "bpe_learn_merges",         # merge table from a driver loop of 1-row argmax jobs
    "bucket_pruned_scan",       # writes a bucketed table, holds the agg
    "bucketed_colocated_join",  # same, two bucketed tables joined
    "csv_roundtrip_malformed",  # writes CSV, holds the agg
    "dedup_index_evolution",    # local frame of the second ingest's decisions
    "dpp_partitioned_join",     # writes a partitioned table, holds the agg
    "incremental_dedup_fixed_delta",  # local frame of the per-delta-doc decisions
    "incremental_minhash_dedup",  # same, hash-sliced delta
    "json_roundtrip_source",    # writes JSON, holds the agg
    "orc_roundtrip",            # writes ORC, holds the agg
    "pagerank_cosupply_top20",  # local frame of the top-20 rows
    "parquet_partitioned_roundtrip",  # writes parquet, holds the agg
    "partition_overwrite_backfill",  # overwrites partitions, holds the agg
    "python_datasource_sink",   # writes through the Python sink, holds the agg
    "schema_evolution_merge",   # writes two schemas, holds the agg
    "small_file_compaction",    # rewrites the files, rebuilds the 1 row of driver-side counts
    "sql_scripting_sigma_clip",  # the SQL script runs inside spark.sql; its result is local rows
    "triangle_count_cosupply",  # dense path: the 1 row of driver-side scalars
    "triangle_count_sampled",   # same dense path on the sampled graph
    "xml_roundtrip_source",     # writes XML, holds the agg
}
#: Sources of a plan over rows already materialized: a local frame
#: (``plans.memos.local``) or driver-built rows.
_MATERIALIZED = {"LocalTableScan", "Scan ExistingRDD"}
#: The source operators of a formatted plan tree.
_SOURCE = re.compile(r"(Scan \w+|BatchScan \w+|LocalTableScan|Range)\s*\(\d+\)")


def _auditable():
    names = []
    for name, e in plans.QUERIES.items():
        tags = set(e.tags)
        if any(t.startswith("ML") for t in tags):
            continue
        if tags & _AUDIT_EXCLUDE_TAGS:
            continue
        names.append(name)
    return sorted(names)


import pytest  # noqa: E402


@pytest.mark.parametrize("name", _auditable())
def test_plan_audit(name, spark):
    entry = plans.QUERIES[name]
    df = entry.build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join"
        )
    if "pandas-udf" not in entry.tags:
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name}: Python eval in a relational path"
        )
    sources = set(_SOURCE.findall(plan.split("\n\n")[0]))
    materialized = bool(sources) and sources <= _MATERIALIZED
    if name in _DRIVER_BUILT:
        assert materialized, f"{name}: listed as driver-built, but reads {sorted(sources)}"
    else:
        assert not materialized, (
            f"{name}: the plan reads only materialized rows, nothing to audit"
        )


def test_registry_rejects_repeated_name(monkeypatch):
    """load_all() imports modules in file order, so a name registered
    twice must be an error rather than resolve by file name."""
    original = plans.QUERIES["daily_rollup"]
    monkeypatch.setitem(plans.QUERIES, "daily_rollup", original)
    with pytest.raises(ValueError, match="daily_rollup"):
        plans.query("daily_rollup")(lambda spark, sf_dir: None)
    assert plans.QUERIES["daily_rollup"] is original


def test_bucketed_join_has_no_exchange(spark):
    # At fixture scale the planner would broadcast (also correct);
    # disable broadcast so the co-located-bucket SMJ — the 100 TB shape
    # this layout exists for — is what gets planned.
    from big_data_competition_dxc_spark.operators.bucketing import (
        bucketed_join_frames,
    )

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        with bucketed_join_frames(spark, SF_TEST_DIR) as joined:
            plan = _formatted(joined)  # physical planning happens here
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located buckets: no shuffle at all
    assert "Bucketed: true" in plan


def test_load_scopes_nanos_conf(spark):
    """load('events') must not leak the nanosAsLong legacy conf into the
    session (a leaked true silently decodes every later TIMESTAMP(NANOS)
    read as bigint), AND the returned DataFrame must execute on the
    session that asked for it, which never holds the conf."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = load(spark, SF_TEST_DIR, "events")
    assert spark.conf.get(key, None) in (None, "false")
    assert df.sparkSession is spark
    assert df.count() > 0
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_load_reads_nanos_timestamps(spark, tmp_path):
    """An events file written with TIMESTAMP(NANOS), which a plain
    parquet read rejects, loads as the session-tz TIMESTAMP type with
    its microseconds intact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [1_700_000_000_123_456_000, 1_700_000_100_000_001_000]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts, type=pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    df = load(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.us for r in df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]
    assert got == [t // 1000 for t in ts]
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")


def test_read_csv_arity_and_cast_semantics(spark, tmp_path):
    """read_csv reproduces the reference's malformed-row drops: wrong
    arity (short AND long) and failed non-nullable casts both vanish;
    clean rows survive with their types."""
    from pyspark.sql import types as T

    from big_data_competition_dxc_spark.sources.io import read_csv

    p = tmp_path / "raw.csv"
    p.write_text(
        "1,a,2.5\n"        # clean
        "2,b\n"             # short arity -> dropped
        "3,c,1.0,extra\n"   # long arity -> dropped
        "oops,d,4.0\n"      # bad cast on non-nullable id -> dropped
        "4,e,notafloat\n"   # bad cast on nullable col -> kept as NULL
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("tag", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    rows = {r.id: r for r in read_csv(spark, str(p), schema).collect()}
    assert set(rows) == {1, 4}
    assert rows[1].score == 2.5 and rows[1].tag == "a"
    assert rows[4].score is None


# ---- shuffle budgets -------------------------------------------------------
# The scale claim each behavioral/temporal docstring makes, pinned: the
# number of shuffle Exchanges in the optimized plan must not exceed the
# documented budget (windows/aggregates sharing a partitioning collapse
# onto one exchange; a regression here means an extra full-data shuffle).

_SHUFFLE_BUDGETS = {
    "funnel_view_click_purchase": 1,   # 3 windows + distinct, all on user_id
    "scd2_type_periods": 1,            # flag -> islands -> rollup -> lead
    "sessionize_batch": 1,             # lag -> flag -> running sum -> group
    "silence_gap_audit": 1,
    "time_weighted_avg": 1,
    "debounce_first_per_window": 1,
    "event_paths_opening": 2,          # user window + path group
    "markov_transitions": 3,           # user lag + 25-row matrix post-processing
    "cumulative_reach": 3,             # user agg + day agg + day-frame window
    "locf_gap_fill": 1,                # one user_id window, no agg
    "moment_stats": 1,                 # single groupBy(event_type)
    "quality_weighted_sample": 1,      # single groupBy(lang)
    "array_functions_suite": 1,        # single groupBy(user_id); set algebra narrow
    "rolling_median_7d": 2,            # daily agg + user window
    "token_diversity_stats": 2,        # (doc, tok) agg + doc agg
    "kfold_split_audit": 2,            # fold agg + single-partition total window
    "pivot_multi_measure": 2,          # pivot partial/final pair on ds
    "table_checksum_audit": 2,         # one single-row agg per fingerprinted table
    "mode_median_stats": 3,            # value counts + modal window + stats agg
    "bpe_pair_counts": 1,              # one map-side-combined pair agg; top-k is TakeOrdered
    "embedding_label_centroids": 3,    # per-vec agg + (label,dim) agg + label join
    "zorder_layout_audit": 1,          # all three global windows share one exchange
    "table_profile": 2,                # ONE 6-distinct Expand agg (partial + final)
    "table_diff_audit": 3,             # one hash exchange per snapshot side + 1-row agg
    "neardup_threshold_curve": 7,      # block pair join (2 sides) + vbest + 1-row sums
    "substring_span_scrub": 3,         # span_pairs agg + dup-fp agg + per-doc start collect
    "substring_span_islands": 3,       # same upstream; run fold is per-row, no extra exchange
    "dsir_resample_keep": 4,           # same 4 as the weights query — the decision adds none
    "dsir_importance_weights": 4,      # model agg + totals + token join partials + doc agg
    # the keeper window's full-text shuffle (its cached memo, run once
    # per input) + span pre-agg + dup-fp agg + covered collect + the
    # dsir 4 — the union itself adds none
    "corpus_release_pipeline": 8,
}


@pytest.mark.parametrize("name,budget", sorted(_SHUFFLE_BUDGETS.items()))
def test_shuffle_budget(name, budget, spark):
    # a cold plan: a cached memo an earlier call executed would show its
    # shuffles twice, in its final and its initial adaptive plan
    memos.clear_all()
    df = plans.QUERIES[name].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    n = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
    assert n <= budget, f"{name}: {n} shuffle exchanges, budget {budget}"


def test_bloom_filter_injected(spark):
    """bloom_pruned_join's child-session confs must actually materialize
    the runtime Bloom filter: the probe (lineitem) side carries a
    might_contain predicate fed by a bloom_filter_agg over the filtered
    build side — the pre-shuffle pruning a 100 TB big-big join depends
    on. The registry entry's frame carries the confs; the shared
    session's stay as they were."""
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    before = spark.conf.get(key)
    df = plans.QUERIES["bloom_pruned_join"].build(spark, SF_TEST_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    assert "BroadcastHashJoin" not in plan  # the child's confs force the shuffle join
    assert spark.conf.get(key) == before


def test_mode_median_modal_side_broadcasts(spark):
    """The two-row modal frame joins back to the stats as a broadcast,
    never a shuffle."""
    df = plans.QUERIES["mode_median_stats"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_diversity_stays_jvm_side(spark):
    """token_diversity_stats is pure JVM expressions (explode + two hash
    aggs) — no Python row boundary — and prunes the documents scan to
    the two columns it reads."""
    df = plans.QUERIES["token_diversity_stats"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_shuffle_hash_hint_respected(spark):
    """join_hint_shuffle_hash must actually plan a ShuffledHashJoin —
    the hint is the point of the query."""
    df = plans.QUERIES["join_hint_shuffle_hash"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jaccard_intersect_join_is_shuffled_hash(spark):
    """The shingle self-join in jaccard_pairs_frame must plan as a
    ShuffledHashJoin: the r9 A/B measured SMJ's two string sorts at 21s
    vs SHJ's 3s on the same exchange at sf1 (SCALING.md). The join
    condition includes the `s = s` equi-key, so a regression to SMJ is
    silent — pin the physical strategy."""
    df = plans.QUERIES["ngram_jaccard_pairs"].build(spark, SF_TEST_DIR)
    plan = _formatted(df)
    assert "ShuffledHashJoin" in plan


def test_load_handles_both_timestamp_flavors(spark, tmp_path):
    """The fixture generator has shipped events.ts as TIMESTAMP(NANOS)
    in some rounds and TIMESTAMP(US, no tz) in others; load() must
    normalize BOTH to the session-tz timestamp type with identical
    values, and the streaming stage must branch the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_us = [1704067200_000_000, 1704070800_500_000]  # 2024-01-01T00/01h UTC
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k":1}', '{"k":2}']),
    }
    expected = None
    for flavor, typ in (("us", pa.timestamp("us")), ("ns", pa.timestamp("ns"))):
        d = str(tmp_path / flavor)
        import os

        os.makedirs(d)
        mult = 1 if flavor == "us" else 1000
        tbl = pa.table({**base, "ts": pa.array([t * mult for t in ts_us], typ)})
        pq.write_table(tbl, f"{d}/events.parquet")
        df = load(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", flavor
        got = sorted(
            (r["event_id"], r["ts"].isoformat()) for r in df.select("event_id", "ts").collect()
        )
        if expected is None:
            expected = got
        else:
            assert got == expected, f"{flavor} values diverge: {got} vs {expected}"


def test_dpp_prunes_partitions(spark):
    """dpp_partitioned_join's fact scan must be pruned at RUNTIME: the
    PartitionFilters carry a dynamicpruningexpression and — because the
    dim filter is a data-dependent aggregate (odd daily totals), not a
    function of ds — NO static ds predicate. A static predicate there
    would mean Catalyst could infer the day set without running the
    dim, i.e. the DPP demonstration would be decorative."""
    import re as _re

    from big_data_competition_dxc_spark.operators.dpp import dpp_join_frames

    with dpp_join_frames(spark, SF_TEST_DIR) as joined:
        phys = joined._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[[^\]]*\]", phys)
    assert m, "fact scan lost its partitioned layout"
    pf = m.group(0)
    assert "dynamicpruningexpression" in pf
    # nothing but the null guard and the runtime subquery
    inner = pf.split("[", 1)[1].rstrip("]")
    static = [
        p
        for p in inner.split(", ")
        if "dynamicpruning" not in p and "isnotnull" not in p
    ]
    assert not static, f"static ds predicates leaked into the scan: {static}"


def test_bucket_pruning_selects_buckets(spark):
    """bucket_pruned_scan's bucketed read must prune: the scan reports
    SelectedBucketsCount strictly below the table's bucket count — the
    hash-index access path the layout buys for point lookups."""
    import re as _re

    from big_data_competition_dxc_spark.operators.bucketing import (
        N_BUCKETS,
        bucket_pruned_scan_frames,
    )

    with bucket_pruned_scan_frames(spark, SF_TEST_DIR) as joined:
        plan = _formatted(joined)
    m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "scan lost its bucketed layout (no SelectedBucketsCount)"
    selected, total = int(m.group(1)), int(m.group(2))
    assert total == N_BUCKETS
    assert selected < total, f"no pruning: {selected}/{total}"


def test_stream_dedup_probe_has_no_corpus_exchange(spark):
    """The streaming ingest's per-batch candidate probe must read the
    PERSISTED corpus band index bucketed and shuffle ONLY the batch
    side: a sort-merge join with exactly one Exchange (the batch
    bands hashing into the index's bucket layout) and the stored
    table scanned with Bucketed: true. This is the plan contract that
    makes per-ingest cost O(|batch|) instead of O(|corpus|)."""
    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.streaming import dedup_ingest

    df = plans.QUERIES["stream_incremental_dedup"].fn(spark, SF_TEST_DIR)
    assert df.count() > 0
    assert len(dedup_ingest.LAST_PROBE_PLANS) == dedup_ingest.INGEST_SLICES
    for p in dedup_ingest.LAST_PROBE_PLANS:
        assert "SortMergeJoin" in p
        assert "stream_corpus_bands" in p
        assert "Bucketed: true" in p, "corpus index not read bucketed"
        # Slice out the SMJ's RIGHT-child (corpus) subtree by connector
        # columns instead of a ':'-prefix line heuristic (which also
        # matched mainline operators above the join, so a legitimate
        # output-side Exchange would spuriously fail): the left child
        # roots at the first ':-' below the SMJ line; the right child
        # roots at the '+-' in the SAME column with only spaces before
        # it, and its subtree is every following line indented deeper.
        # The batch side legitimately shuffles (its own signature agg +
        # the probe repartition into the index's buckets); the corpus
        # side must not.
        tree = p.split("\n\n")[0]
        lines = tree.splitlines()
        smj_i = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
        lcol = rstart = None
        for j in range(smj_i + 1, len(lines)):
            ln = lines[j]
            if lcol is None:
                pos = ln.find(":-")
                if pos >= 0 and not ln[:pos].strip():
                    lcol = pos
                continue
            pos = ln.find("+-")
            if pos == lcol and not ln[:pos].strip():
                rstart = j
                break
        assert rstart is not None, f"no right child under SortMergeJoin:\n{tree}"
        corpus_lines = [lines[rstart]]
        for ln in lines[rstart + 1 :]:
            content = len(ln) - len(ln.lstrip())
            if ln.strip() and content <= lcol:
                break
            corpus_lines.append(ln)
        assert any("stream_corpus_bands" in line for line in corpus_lines), tree
        assert not any("Exchange" in line for line in corpus_lines), (
            f"corpus-side Exchange in probe plan:\n{tree}"
        )
    # The verify stage's corpus-text reads must be bucket-PRUNED: each
    # batch pushes its matched doc_id set into the stored shingle table
    # as an IN-list and the scan reads only the buckets those ids hash
    # into — per-batch corpus-text touch is O(matched docs), never
    # O(corpus). At least one batch must have matched (else the fixture
    # proves nothing) and every recorded scan must select strictly
    # fewer buckets than the table has.
    import re as _re

    assert dedup_ingest.LAST_VERIFY_PLANS, "no batch matched any corpus doc"
    for p in dedup_ingest.LAST_VERIFY_PLANS:
        assert "stream_corpus_shingles" in p
        m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p)
        assert m, f"verify scan lost bucket pruning:\n{p}"
        selected, total = int(m.group(1)), int(m.group(2))
        assert total == dedup_ingest.N_SHINGLE_BUCKETS
        assert selected < total, f"no pruning: {selected}/{total}"


def test_bucketed_index_append_preserves_layout(spark, tmp_path):
    """The dedup compaction cycle's storage half: APPENDING admitted
    docs' band rows to the bucketed index table (through the catalog,
    same bucket spec) must leave the layout intact — the post-append
    probe still reads the table Bucketed: true with no index-side
    Exchange, exactly like the fresh write. Complements
    dedup_index_evolution (the query semantics) and
    stream_incremental_dedup (the probe plan): together they make the
    'index absorbs novel docs once per cycle' story executable end to
    end."""
    name = "appendable_band_idx"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "CAST(id % 16 AS INT) AS band",
        "md5(CAST(id AS STRING)) AS band_key",
        "id AS doc_id",
    )
    try:
        (
            mk(0, 1000)
            .repartition(8, "band", "band_key")
            .write.bucketBy(8, "band", "band_key")
            .sortBy("band", "band_key")
            .option("path", str(tmp_path / "idx"))
            .saveAsTable(name)
        )
        (
            mk(1000, 1200)  # the admitted batch
            .repartition(8, "band", "band_key")
            .write.mode("append")
            .bucketBy(8, "band", "band_key")
            .sortBy("band", "band_key")
            .saveAsTable(name)
        )
        t = spark.table(name)
        assert t.count() == 1200  # append landed
        probe = mk(0, 64).select("band", "band_key")
        j = probe.join(t.alias("c").hint("merge"), ["band", "band_key"])
        plan = _formatted(j)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        tree = plan.split("\n\n")[0]
        idx_lines = [
            line
            for line in tree.splitlines()
            if "+-" in line and ":" not in line.split("+-")[0]
        ]
        assert any(name in line for line in idx_lines), tree
        assert not any("Exchange" in line for line in idx_lines), (
            f"index-side Exchange after append:\n{tree}"
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_stream_ann_probe_and_rerank_plans(spark):
    """The streaming ANN ingest's plan contract, mirroring the dedup
    ingest's: every micro-batch probe reads the PERSISTED postings
    table bucketed (sort-merge join against the stored layout), and
    every rerank scan of the vector table bucket-prunes to the
    batch's matched vec_ids (SelectedBucketsCount strictly below the
    table's bucket count) — per-lookup cost O(batch x bucket
    occupancy), never O(corpus)."""
    import re as _re

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.streaming import ann_ingest

    df = plans.QUERIES["stream_ann_ingest"].fn(spark, SF_TEST_DIR)
    rows = df.collect()
    assert len(rows) == ann_ingest.N_STREAM_QUERIES
    assert sorted(ann_ingest.LAST_BATCH_IDS) == list(range(ann_ingest.ANN_SLICES))
    assert len(ann_ingest.LAST_PROBE_PLANS) == ann_ingest.ANN_SLICES
    for p in ann_ingest.LAST_PROBE_PLANS:
        assert "stream_ann_index" in p
        assert "SortMergeJoin" in p
        assert "Bucketed: true" in p, "postings table not read bucketed"
    assert ann_ingest.LAST_RERANK_PLANS, "no batch matched any candidate"
    for p in ann_ingest.LAST_RERANK_PLANS:
        assert "stream_ann_vectors" in p
        m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p)
        assert m, f"rerank scan lost bucket pruning:\n{p}"
        selected, total = int(m.group(1)), int(m.group(2))
        assert total == ann_ingest.N_VEC_BUCKETS
        assert selected < total, f"no pruning: {selected}/{total}"
    # self-consistency of the one-row-per-query contract: every
    # non-empty bucket yields a best neighbor, empty buckets yield NULL
    for r in rows:
        assert (r.best_neighbor is None) == (r.n_candidates == 0)
