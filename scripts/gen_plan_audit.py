"""Generate PLANS.md: the formatted physical plan of every headline
(bench) query at sf0.1, with a scan audit extracted per query.

This is the evidence file for the 100 TB design claims: for each
headline query it records
- PushedFilters / ReadSchema on every parquet scan (predicate pushdown
  and column pruning actually reached the source),
- which joins broadcast vs shuffle,
- WholeStageCodegen span count (Python never in the hot relational path).

Run from the repo root after plan-affecting changes:
    python scripts/gen_plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys


def main() -> None:
    sys.path.insert(0, os.getcwd())
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Audit mode: final-result localCheckpoints and session memo caches
    # are materialization barriers that truncate the visible lineage —
    # round 4's PLANS.md recorded knn_user_recommend as a bare
    # `Scan ExistingRDD` (0 scans / 0 joins / 0 exchanges) because it
    # audited the post-checkpoint frame. With the barrier disabled the
    # audited plan is the real scan/join/exchange profile the query
    # executes; the barrier itself changes materialization, not the
    # pipeline shape.
    os.environ["SPARK_GRAFT_NO_CHECKPOINT"] = "1"
    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.session import get_spark

    plans.load_all()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def audit(df):
        """Execute df and extract the AQE-final plan audit metrics."""
        df.collect()
        qe = df._jdf.queryExecution()
        plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        simple = df._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
        tree = plan.split("== Initial Plan ==")[0]
        detail = re.findall(r"(?:\+\-|:\-|^)\s*\*?\s*([A-Za-z]+)", tree, re.M)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        return {
            "plan": plan,
            "scans": len(re.findall(r"Scan parquet", tree)),
            "pushed": len([p for p in pushed if p.strip()]),
            "bhj": detail.count("BroadcastHashJoin"),
            "smj": detail.count("SortMergeJoin"),
            "shj": detail.count("ShuffledHashJoin"),
            "bnlj": detail.count("BroadcastNestedLoopJoin"),
            "exch": detail.count("Exchange"),
            "wsc": len(set(re.findall(r"\*\((\d+)\)", simple))),
            "pyeval": sum(
                detail.count(op)
                for op in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                           "FlatMapGroupsInPandas",
                           "FlatMapGroupsInPandasWithState")
            ),
            "empty": len(re.findall(r"Scan parquet", tree)) == 0 and not detail,
        }

    headline = {n: e for n, e in sorted(plans.QUERIES.items()) if e.bench}
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `scripts/gen_plan_audit.py` at `{sf_dir}`. For each",
        "bench query: the Catalyst formatted plan plus an extracted audit",
        "(scans with pushed filters / read schema, join strategies,",
        "whole-stage-codegen span count). Regenerate after plan changes.",
        "",
    ]
    for name, entry in headline.items():
        # execute THIS dataframe's own queryExecution (count() would spawn
        # a separate one and leave this plan isFinalPlan=false) so AQE's
        # FINAL plan — real join strategies, codegen spans, runtime
        # reoptimizations — is what gets recorded. Operator counts come
        # from the FINAL tree only (an executed AQE plan renders Final +
        # Initial with distinct node ids); scan detail sections render
        # once per distinct source, so PushedFilters is deduplicated;
        # codegen spans only render in simple mode ("*(n)" prefixes).
        a = audit(entry.build(spark, sf_dir))
        out.append(f"## {name}")
        out.append("")
        out.append(
            f"- scans={a['scans']} (pushed-filter scans={a['pushed']}), "
            f"joins: broadcast={a['bhj']} sort-merge={a['smj']} "
            f"shuffled-hash={a['shj']} nested-loop={a['bnlj']}, "
            f"exchanges={a['exch']}, "
            f"codegen spans={a['wsc']}, python-eval nodes={a['pyeval']}"
        )
        if a["empty"]:
            out.append(
                "- (plan is a scan of an executor-materialized frame: this "
                "query iterates internally — per-iteration plans are bounded "
                "by design; see the module docstring)"
            )
        out.append("")
        out.append("```")
        # keep the operator tree + the per-node detail sections
        out.append(a["plan"].rstrip())
        out.append("```")
        out.append("")

    # ---- compact audit of the full decision-support suite ----
    # (q1 = pricing_summary is already above as a headline query with its
    # full plan; the 21 other classic shapes get the summary metrics —
    # enough to check broadcast/shuffle/pushdown posture per query
    # without 21 more full plan dumps.)
    suite = [
        n for n in sorted(plans.QUERIES)
        if re.match(r"q\d+_", n) and not plans.QUERIES[n].bench
    ]
    out.append("## Decision-support suite (compact audit)")
    out.append("")
    out.append(
        "| query | scans | pushed | bhj | smj | shj | bnlj | exchanges "
        "| codegen | py |"
    )
    out.append("|---|---|---|---|---|---|---|---|---|---|")
    for name in suite:
        a = audit(plans.QUERIES[name].build(spark, sf_dir))
        out.append(
            f"| `{name}` | {a['scans']} | {a['pushed']} | {a['bhj']} "
            f"| {a['smj']} | {a['shj']} | {a['bnlj']} | {a['exch']} "
            f"| {a['wsc']} | {a['pyeval']} |"
        )
    out.append("")

    # ---- compact audit of the round-4 iterative/graph additions ----
    # (the streaming / Python-datasource / UDTF extensions are excluded
    # on purpose: their plans contain Python nodes BY DESIGN — they are
    # flagged extension seams, not hot relational paths)
    extras = [
        "pagerank_cosupply_top20",
        "itemcf_item_neighbors",
        "itemcf_user_recommend",
        "recursive_cte_reach",
        "pseudonymize_consistent_join",
        "k_anonymity_groups",
        "cdc_apply_with_deletes",
        "incremental_rollup_maintenance",
        "snapshot_drift_report",
        "temperature_mixture_rates",
        "span_corruption_pairs",
        "incremental_minhash_dedup",
        "bpe_pair_counts",
        "embedding_label_centroids",
        "zorder_layout_audit",
        "triangle_count_cosupply",
        "approx_distinct_check",
        "approx_quantile_check",
        # r11 spotlight batch members with known-heavy plans: the exact
        # FP-growth anchor (fixed-count support, flagged weak at 100x)
        # and its scale-form twin (fraction support + top-k bound).
        "fpgrowth_pair_itemsets",
        "fpgrowth_topk_fraction_support",
        # r11: the PIT multi-feature join — the audit should show ONE
        # user_id clustering exchange feeding the shared window (plus
        # the two per-source pre-aggregation exchanges), zero Python.
        "pit_feature_join",
        # r12: the fixture-regime FP-growth twin (bounded vocabulary)
        # and the session-4 additions — span-level exact-substring
        # dedup (one fingerprint shuffle + a dup-set join, never
        # pairs), SemDeDup (one bucket exchange, keepers broadcast
        # back, zero corpus self-join), LATERAL decorrelation
        # (WindowGroupLimit + one exchange), and DSIR (one conditional
        # -agg model pass, 128-row model broadcast onto tokens).
        "fpgrowth_fixed_vocab_topk",
        "substring_span_dedup",
        "substring_span_hotspots",
        "semantic_dedup_keep",
        "lateral_topk_per_nation",
        "dsir_importance_weights",
        # r13: the span-scrub materialization (dup-set join + per-doc
        # start-array collapse, text rebuilt by JVM HOFs — zero
        # per-token shuffles) and the DSIR resampling decision (a pure
        # projection over the weights aggregation — zero extra
        # exchanges vs dsir_importance_weights).
        "substring_span_scrub",
        "dsir_resample_keep",
        # r13: islands = the scrub upstream + a per-row aggregate fold
        # (no corpus window); the Python-sink query's audited frame is
        # the read-back aggregate (the write itself is the extension
        # seam, executed eagerly inside the function).
        "substring_span_islands",
        "python_datasource_sink",
        # r13: SQL scripting — the audited frame is the script's final
        # SELECT (per-iteration bound derivations run as separate
        # 1-row-result aggregate jobs inside the script).
        "sql_scripting_sigma_clip",
        # r14: the composed release ledger — exact-dedup window (the
        # one full-text shuffle), span pre-agg + dup-set join scoped to
        # keepers, per-row JVM scrub/quality/langid, the DSIR decision
        # attach, and a shuffle-free three-way union.
        "corpus_release_pipeline",
        # r14: collation-aware grouping — semantics live in the key's
        # type; the audit proves the plan stays a plain one-shuffle
        # map-side-combined aggregate.
        "collated_group_counts",
        # r14: asymmetric quantized retrieval — the audit pins the
        # shape: one bounded BNLJ scoring pass over int8 arrays, then
        # broadcast equi-joins fetch fp vectors for the shortlist only.
        "ann_quantized_rerank",
        # r14: IVFADC composition — cell-probed residual-quantized
        # retrieval; the audit proves zero nested-loop joins (the
        # probe join on cell id is a broadcast equi-join).
        "ann_ivfadc_topk",
    ]
    out.append("## Iterative / graph / governance additions (compact audit)")
    out.append("")
    out.append(
        "| query | scans | pushed | bhj | smj | shj | bnlj | exchanges "
        "| codegen | py |"
    )
    out.append("|---|---|---|---|---|---|---|---|---|---|")
    local_result = []
    for name in extras:
        if name not in plans.QUERIES:
            continue
        a = audit(plans.QUERIES[name].build(spark, sf_dir))
        if a["scans"] == 0 and a["exch"] == 0:
            local_result.append(name)
        out.append(
            f"| `{name}` | {a['scans']} | {a['pushed']} | {a['bhj']} "
            f"| {a['smj']} | {a['shj']} | {a['bnlj']} | {a['exch']} "
            f"| {a['wsc']} | {a['pyeval']} |"
        )
    out.append("")
    if local_result:
        out.append(
            "All-zero rows ("
            + ", ".join(f"`{n}`" for n in local_result)
            + ") are queries whose returned frame is a driver-local "
            "result: the distributed work (iteration loops, the dense "
            "triangle kernel's broadcast-bitset popcount) executes "
            "eagerly inside the query function, so the audited plan is "
            "just the final LocalTableScan. Their per-stage plans are "
            "bounded by design — see the module docstrings."
        )
        out.append("")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written: {len(headline)} headline queries")


if __name__ == "__main__":
    main()
