"""Rows-only self-validation for the ML surface (SURVEY §5.2): fixed
seeds, finite metrics, expected shapes — mirroring the reference's own
evaluation style (train/held-out MSE, cluster occupancy, hit-rate)."""

from __future__ import annotations

import math

from big_data_competition_dxc_spark import plans

from conftest import SF_TEST_DIR

plans.load_all()


def _run(name, spark):
    return plans.QUERIES[name].fn(spark, SF_TEST_DIR)


def _rerun(name, spark):
    """A second execution: the registry holds ``fn``'s answer, so a
    determinism pin runs the builder again."""
    return plans.QUERIES[name].build(spark, SF_TEST_DIR)


def test_features_scaled(spark):
    df = _run("ml_features_scaled", spark)
    # scalar-only contract (driver canonicalizer rejects array cells):
    # doubles plus the bigint audit column
    assert all(
        f.dataType.typeName() in ("double", "long") for f in df.schema.fields[2:]
    )
    rows = df.collect()
    assert len(rows) > 0
    scaled_cols = [c for c in df.columns[2:] if c.startswith("scaled_")]
    assert len(scaled_cols) == 4
    for r in rows[:20]:
        assert all(r[c] is not None for c in scaled_cols)
    # z-scored columns: mean ~0 over the whole frame
    import math

    for c in scaled_cols:
        mean = sum(r[c] for r in rows) / len(rows)
        assert math.isfinite(mean) and abs(mean) < 0.01
    # audited determinism scalar (r10): |z| in 4-decimal units over all
    # rows/columns — constant across rows, nonzero, identical on rerun
    audits = {r["audit_abs_units"] for r in rows}
    assert len(audits) == 1 and audits.pop() > 0
    rerun = _rerun("ml_features_scaled", spark).collect()
    assert {r["audit_abs_units"] for r in rerun} == {
        rows[0]["audit_abs_units"]
    }


def test_pca_embeddings(spark):
    df = _run("ml_pca_embeddings", spark)
    pc_cols = [c for c in df.columns if c.startswith("pc")]
    assert len(pc_cols) == 8
    assert all(
        f.dataType.typeName() == "double"
        for f in df.schema.fields
        if f.name in pc_cols
    )
    rows = df.collect()
    assert len(rows) > 0
    assert all(r[c] is not None for r in rows[:20] for c in pc_cols)
    # audited determinism scalar (r10): |pc| units are sign-convention
    # free (abs), constant across rows, identical on rerun
    audits = {r["audit_abs_units"] for r in rows}
    assert len(audits) == 1 and audits.pop() > 0
    rerun = _rerun("ml_pca_embeddings", spark).collect()
    assert {r["audit_abs_units"] for r in rerun} == {
        rows[0]["audit_abs_units"]
    }


def test_linear_regression_battery(spark):
    rows = {r["target"]: r for r in _run("ml_linear_regression", spark).collect()}
    assert set(rows) == {"events", "clicks", "purchases"}  # the 3 LR targets (M:186-221)
    for r in rows.values():
        assert r["n_train"] > 0 and r["n_test"] > 0
        # The reference's LR collapsed to ~0 weights (M:223-234); ours
        # must actually fit: finite train MSE, below the train-mean
        # baseline, for EVERY target in the battery.
        assert math.isfinite(r["mse_train"]) and math.isfinite(r["mse_test"])
        assert r["mse_train"] < r["mse_naive"], r
    # audited determinism scalar (r10): test MSEs in 4-decimal units,
    # consistent with the per-row values, identical on rerun
    audits = {r["audit_mse_units"] for r in rows.values()}
    assert audits == {
        sum(int(round(r["mse_test"] * 10_000)) for r in rows.values())
    }
    rerun = _rerun("ml_linear_regression", spark).collect()
    assert {r["audit_mse_units"] for r in rerun} == audits


def test_random_forest_battery(spark):
    from big_data_competition_dxc_spark.ml.regression import BATTERY_FEATURES, RF_TARGETS

    rows = _run("ml_random_forest", spark).collect()
    assert len(rows) == len(RF_TARGETS) * len(BATTERY_FEATURES)
    by_target = {}
    for r in rows:
        by_target.setdefault(r["target"], []).append(r)
    assert set(by_target) == set(RF_TARGETS)  # the 5 RF measures (M:327-352)
    for target, trows in by_target.items():
        total_imp = sum(r["importance"] for r in trows)
        assert 0.9 < total_imp < 1.1, target
        [mse_train] = {r["mse_train"] for r in trows}
        [mse_naive] = {r["mse_naive"] for r in trows}
        assert math.isfinite(mse_train) and mse_train < mse_naive, target
        assert all(math.isfinite(r["mse_test"]) for r in trows)
    # audited determinism scalar (r10): importances in 4-decimal units,
    # consistent with the per-row values, identical on rerun (seeded RF)
    audits = {r["audit_importance_units"] for r in rows}
    assert audits == {sum(int(round(r["importance"] * 10_000)) for r in rows)}
    rerun = _rerun("ml_random_forest", spark).collect()
    assert {r["audit_importance_units"] for r in rerun} == audits


def test_gbt_horizon_blend(spark):
    [r] = _run("ml_gbt_horizon_blend", spark).collect()
    assert r["n_test"] > 0
    for c in ("mse_h1", "mse_h2", "mse_blend"):
        assert math.isfinite(r[c]) and r[c] >= 0
    # audited determinism scalar (r10): the three horizon MSEs in
    # 4-decimal units, consistent and identical on rerun (seeded GBT)
    want = int(round((r["mse_h1"] + r["mse_h2"] + r["mse_blend"]) * 10_000))
    assert r["audit_mse_units"] == want
    [r2] = _rerun("ml_gbt_horizon_blend", spark).collect()
    assert r2["audit_mse_units"] == r["audit_mse_units"]


def test_kmeans_embeddings(spark):
    rows = _run("ml_kmeans_embeddings", spark).collect()
    assert 1 <= len(rows) <= 4
    assert sum(r["n_vecs"] for r in rows) > 0
    assert all(r["sse_total"] > 0 for r in rows)
    # audited determinism scalar (r10): SSE cents + occupancy, constant
    # across rows, consistent with the per-row values, stable on rerun
    audits = {r["audit_sse_cents"] for r in rows}
    want = int(round(rows[0]["sse_total"] * 100)) + sum(r["n_vecs"] for r in rows)
    assert audits == {want}
    rerun = _rerun("ml_kmeans_embeddings", spark).collect()
    assert {r["audit_sse_cents"] for r in rerun} == audits


def test_cluster_ensemble(spark):
    rows = _run("ml_cluster_ensemble", spark).collect()
    assert len(rows) >= 1
    assert all(math.isfinite(r["mse_test"]) and r["n_test"] > 0 for r in rows)
    # audited determinism scalar: constant across rows, consistent with
    # the per-cluster counts, and identical on a second run (seeded
    # KMeans + fixed split — a seed/split regression changes it)
    audits = {r["audit_n_test_total"] for r in rows}
    assert audits == {sum(r["n_test"] for r in rows)}
    rows2 = _rerun("ml_cluster_ensemble", spark).collect()
    assert {r["audit_n_test_total"] for r in rows2} == audits


def test_als_recommend(spark):
    [r] = _run("ml_als_recommend", spark).collect()
    assert r["n_users"] > 0
    assert math.isfinite(r["mse_test"])
    assert 0.0 <= r["hit_rate"] <= 1.0
    # audited determinism scalar: the top-k rec scores in exact
    # 4-decimal units (order-independent DECIMAL accumulation), nonzero
    # whenever any recs were produced, and identical on a second run
    # (seeded ALS + seeded split — a seed/ranking regression changes it)
    assert r["audit_topk_score_units"] != 0
    [r2] = _rerun("ml_als_recommend", spark).collect()
    assert r2["audit_topk_score_units"] == r["audit_topk_score_units"]
    assert r2["n_hits"] == r["n_hits"]


def test_autoregressive_forecast(spark):
    df = _run("ml_autoregressive_forecast", spark)
    rows = df.collect()
    n_users = len({r["user_id"] for r in rows})
    assert len(rows) == n_users * 7  # HORIZON rows per user
    assert all(r["predicted_events"] >= 0 for r in rows)
    # audited determinism scalar: the whole-horizon total in cents,
    # constant across rows, consistent with the row values, and
    # identical on a second run (deterministic LR fit + pure rollout)
    audits = {r["audit_forecast_cents"] for r in rows}
    want = int(round(sum(r["predicted_events"] for r in rows) * 100))
    assert audits == {want}
    rows2 = _rerun("ml_autoregressive_forecast", spark).collect()
    assert {r["audit_forecast_cents"] for r in rows2} == audits


def test_ann_ivf_recall(spark):
    rows = _run("ann_ivf_recall", spark).collect()
    assert len(rows) == 20  # one per query vector
    mean_recall = sum(r["recall_at_k"] for r in rows) / len(rows)
    mean_scan = sum(r["scan_frac"] for r in rows) / len(rows)
    # probing 4/16 cells must scan far less than the corpus while
    # keeping usable recall — the whole point of IVF
    assert mean_scan < 0.6
    assert mean_recall > 0.5
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)
    # audited determinism scalar (r9): constant across rows, consistent
    # with the per-query integers, identical across two runs — the
    # rows-only driver check pins this value, so seeded KMeans +
    # deterministic ranking must reproduce it exactly.
    audits = {r["audit_total_hits"] for r in rows}
    assert audits == {sum(r["n_hits"] for r in rows)}
    assert all(r["n_hits"] == round(r["recall_at_k"] * 10) for r in rows)
    rerun = _rerun("ann_ivf_recall", spark).collect()
    assert {r["audit_total_hits"] for r in rerun} == audits


def test_stratified_sample_fractions(spark):
    rows = {r["event_type"]: r for r in _run("stratified_sample", spark).collect()}
    targets = {"view": 0.2, "click": 0.2, "error": 0.5, "signup": 1.0, "purchase": 1.0}
    for etype, target in targets.items():
        realized = rows[etype]["realized_frac"]
        if target == 1.0:
            assert realized == 1.0  # keep-all strata must be exact
        else:
            assert abs(realized - target) < 0.15  # Bernoulli tolerance


def test_approx_distinct_within_rsd(spark):
    [r] = _run("approx_distinct_check", spark).collect()
    # the published contract: Spark's own sketch within the documented
    # bound of the exact counts (the oracle asserts the same for DuckDB)
    assert r["users_within_bound"] is True
    assert r["events_within_bound"] is True
    assert r["exact_users"] > 0 and r["exact_events"] > 0


def test_approx_quantile_within_accuracy(spark):
    [r] = _run("approx_quantile_check", spark).collect()
    # accuracy=10000 -> rank error <= 1e-4, far inside the published
    # p±0.005 rank window (the oracle asserts the same for DuckDB)
    assert r["p50_within_rank_eps"] is True
    assert r["p99_within_rank_eps"] is True
    assert r["exact_p50"] <= r["exact_p99"]


def test_pandas_udf_cosine_matches_jvm_fold(spark):
    """The Arrow pandas_udf cosine and the JVM F.aggregate fold must
    agree before rounding. The UDF forces index-order float64
    accumulation (numpy's own reductions use pairwise summation and
    would differ in the last ulp), so raw values are compared at
    ulp scale (abs diff < 1e-12) rather than asserting exact
    floor-rounded equality — a last-ulp difference landing on a
    6-decimal rounding boundary would be the flake class
    functions/rounding.py exists to prevent."""
    from pyspark.sql import functions as F

    from big_data_competition_dxc_spark.similarity.cosine import as_double, cosine
    from big_data_competition_dxc_spark.similarity.pandas_path import (
        QUERY_VEC_ID,
        raw_cosine_frame,
    )
    from big_data_competition_dxc_spark.sources import load

    emb = load(spark, SF_TEST_DIR, "embeddings")
    [qrow] = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").collect()
    )
    q = F.array(*[F.lit(float(x)) for x in qrow["embedding"]])
    jvm = {
        r["vec_id"]: r["sim"]
        for r in emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", cosine(as_double(F.col("embedding")), q).alias("sim"))
        .collect()
    }
    py = {
        r["vec_id"]: r["sim"] for r in raw_cosine_frame(spark, SF_TEST_DIR).collect()
    }
    assert set(jvm) == set(py)
    for k, v in jvm.items():
        assert abs(v - py[k]) < 1e-12, (k, v, py[k])


def test_als_recommend_sampled(spark):
    # scale-form twin: bounded-cost ALS (1/8 user sample, 5 iters) with
    # the same summary-row contract as the anchor
    [r] = _run("ml_als_recommend_sampled", spark).collect()
    assert r["n_users"] > 0
    assert math.isfinite(r["mse_test"])
    assert 0.0 <= r["hit_rate"] <= 1.0
    assert r["audit_topk_score_units"] != 0
    [r2] = _rerun("ml_als_recommend_sampled", spark).collect()
    assert r2["audit_topk_score_units"] == r["audit_topk_score_units"]
    assert r2["n_hits"] == r["n_hits"]
    # the sample is a strict subset of the anchor's user universe
    [anchor] = _run("ml_als_recommend", spark).collect()
    assert r["n_users"] < anchor["n_users"]
