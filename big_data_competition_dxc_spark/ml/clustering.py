"""Clustering pipelines (SURVEY §2.10 ML7, ML10).

ML7: KMeans k=4, maxIter=50 with SSE cost and cluster assignment
(流行音乐趋势预测.md:1088-1120 — the reference clustered artists by
play-volume features, runs=20 is gone in `ml`; seed pins our runs).
ML10: per-cluster model ensemble (M:1124-1217) — filter rows by
assigned cluster id, train one GBDT per cluster, predict within the
cluster, reassemble with unionByName (the reference's unionAll M:1217).

Rows-only driver checks (no oracle): cluster ids and model outputs are
not SQL-expressible and not value-stable across Spark versions
(SURVEY §7.4). tests/test_ml.py self-validates shapes and metrics.

Scale note: KMeans on 100 TB of embeddings is driver-orchestrated
Lloyd iterations over the cached assembled frame — the cache and the
k|maxIter config are the knobs; assignment (`transform`) is a narrow
map. The per-cluster ensemble trains k models over disjoint row
subsets of ONE cached feature table (k passes), then unions — no
shuffle beyond each GBDT's own treeAggregate.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import array_to_vector
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_to
from ..plans.memos import held, local
from ..plans.registry import query
from .concurrency import run_concurrently
from ..sources import load

SEED = 42
K = 4


def fit_kmeans(df: DataFrame, features: str = "features", k: int = K):
    """ML7 trainer: reference config (k=4, maxIter=50, M:1095-1099)."""
    km = KMeans(k=k, maxIter=50, seed=SEED, featuresCol=features)
    return km.fit(df)


@query("ml_kmeans_embeddings", tags=("ML7", "S8", "S9"))
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML7 (M:1088-1120): KMeans k=4 over the 64-dim embeddings table;
    returns per-cluster occupancy + SSE cost (the reference's
    computeCost, M:1108) — shape-stable even where ids are not."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        array_to_vector(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("features"),
    )
    with held(emb.cache()):
        model = fit_kmeans(emb)
        cost = float(model.summary.trainingCost)
        assigned = model.transform(emb)
        # audited determinism scalar (r10): SSE in integer cents plus the
        # occupancy histogram folded in (cluster ids are permutation-free
        # under a fixed seed, but the audit is id-order-independent anyway:
        # it sums per-cluster contributions). Any seed/init/convergence
        # regression changes it.
        # floor(x*100+0.5): the same half-up form as the sse_total column,
        # so audit == round(sse_total*100) + sum(n_vecs) exactly
        audit = F.floor(F.lit(cost) * 100 + 0.5) + F.sum("n_vecs").over(
            Window.partitionBy()
        )
        return local(
            spark,
            assigned.groupBy("prediction")
            .agg(
                F.count("*").alias("n_vecs"),
                round_to(F.avg("label"), 4).alias("avg_label"),
            )
            .select(
                F.col("prediction").alias("cluster_id"),
                "n_vecs",
                "avg_label",
                round_to(F.lit(cost), 2).alias("sse_total"),
                audit.alias("audit_sse_cents"),
            )
            .orderBy("cluster_id"),
        )


@query("ml_cluster_ensemble", tags=("ML10", "ML7", "ML6", "U1", "S8"))
def ml_cluster_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML10 (M:1124-1217): cluster users by their activity profile
    (KMeans k=4 on aggregate features), then train one GBDT per cluster
    on the daily feature table and evaluate within-cluster; reassemble
    the per-cluster test predictions with unionByName (M:1217).
    Returns one row per cluster: sizes + test MSE."""
    from .regression import FEATURES, daily_features

    feats = daily_features(spark, sf_dir).filter(F.col("label_next").isNotNull())
    assembled = VectorAssembler(
        inputCols=list(FEATURES), outputCol="features"
    ).transform(feats.select(*FEATURES, "label_next", "ds", "user_id"))

    # Cluster on the per-user mean profile (tiny: one row per user).
    profile = (
        feats.groupBy("user_id")
        .agg(*[F.avg(c).alias(c) for c in FEATURES])
    )
    prof_vec = VectorAssembler(inputCols=list(FEATURES), outputCol="features").transform(
        profile
    )
    km = fit_kmeans(prof_vec)
    clusters = km.transform(prof_vec).select(
        "user_id", F.col("prediction").alias("cluster_id")
    )

    # Broadcast the (small) user->cluster map onto the fact table, then
    # truncate lineage ONCE with an eager localCheckpoint (guide §5) —
    # replacing the r14 cache+count: the 4 GBT branches and the final
    # evaluation re-plan this frame for every one of their dozens of
    # tiny actions (isEmpty probes, fit-internal materializations, the
    # closing union collect), and each of those walked the full
    # rollup+window+assembler lineage through the cache lookup. The
    # checkpointed blocks hold the same rows in the same partitioning,
    # so the seeded fits are bit-identical (A/B row-equality pinned).
    data = assembled.join(F.broadcast(clusters), "user_id")
    with held(data.localCheckpoint(eager=True)) as data:
        train = data.filter(F.col("ds") < "2024-01-22")
        test = data.filter(F.col("ds") >= "2024-01-22")

        # One thunk per cluster, submitted concurrently (guide §2.6 via
        # ml/concurrency.py): the four seeded GBT fits are independent and
        # each is a chain of tiny boosting stages — serial, they leave the
        # pool idle; overlapped, they back-fill each other. Assembled in
        # cid order, so the unioned output is row-identical to the serial
        # loop (tests/test_ml.py pins the audited scalar across runs).
        def _branch(cid: int) -> DataFrame | None:
            tr = train.filter(F.col("cluster_id") == cid)
            te = test.filter(F.col("cluster_id") == cid)
            if tr.isEmpty() or te.isEmpty():
                return None
            gbt = GBTRegressor(
                featuresCol="features", labelCol="label_next", maxIter=10, maxDepth=5,
                seed=SEED,
            )
            pred = gbt.fit(tr).transform(te)
            return pred.groupBy("cluster_id").agg(
                F.count("*").alias("n_test"),
                round_to(
                    F.avg(F.pow(F.col("label_next") - F.col("prediction"), 2)), 4
                ).alias("mse_test"),
            )

        per_cluster = [
            df
            for df in run_concurrently([lambda c=c: _branch(c) for c in range(K)])
            if df is not None
        ]
        if not per_cluster:  # degenerate split: no cluster has both sides
            return spark.createDataFrame(
                [], "cluster_id int, n_test bigint, mse_test double, audit_n_test_total bigint"
            )
        out = per_cluster[0]
        for df in per_cluster[1:]:
            out = out.unionByName(df)
        # audited scalar (r7): the total test-row count across clusters is
        # seed-stable (seeded KMeans assignment + fixed date split), so
        # repeating it on every row turns the driver's rows/schema check
        # into a determinism pin — tests/test_ml.py asserts it is identical
        # across two runs, and a future seed/split regression changes it.
        return local(
            spark,
            out.withColumn(
                "audit_n_test_total", F.sum("n_test").over(Window.partitionBy())
            ).orderBy("cluster_id"),
        )
