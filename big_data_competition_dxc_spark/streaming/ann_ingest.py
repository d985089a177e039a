"""Streaming ANN ingest: micro-batched query vectors probed against a
PERSISTED BUCKETED sign-LSH index (foreachBatch) — the similarity-family
twin of streaming/dedup_ingest.py.

The batch ANN operators (similarity/cosine.py, ivf.py) prove the
candidate-generation math; THIS operator runs the lookup the way a
production embedding service receives it — as a STREAM of query
batches against a STORED index — and keeps the per-batch cost bounded
by the batch, never the corpus. The corpus is materialized as TWO
bucketed tables, split by payload weight:

1. ``stream_ann_index`` — (bucket, vec_id) sign-LSH postings, bucketed
   + sorted on the ANN_LSH_BITS-bit sign bucket. A query batch computes its own
   bucket strings and probes with a sort-merge join in which ONLY the
   tiny batch side shuffles; the index reads its buckets in place with
   zero Exchange (plan captured per batch in ``LAST_PROBE_PLANS``).
   Postings rows are a few bytes — at 100 TB this table is ~1% of the
   vector payload and is the only thing the probe join touches.
2. ``stream_ann_vectors`` — (vec_id, v, nrm) full vectors, bucketed +
   sorted on vec_id. The exact-cosine rerank only needs the vectors of
   the candidates that actually collided, so each batch collects its
   matched vec_id set (bounded by batch x bucket occupancy) and pushes
   it into the scan as an IN-list — bucket-filter pruning reads ONLY
   the buckets those ids hash into (``LAST_RERANK_PLANS`` records
   SelectedBucketsCount). Per-batch vector-payload touch is
   O(candidates), never O(corpus); a pathological collision storm
   above ``MAX_PRUNE_IDS`` falls back to the unpruned bucketed scan.

Equivalence is the oracle: the query set (vec_id < N_STREAM_QUERIES)
is staged one file per slice and consumed maxFilesPerTrigger=1, so the
lookups really happen across several micro-batches — and because each
batch probes the same static index and the batches partition the query
set, the union of per-batch results must equal the one-shot batch
computation, which is exactly what the DuckDB oracle runs. Delivery is
at-least-once (foreachBatch); replay stays idempotent because each
batch overwrites a deterministic per-batch_id directory.

Output: ONE row per query vector — candidate count in its bucket plus
its best exact-cosine neighbor (NULL for an empty bucket), rounded to
4 digits with vec_id tie-break so the ranking is deterministic
cross-engine.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..ml.concurrency import run_concurrently
from ..operators.bucketing import AUTO_BUCKETED_SCAN
from ..plans.registry import query
from ..session import scoped
from ..similarity.cosine import SQL_COS, as_double, dot
from ..sources import load
from .dedup_ingest import _formatted_plan

#: sign bits in the bucket key — 2^6 = 64 buckets keeps real candidate
#: volume at the 500-vector fixture scale (~8 per bucket; LSH_BITS=12
#: from the batch lsh_bucket_stats query would shatter it into
#: singletons) while leaving each batch's matched-id set small enough
#: that the rerank's bucket pruning is real, not vacuous
ANN_LSH_BITS = 6
N_STREAM_QUERIES = 32  # vec_id < 32 are the streamed lookups
ANN_SLICES = 4  # micro-batches the staged query set splits into
N_ANN_BUCKETS = 8  # storage buckets of the postings table
N_VEC_BUCKETS = 32  # storage buckets of the vector table
MAX_PRUNE_IDS = 10_000


# test seams, same contract as dedup_ingest's
LAST_BATCH_IDS: list[int] = []
LAST_PROBE_PLANS: list[str] = []
LAST_RERANK_PLANS: list[str] = []

_SQL_BUCKET = (
    "array_to_string(list_transform(range(1, {bits} + 1), "
    "i -> CASE WHEN {v}[i] >= 0 THEN '1' ELSE '0' END), '')"
)

_ANN_INGEST_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
         {_SQL_BUCKET.format(bits=ANN_LSH_BITS, v="v")} AS bucket
  FROM e
),
q AS (SELECT * FROM sig WHERE vec_id < {N_STREAM_QUERIES}),
c AS (SELECT * FROM sig WHERE vec_id >= {N_STREAM_QUERIES}),
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {sql_round(SQL_COS.format(a="q.v", b="c.v"), 4)} AS sim
  FROM q JOIN c ON q.bucket = c.bucket
),
ranked AS (
  SELECT q_id, c_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn,
         COUNT(*) OVER (PARTITION BY q_id) AS n_cand
  FROM cand
)
SELECT q.vec_id AS q_id,
       CAST(COALESCE(r.n_cand, 0) AS BIGINT) AS n_candidates,
       CAST(r.c_id AS BIGINT) AS best_neighbor,
       r.sim AS best_sim
FROM q LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.q_id = q.vec_id
"""


def _bucket_col(v: str) -> F.Column:
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(v, i) >= 0, "1").otherwise("0")
            for i in range(1, ANN_LSH_BITS + 1)
        ],
    )


@query(
    "stream_ann_ingest",
    oracle=_ANN_INGEST_ORACLE,
    tags=("streaming", "similarity", "ann", "lsh"),
    writes=True,
)
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN lookups run as a STREAM: query vectors staged one
    file per slice, consumed maxFilesPerTrigger=1, each batch's bucket
    keys probed against the PERSISTED bucketed postings table,
    candidates exact-cosine reranked against the PERSISTED bucketed
    vector table pruned to the batch's matched vec_ids, best-neighbor
    rows overwritten to a per-batch directory (idempotent replay).
    Union of batches must hash-match the one-shot oracle."""
    # bucket-FILTER pruning of the rerank scan needs autoBucketedScan
    # OFF (the auto heuristic is blind to IN-list pruning —
    # operators/bucketing.py). The whole stream is built, planned and
    # run on a child session holding that.
    spark = scoped(spark, {AUTO_BUCKETED_SCAN: "false"})
    # the stored tables are named per call: the catalog is shared
    suffix = uuid.uuid4().hex[:8]
    index_table = f"stream_ann_index_{suffix}"
    vector_table = f"stream_ann_vectors_{suffix}"
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    stage = tempfile.mkdtemp(prefix="stream_ann_")
    in_dir = os.path.join(stage, "in")
    res_dir = os.path.join(stage, "out")
    ckpt_dir = os.path.join(stage, "ckpt")
    idx_dir = os.path.join(stage, "idx")
    vec_dir = os.path.join(stage, "vec")

    def cleanup() -> None:
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")
        spark.sql(f"DROP TABLE IF EXISTS {vector_table}")
        shutil.rmtree(stage, ignore_errors=True)

    q = None
    try:
        corpus = emb.filter(F.col("vec_id") >= N_STREAM_QUERIES)

        # Index-build chain and query staging are INDEPENDENT jobs —
        # overlap them (guide §2.6). The build chain stays sequential
        # by data dependency (postings derive FROM the stored vector
        # table).
        def _build_index() -> tuple[DataFrame, DataFrame]:
            # --- stored table 1: full vectors + precomputed norms,
            # bucketed on vec_id for the pruned rerank reads.
            (
                corpus.select(
                    "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm")
                )
                .repartition(N_VEC_BUCKETS, "vec_id")
                .write.bucketBy(N_VEC_BUCKETS, "vec_id")
                .sortBy("vec_id")
                .option("path", vec_dir)
                .saveAsTable(vector_table)
            )
            tbl = spark.table(vector_table)

            # --- stored table 2: the sign-LSH postings, bucketed on
            # bucket. Built FROM the stored vector table (one read),
            # bucket strings recomputed — postings rows are
            # (bucket, vec_id) only.
            (
                tbl.select(_bucket_col("v").alias("bucket"), "vec_id")
                .repartition(N_ANN_BUCKETS, "bucket")
                .write.bucketBy(N_ANN_BUCKETS, "bucket")
                .sortBy("bucket")
                .option("path", idx_dir)
                .saveAsTable(index_table)
            )
            return tbl, spark.table(index_table)

        def _stage_queries() -> None:
            queries_df = emb.filter(F.col("vec_id") < N_STREAM_QUERIES).select(
                "vec_id", "v", F.pmod("vec_id", F.lit(ANN_SLICES)).alias("slice")
            )
            queries_df.repartition("slice").write.partitionBy("slice").parquet(in_dir)

        (vectors_tbl, index_tbl), _ = run_concurrently(
            [_build_index, _stage_queries], spark
        )

        LAST_BATCH_IDS.clear()
        LAST_PROBE_PLANS.clear()
        LAST_RERANK_PLANS.clear()

        def probe(batch_df: DataFrame, batch_id: int) -> None:
            LAST_BATCH_IDS.append(batch_id)
            b = batch_df.select(
                F.col("vec_id").alias("q_id"),
                "v",
                F.sqrt(dot(F.col("v"), F.col("v"))).alias("qnrm"),
                _bucket_col("v").alias("bucket"),
            ).cache()  # feeds probe + rerank + the keep-all left join
            # probe: batch buckets x stored postings — merge hint pins
            # the SMJ whose corpus side reads bucketed with no Exchange
            # (a broadcast of the tiny batch would ALSO be
            # corpus-exchange-free but streams the whole index past the
            # hash table; the SMJ is the plan that scales).
            probe_join = b.select("q_id", "bucket").join(
                index_tbl.hint("merge"), "bucket"
            )
            LAST_PROBE_PLANS.append(_formatted_plan(probe_join))
            cand = probe_join.select("q_id", F.col("vec_id").alias("c_id")).cache()
            try:
                matched = [r[0] for r in cand.select("c_id").distinct().collect()]
                if not matched:
                    vec_side = vectors_tbl.filter(F.lit(False))
                elif len(matched) <= MAX_PRUNE_IDS:
                    vec_side = vectors_tbl.filter(F.col("vec_id").isin(*matched))
                    LAST_RERANK_PLANS.append(_formatted_plan(vec_side))
                else:  # collision storm: unpruned bucketed scan
                    vec_side = vectors_tbl
                # exact-cosine rerank: candidates x pruned vectors, the
                # query vector re-joined from the tiny cached batch
                scored = (
                    cand.join(vec_side, cand.c_id == vec_side.vec_id)
                    .join(
                        F.broadcast(
                            b.select("q_id", F.col("v").alias("qv"), "qnrm")
                        ),
                        "q_id",
                    )
                    .select(
                        "q_id",
                        "c_id",
                        round_to(
                            dot(F.col("qv"), F.col("v"))
                            / (F.col("qnrm") * F.col("nrm")),
                            4,
                        ).alias("sim"),
                    )
                )
                w = Window.partitionBy("q_id")
                best = (
                    scored.withColumn(
                        "rn",
                        F.row_number().over(
                            w.orderBy(F.desc("sim"), F.asc("c_id"))
                        ),
                    )
                    .withColumn("n_cand", F.count("*").over(w))
                    .filter(F.col("rn") == 1)
                    .select("q_id", "n_cand", "c_id", "sim")
                )
                out = (
                    b.select("q_id")
                    .join(best, "q_id", "left")
                    .select(
                        "q_id",
                        F.coalesce(F.col("n_cand"), F.lit(0))
                        .cast("bigint")
                        .alias("n_candidates"),
                        F.col("c_id").cast("bigint").alias("best_neighbor"),
                        F.col("sim").alias("best_sim"),
                    )
                )
                out.write.mode("overwrite").parquet(
                    os.path.join(res_dir, f"b{batch_id}")
                )
            finally:
                cand.unpersist()
                b.unpersist()

        q = (
            spark.readStream.schema("vec_id bigint, v array<double>, slice int")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(probe)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(os.path.join(res_dir, "b*")).collect()
    finally:
        if q is not None and q.isActive:
            q.stop()
        cleanup()
    assert len(rows) == N_STREAM_QUERIES, (
        f"stream dropped query vectors: {len(rows)}/{N_STREAM_QUERIES}"
    )
    return spark.createDataFrame(
        rows,
        "q_id bigint, n_candidates bigint, best_neighbor bigint, best_sim double",
    )
