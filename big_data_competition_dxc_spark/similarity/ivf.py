"""IVF (inverted-file) approximate nearest neighbor — the partitioned
scale path for embedding search.

Brute-force cosine (cosine.py) reads the whole corpus per query batch.
IVF is the standard fix: KMeans the corpus into NLIST cells once,
store each vector with its cell id (the "inverted file"), and at query
time probe only the NPROBE cells whose centroids are nearest the
query — corpus reads drop by ~NLIST/NPROBE. On a cluster the corpus
would be written partitioned by cell id so a probe prunes partitions.

Rows-only driver check (KMeans cell ids are not value-stable across
Spark versions), but SELF-VALIDATING: the query emits recall@K against
the exact brute-force top-K computed in the same plan — the metric a
100 TB deployment would monitor. tests/test_ml.py bounds it.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_to
from ..plans.memos import held, local
from ..plans.registry import query
from ..ml.concurrency import run_concurrently
from ..sources import load
from .cosine import as_double, dot

NLIST = 16
NPROBE = 4
TOPK = 10
N_QUERIES = 20
SEED = 42


@query("ann_ivf_recall", tags=("similarity", "ann", "ML7"))
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-{NLIST} / probe-{NPROBE} cosine top-{TOPK} for the first
    {N_QUERIES} vectors, scored against the exact answer: one row per
    query with its recall@{TOPK}, plus the mean recall and the fraction
    of the corpus actually scanned (the cost side of the trade)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    emb = emb.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    with held(emb.cache()), ExitStack() as branch_frames:
        emb.count()  # warm the cache once before the concurrent branches

        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
        )

        def topk(pairs: DataFrame, label: str) -> DataFrame:
            sim = dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
            w = Window.partitionBy("q_id").orderBy(
                F.desc("sim"), F.asc("vec_id")
            )
            return (
                pairs.select("q_id", "vec_id", round_to(sim, 6).alias("sim"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= TOPK)
                .select("q_id", F.col("vec_id").alias(label))
            )

        # The exact baseline (20 queries x corpus) never touches the IVF
        # index, and the eager KMeans fit used to serialize in front of it;
        # overlap the two (guide §2.6 via ml/concurrency.py). The baseline
        # thunk materializes its top-k via localCheckpoint so the final
        # join reuses it instead of recomputing; the index thunk is the
        # unchanged fit + inverted-file build. Same rows either way — the
        # old exact branch read (vec_id, v, nrm) through the inv join,
        # which is 1:1 with emb (every vector has exactly one cell).
        def _exact_branch() -> DataFrame:
            exact_pairs = q.crossJoin(emb.select("vec_id", "v", "nrm")).filter(
                F.col("vec_id") != F.col("q_id")
            )
            return branch_frames.enter_context(
                held(topk(exact_pairs, "true_hit").localCheckpoint(eager=True))
            )

        def _index_branch():
            vec = emb.select("vec_id", array_to_vector("v").alias("features"))
            km = KMeans(k=NLIST, maxIter=20, seed=SEED, featuresCol="features").fit(vec)
            cells = km.transform(vec).select("vec_id", F.col("prediction").alias("cell"))
            # the inverted file
            inv_ = branch_frames.enter_context(held(emb.join(cells, "vec_id").cache()))
            # centroids as a tiny broadcastable frame
            cents_ = spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
                "cell int, cv array<double>",
            )
            return inv_, cents_

        exact_top, (inv, cents) = run_concurrently([_exact_branch, _index_branch])

        # probe list: NPROBE nearest centroids per query (tiny cross join:
        # N_QUERIES x NLIST rows)
        qc = q.crossJoin(F.broadcast(cents)).select(
            "q_id", "qv", "qnrm", "cell", dot(F.col("qv"), F.col("cv")).alias("cdot")
        )
        wprobe = Window.partitionBy("q_id").orderBy(F.desc("cdot"))
        probes = (
            qc.withColumn("rn", F.row_number().over(wprobe))
            .filter(F.col("rn") <= NPROBE)
            .select("q_id", "qv", "qnrm", "cell")
        )

        # IVF candidates: only vectors in probed cells
        ivf_pairs = probes.join(inv, "cell").filter(F.col("vec_id") != F.col("q_id"))
        ivf_top = topk(ivf_pairs, "ivf_hit")

        hits = exact_top.join(
            ivf_top,
            (exact_top.q_id == ivf_top.q_id) & (exact_top.true_hit == ivf_top.ivf_hit),
            "left",
        ).groupBy(exact_top.q_id.alias("q_id")).agg(
            F.count("ivf_hit").cast("bigint").alias("n_hits"),
            (F.count("ivf_hit") / F.lit(TOPK)).alias("recall_at_k"),
        )
        n_total = inv.count()
        scanned = (
            probes.join(inv.groupBy("cell").count(), "cell")
            .groupBy("q_id")
            .agg((F.sum("count") / F.lit(n_total)).alias("scan_frac"))
        )
        # audited determinism scalar (r9, the ML8/ML10/ML12 treatment): the
        # total exact-top-k hits across all queries as one integer. The
        # driver's rows-only check previously pinned only "20 rows
        # returned"; this column turns it into a determinism pin —
        # tests/test_ml.py asserts it is identical across two runs, and any
        # seed/centroid/ranking regression changes it.
        return local(
            spark,
            hits.join(scanned, "q_id")
            .select(
                "q_id",
                "n_hits",
                round_to(F.col("recall_at_k"), 4).alias("recall_at_k"),
                round_to(F.col("scan_frac"), 4).alias("scan_frac"),
                F.sum("n_hits").over(Window.partitionBy()).alias("audit_total_hits"),
            )
            .orderBy("q_id"),
        )
