"""ANN index evolution: admit novel vectors, probe the evolved index.

The similarity-family twin of dedup_index_evolution
(dedup/incremental.py:275) — the lifecycle the one-shot lookups stop
short of. Phase 1 (vec_id < EVO_ADMIT) single-probes the corpus
postings (vec_id >= EVO_PROBE): a vector whose best same-bucket
rounded cosine clears ADMIT_COS is a DUPLICATE of existing content;
everything else — including empty-bucket vectors — is NOVEL and
ADMITTED: its posting unions into the index (at warehouse scale: the
bucketed-table APPEND streaming/ann_ingest.py's postings table takes,
once per compaction cycle — layout preservation is pinned by
tests/test_plans.py::test_bucketed_index_append_preserves_layout).
Phase 2 (EVO_ADMIT <= vec_id < EVO_PROBE) then MULTI-PROBES (Hamming-1,
the ann_multiprobe_recall policy) the EVOLVED postings, so a phase-2
query near an admitted phase-1 vector finds it even though neither is
in the original corpus — ``n_admitted_candidates`` counts exactly
those finds, the load-bearing evidence the evolution happened (8–10 of
the 16 phase-2 queries at every fixture scale).

Everything is one lazy plan: the admitted id set is a DataFrame
(broadcast-semi-joined onto the postings, no driver round-trip), the
evolved index is a unionByName, and both probe stages are equi-joins
on (expanded) bucket keys. Output: one row per phase-2 vector with
candidate counts and its best evolved-index neighbor (rounded cosine,
vec_id tie-break; NULLs when every probe bucket is empty).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..plans.memos import held, local
from ..plans.registry import query
from ..similarity.cosine import SQL_COS, as_double, dot
from ..sources import load
from ..streaming.ann_ingest import ANN_LSH_BITS, _SQL_BUCKET, _bucket_col
from .multiprobe import _SQL_PROBES, _flip

EVO_ADMIT = 16  # vec_id < 16: phase-1 ingest (admit-or-match)
EVO_PROBE = 32  # 16 <= vec_id < 32: phase-2 probe of the evolved index
ADMIT_COS = 0.25  # rounded-cosine duplicate bar for phase-1 admission

_EVOLUTION_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
         {_SQL_BUCKET.format(bits=ANN_LSH_BITS, v="v")} AS bucket
  FROM e
),
q1 AS (SELECT * FROM sig WHERE vec_id < {EVO_ADMIT}),
q2 AS (SELECT * FROM sig
       WHERE vec_id >= {EVO_ADMIT} AND vec_id < {EVO_PROBE}),
c AS (SELECT * FROM sig WHERE vec_id >= {EVO_PROBE}),
p1 AS (
  SELECT q1.vec_id AS q_id,
         MAX({sql_round(SQL_COS.format(a="q1.v", b="c.v"), 4)}) AS best
  FROM q1 JOIN c ON q1.bucket = c.bucket
  GROUP BY q1.vec_id
),
admitted AS (
  SELECT vec_id FROM q1
  WHERE vec_id NOT IN (SELECT q_id FROM p1 WHERE best >= {ADMIT_COS})
),
evolved AS (
  SELECT vec_id, v, bucket FROM c
  UNION ALL
  SELECT vec_id, v, bucket FROM sig
  WHERE vec_id IN (SELECT vec_id FROM admitted)
),
q2p AS (
  SELECT q_id, u.probe AS probe FROM (
    SELECT vec_id AS q_id, UNNEST({_SQL_PROBES}) AS u FROM q2
  )
),
cand AS (
  SELECT DISTINCT p.q_id, ev.vec_id AS c_id
  FROM q2p p JOIN evolved ev ON ev.bucket = p.probe
),
scored AS (
  SELECT cand.q_id, cand.c_id,
         {sql_round(SQL_COS.format(a="q2.v", b="ev.v"), 4)} AS sim
  FROM cand
  JOIN q2 ON q2.vec_id = cand.q_id
  JOIN evolved ev ON ev.vec_id = cand.c_id
),
ranked AS (
  SELECT q_id, c_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn,
         COUNT(*) OVER (PARTITION BY q_id) AS n_cand,
         SUM(CASE WHEN c_id < {EVO_ADMIT} THEN 1 ELSE 0 END)
           OVER (PARTITION BY q_id) AS n_adm
  FROM scored
)
SELECT q2.vec_id AS q_id,
       CAST(COALESCE(r.n_cand, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(r.n_adm, 0) AS BIGINT) AS n_admitted_candidates,
       CAST(r.c_id AS BIGINT) AS best_neighbor,
       r.sim AS best_sim
FROM q2 LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.q_id = q2.vec_id
"""


@query(
    "ann_index_evolution",
    oracle=_EVOLUTION_ORACLE,
    tags=("similarity", "ann", "lsh", "cdc", "U1"),
)
def ann_index_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase admit-then-probe over the sign-LSH postings: phase-1
    novel vectors (best corpus cosine < {ADMIT_COS} single-probe) join
    the index; phase-2 multi-probes the evolved index. One row per
    phase-2 vector: evolved candidate count, how many of those are
    admitted phase-1 vectors, and the best evolved neighbor."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    sig = e.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        _bucket_col("v").alias("bucket"),
    )  # cached below: probed by both phases + both scoring joins
    q1 = sig.filter(F.col("vec_id") < EVO_ADMIT)
    q2 = sig.filter(
        (F.col("vec_id") >= EVO_ADMIT) & (F.col("vec_id") < EVO_PROBE)
    )
    corpus = sig.filter(F.col("vec_id") >= EVO_PROBE)

    sim = round_to(
        dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")), 4
    )
    q_side = lambda df: df.select(  # noqa: E731 - tiny local shaper
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("q_bucket"),
    )
    c_side = lambda df: df.select(  # noqa: E731
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
        F.col("bucket").alias("c_bucket"),
    )

    # phase 1: single-probe duplicate test against the original corpus
    p1 = (
        q_side(q1)
        .join(c_side(corpus), F.col("q_bucket") == F.col("c_bucket"))
        .select("q_id", sim.alias("sim"))
        .groupBy("q_id")
        .agg(F.max("sim").alias("best"))
        .filter(F.col("best") >= ADMIT_COS)
        .select(F.col("q_id").alias("vec_id"))
    )
    # The evolved index feeds TWO consumers below (the phase-2
    # candidate probe and the scoring join), and each replayed the
    # whole phase-1 probe/aggregate subtree that decides admission.
    # Materialize the tiny admitted id set once (localCheckpoint:
    # ≤{EVO_ADMIT} rows) so phase 1 executes exactly once — rebuilding
    # `evolved` per consumer is then just a filter + broadcast
    # semi-join over the cached signature frame (guide §1.2).
    admitted = q1.select("vec_id").join(p1, "vec_id", "left_anti")
    with held(sig.cache()), held(admitted.localCheckpoint(eager=True)) as admitted:
        evolved = corpus.unionByName(
            sig.join(F.broadcast(admitted), "vec_id", "left_semi")
        )

        # phase 2: Hamming-1 multi-probe of the evolved postings
        probes = q2.select(
            F.col("vec_id").alias("q_id"),
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[_flip(F.col("bucket"), i) for i in range(1, ANN_LSH_BITS + 1)],
                )
            ).alias("probe"),
        )
        cand = (
            probes.join(
                evolved.select(
                    F.col("bucket").alias("probe"), F.col("vec_id").alias("c_id")
                ),
                "probe",
            )
            .select("q_id", "c_id")
            .distinct()
        )
        scored = (
            cand.join(
                q_side(q2).drop("q_bucket"), "q_id"
            )
            .join(c_side(evolved).drop("c_bucket"), "c_id")
            .select("q_id", "c_id", sim.alias("sim"))
        )
        w = Window.partitionBy("q_id")
        best = (
            scored.withColumn(
                "rn", F.row_number().over(w.orderBy(F.desc("sim"), F.asc("c_id")))
            )
            .withColumn("n_cand", F.count("*").over(w))
            .withColumn(
                "n_adm",
                F.sum(F.when(F.col("c_id") < EVO_ADMIT, 1).otherwise(0)).over(w),
            )
            .filter(F.col("rn") == 1)
            .select("q_id", "n_cand", "n_adm", "c_id", "sim")
        )
        return local(
            spark,
            q2.select(F.col("vec_id").alias("q_id"))
            .join(best, "q_id", "left")
            .select(
                "q_id",
                F.coalesce(F.col("n_cand"), F.lit(0)).cast("bigint").alias("n_candidates"),
                F.coalesce(F.col("n_adm"), F.lit(0))
                .cast("bigint")
                .alias("n_admitted_candidates"),
                F.col("c_id").cast("bigint").alias("best_neighbor"),
                F.col("sim").alias("best_sim"),
            ),
        )
