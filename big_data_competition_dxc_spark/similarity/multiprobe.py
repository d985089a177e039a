"""Multi-probe sign-LSH: recall/cost curve of probing Hamming-1
neighbor buckets.

Single-probe LSH (one bucket per query — the probe stream_ann_ingest
runs) trades recall for a tiny candidate set; MULTI-PROBE (Lv et al.,
VLDB'07) recovers most of the lost recall without more tables by ALSO
probing the buckets whose keys differ from the query's in one bit —
the buckets a borderline sign flip would have landed the query in. The
probe set grows from 1 to ANN_LSH_BITS+1 buckets, so the candidate
cost bound is explicit, and the recall gain is measurable against the
exact top-k.

This query computes the whole tradeoff in ONE pass as exact integers:
for the first MP_QUERIES vectors, the exact top-MP_K neighbor set
(rounded-cosine ranking with vec_id tie-break, the repo's
deterministic ANN contract), the single-probe and multi-probe
candidate sets (equi-joins on EXPANDED probe keys — the scale form:
each query explodes into B+1 probe rows, candidates come from an
equi-join on the posting key, never a Hamming-distance theta-join),
and the hit counts of each probe strategy against the exact set. The
one summary row is the evidence an ANN operator needs before shipping
a probe policy at 100 TB: recall@k per probe count next to candidate
volume per strategy.

Scale notes (100 TB): the probe expansion is a bounded explode (B+1
rows per query); both candidate generations are equi-joins against the
same postings the streaming ingest stores bucketed, so the multi-probe
path reuses the single-probe plan with a wider (still tiny) probe
side. The exact top-k ground truth is the only corpus-quadratic term —
at fixture scale it is the brute-force broadcast join ann_cosine_topk
already runs; at 100 TB you would sample queries, which preserves the
recall estimate.
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

MP_QUERIES = 16  # vec_id < 16 are the recall-audited queries
MP_K = 10  # exact top-k ground truth per query

# DuckDB probe expansion: index 0 keeps the query's own bucket, index
# i>=1 flips bit i. Strings are 1-indexed in both engines' substr.
# struct_pack + unnest instead of WITH ORDINALITY (unsupported).
_SQL_PROBES = f"""
list_transform(
  range(0, {ANN_LSH_BITS} + 1),
  i -> struct_pack(
         probe_i := i,
         probe := CASE WHEN i = 0 THEN bucket
                       ELSE substr(bucket, 1, i - 1)
                            || (CASE WHEN substr(bucket, i, 1) = '1'
                                     THEN '0' ELSE '1' END)
                            || substr(bucket, i + 1)
                  END))
"""

_MULTIPROBE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
         {_SQL_BUCKET.format(bits=ANN_LSH_BITS, v="v")} AS bucket
  FROM e
),
q AS (SELECT * FROM sig WHERE vec_id < {MP_QUERIES}),
c AS (SELECT * FROM sig WHERE vec_id >= {MP_QUERIES}),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {sql_round(SQL_COS.format(a="q.v", b="c.v"), 4)} DESC,
                      c.vec_id) AS rn
    FROM q, c
  ) WHERE rn <= {MP_K}
),
probes AS (
  SELECT q_id, u.probe_i AS probe_i, u.probe AS probe FROM (
    SELECT vec_id AS q_id, UNNEST({_SQL_PROBES}) AS u FROM q
  )
),
cand AS (
  SELECT DISTINCT p.q_id, c.vec_id AS c_id, p.probe_i
  FROM probes p JOIN c ON c.bucket = p.probe
),
single AS (SELECT DISTINCT q_id, c_id FROM cand WHERE probe_i = 0),
multi AS (SELECT DISTINCT q_id, c_id FROM cand)
SELECT CAST({MP_QUERIES} AS BIGINT) AS n_queries,
       CAST({MP_K} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS exact_pairs,
       CAST((SELECT COUNT(*) FROM single) AS BIGINT) AS single_candidates,
       CAST((SELECT COUNT(*) FROM multi) AS BIGINT) AS multi_candidates,
       CAST((SELECT COUNT(*) FROM exact x
             WHERE EXISTS (SELECT 1 FROM single s
                           WHERE s.q_id = x.q_id AND s.c_id = x.c_id))
            AS BIGINT) AS single_hits,
       CAST((SELECT COUNT(*) FROM exact x
             WHERE EXISTS (SELECT 1 FROM multi m
                           WHERE m.q_id = x.q_id AND m.c_id = x.c_id))
            AS BIGINT) AS multi_hits
"""


def _flip(bucket, i: int):
    """bucket with 1-indexed bit i flipped (Spark column expr)."""
    return F.concat(
        F.substring(bucket, 1, i - 1),
        F.when(F.substring(bucket, i, 1) == "1", "0").otherwise("1"),
        F.substring(bucket, i + 1, ANN_LSH_BITS),
    )


@query(
    "ann_multiprobe_recall",
    oracle=_MULTIPROBE_ORACLE,
    tags=("similarity", "ann", "lsh"),
)
def ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact-integer summary row: recall@{MP_K} hits and candidate
    volumes of single-probe vs Hamming-1 multi-probe sign-LSH for the
    first {MP_QUERIES} query vectors. Candidates come from equi-joins
    on exploded probe keys; ground truth is the deterministic
    rounded-cosine top-k."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    sig = e.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        _bucket_col("v").alias("bucket"),
    )
    # both cached while the summary below runs
    qs = sig.filter(F.col("vec_id") < MP_QUERIES)
    corpus = sig.filter(F.col("vec_id") >= MP_QUERIES)

    # exact ground truth: brute-force broadcast of the tiny query set
    sim = round_to(
        dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 4
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    exact = (
        corpus.join(
            F.broadcast(
                qs.select(
                    F.col("vec_id").alias("q_id"),
                    F.col("v").alias("qv"),
                    F.col("nrm").alias("qnrm"),
                )
            )
        )
        .select(
            "q_id", F.col("vec_id").alias("c_id"), sim.alias("sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MP_K)
        .select("q_id", "c_id")
    )

    # probe expansion: index 0 = own bucket, i>=1 = bit i flipped
    probes = qs.select(
        F.col("vec_id").alias("q_id"),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("probe_i"), F.col("bucket").alias("probe")),
                *[
                    F.struct(
                        F.lit(i).alias("probe_i"),
                        _flip(F.col("bucket"), i).alias("probe"),
                    )
                    for i in range(1, ANN_LSH_BITS + 1)
                ],
            )
        ).alias("p"),
    ).select("q_id", F.col("p.probe_i").alias("probe_i"), F.col("p.probe").alias("probe"))

    cand = probes.join(
        corpus.select(F.col("bucket").alias("probe"), F.col("vec_id").alias("c_id")),
        "probe",
    ).select("q_id", "c_id", "probe_i")

    # ONE pass computes every scalar (r15, guide §1.2 — the r14 shape
    # attached FIVE separate 1-row aggregates, re-deriving the
    # candidate set four times: two distincts + two semi-joins + five
    # counts): dedupe candidates once keeping min(probe_i) (0 ⇔ the
    # pair is a single-probe candidate), full-outer join with the
    # exact top-k set, and fold all five counts out of one aggregate —
    # a candidate row counts toward multi (and single when pmin=0), an
    # exact row toward exact_pairs, a row present on both sides is a
    # hit. Same integers, 3 subtrees instead of 9.
    cm = cand.groupBy("q_id", "c_id").agg(F.min("probe_i").alias("pmin"))
    j = cm.join(
        exact.withColumn("ex", F.lit(1)), ["q_id", "c_id"], "full_outer"
    )
    # exact/cand are single-consumer and not cached at all
    with held(qs.cache(), corpus.cache()):
        return local(
            spark,
            j.agg(
                F.count("ex").cast("bigint").alias("exact_pairs"),
                F.coalesce(F.sum(F.when(F.col("pmin") == 0, 1).otherwise(0)), F.lit(0))
                .cast("bigint")
                .alias("single_candidates"),
                F.count("pmin").cast("bigint").alias("multi_candidates"),
                F.coalesce(
                    F.sum(
                        F.when((F.col("ex") == 1) & (F.col("pmin") == 0), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("single_hits"),
                F.coalesce(
                    F.sum(
                        F.when((F.col("ex") == 1) & F.col("pmin").isNotNull(), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("multi_hits"),
            ).select(
                F.lit(MP_QUERIES).cast("bigint").alias("n_queries"),
                F.lit(MP_K).cast("bigint").alias("k"),
                "exact_pairs",
                "single_candidates",
                "multi_candidates",
                "single_hits",
                "multi_hits",
            ),
        )
