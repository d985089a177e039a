"""Embedding similarity search over the ``embeddings`` table
(array<float>, 64-dim).

Brute-force cosine is the correctness baseline (exact, O(n*q));
sign-bit LSH bucketing is the scale path (candidates only within a
bucket). All arithmetic is double-precision JVM expressions
(``zip_with`` + ``aggregate`` fold in index order), mirrored exactly by
DuckDB's ``list_dot_product`` on DOUBLE[] so similarities are
bit-comparable before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..plans.registry import query
from ..sources import load

TOPK = 5
N_QUERIES = 10
NEARDUP_COS = 0.4
LSH_BITS = 12
PAIR_BLOCKS = 8


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Index-order double fold — matches DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


SQL_COS = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
p AS (
  SELECT q.q_id, e.vec_id,
         {sql_round(SQL_COS.format(a="q.qv", b="e.v"), 4)} AS sim
  FROM q, e WHERE e.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
              AS BIGINT) AS rn
  FROM p
)
SELECT q_id, vec_id AS neighbor_id, sim, rn FROM r WHERE rn <= {TOPK}
""",
    tags=("similarity", "ann"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOPK} for the first {N_QUERIES} vectors:
    broadcast the (tiny) query set against all vectors, rank on the
    ROUNDED similarity with vec_id tie-break (deterministic across
    engines)."""
    from pyspark.sql import Window

    # Precompute each vector's norm ONCE (same fold expression the
    # per-pair form would use, so results are bit-identical) — per-pair
    # work drops from 3 O(dim) folds to 1. At 100 TB this is the
    # difference between reading the corpus once and three times.
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    e = e.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    sim = dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
    scored = pairs.select("q_id", "vec_id", round_to(sim, 4).alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOPK)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "sim", "rn")
    )


@query(
    "embedding_neardup_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_round(SQL_COS.format(a="a.v", b="b.v"), 4)} AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {SQL_COS.format(a="a.v", b="b.v")} >= {NEARDUP_COS}
""",
    tags=("similarity", "dedup"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= {NEARDUP_COS}) — the
    semantic-dedup primitive — as a BLOCK-PARTITIONED exact pair join.

    Why not prune with the sign-bit LSH one query over: at this
    threshold it cannot. P(one sign bit agrees | cos=0.4) =
    1 - acos(0.4)/pi = 0.63, so an r-bit band agrees with probability
    0.63^r — banding 64 dims at r=2 (the smallest r that misses < 1e-7
    of qualifying pairs) yields 32 bands x 4 buckets of n/4 vectors
    = ~4n^2 candidate pairs, MORE than the n^2/2 the exact join
    scores. Sign-LSH only pays at high thresholds (the fixture's
    qualifying pairs sit at 0.40-0.60); lsh_bucket_stats remains the
    documented scale path for near-identical dedup.

    The exact pair space is instead enumerated scale-safely: vectors
    hash into {PAIR_BLOCKS} blocks; the tiny (i<=j) block-pair table is
    broadcast against both sides; pairs materialize through an
    EQUI-join on (i, j) — a shuffled, AQE-splittable hash join spread
    over B(B+1)/2 keys — instead of the single-executor
    BroadcastNestedLoopJoin a theta-only (vec_id < vec_id) join plans
    (asserted in tests/test_plans.py). At 100 TB: B grows ~sqrt(cluster
    parallelism); per-row replication is ~(B+1)/2; no full-side
    broadcast, no driver materialization. Same rows as the all-pairs
    DuckDB oracle by construction (every unordered pair appears in
    exactly one block-pair)."""
    return _block_pair_sims(spark, sf_dir, NEARDUP_COS)


def _block_pair_sims(
    spark: SparkSession, sf_dir: str, min_cos: float, keep=None
) -> DataFrame:
    """(vec_a, vec_b, cos_sim-rounded-4dp) for every unordered pair
    with raw cosine >= min_cos, via the block-partitioned equi-join
    documented on `embedding_neardup_pairs` (which is this helper at
    {NEARDUP_COS}); `neardup_threshold_curve` reuses it at its lowest
    grid point. ``keep`` (optional Column predicate) restricts the
    vector set BEFORE pairing — a keep-rate q shrinks the pair space
    by q^2 (`neardup_curve_sampled`'s scale lever)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    if keep is not None:
        e = e.filter(keep)
    e = e.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        F.pmod("vec_id", F.lit(PAIR_BLOCKS)).alias("blk"),
    )
    bp = spark.createDataFrame(
        [(i, j) for i in range(PAIR_BLOCKS) for j in range(i, PAIR_BLOCKS)],
        "i int, j int",
    )
    af = e.alias("a").join(F.broadcast(bp), F.col("a.blk") == F.col("i")).select(
        "i", "j", F.col("a.vec_id").alias("id_a"), F.col("a.v").alias("v_a"),
        F.col("a.nrm").alias("nrm_a"),
    )
    bf = e.alias("b").join(F.broadcast(bp), F.col("b.blk") == F.col("j")).select(
        "i", "j", F.col("b.vec_id").alias("id_b"), F.col("b.v").alias("v_b"),
        F.col("b.nrm").alias("nrm_b"),
    )
    sim = dot(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        af.join(bf, ["i", "j"])
        # cross-block pairs (i<j) are unique already; same-block pairs
        # need the strict ordering to drop self+mirror duplicates
        .filter((F.col("i") != F.col("j")) | (F.col("id_a") < F.col("id_b")))
        .filter(sim >= min_cos)
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
            round_to(sim, 4).alias("cos_sim"),
        )
    )


_EMB_PAIRS_SQL = f"""
  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_round(SQL_COS.format(a="a.v", b="b.v"), 4)} AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {SQL_COS.format(a="a.v", b="b.v")} >= {NEARDUP_COS}
  ),
  sym AS (
    SELECT vec_a AS vec_id, vec_b AS other_vec_id, cos_sim FROM pairs
    UNION ALL
    SELECT vec_b AS vec_id, vec_a AS other_vec_id, cos_sim FROM pairs
  )
"""

EMB_TOPK = 3  # per-vector matches kept by the bounded production form


def _sym_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_neardup_pairs symmetrized to one row per (vector,
    match) direction — the input both bounded twins cut down."""
    pairs = _block_pair_sims(spark, sf_dir, NEARDUP_COS)
    return pairs.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("other_vec_id"),
        "cos_sim",
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("other_vec_id"),
            "cos_sim",
        )
    )


@query(
    "embedding_neardup_topk_per_doc",
    oracle=f"""
WITH {_EMB_PAIRS_SQL},
ranked AS (
  SELECT vec_id, other_vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, other_vec_id) AS match_rank,
         COUNT(*) OVER (PARTITION BY vec_id) AS n_matches
  FROM sym
)
SELECT vec_id, CAST(match_rank AS INT) AS match_rank, other_vec_id, cos_sim,
       CAST(n_matches AS BIGINT) AS n_matches
FROM ranked WHERE match_rank <= {EMB_TOPK}
""",
    tags=("similarity", "dedup", "bounded"),
)
def embedding_neardup_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-{EMB_TOPK} nearest qualifying matches (plus the
    vector's total match count): the bounded production form of
    embedding_neardup_pairs — the r15/r16 spotlight preview measured
    the pair LISTING's output growing 202x at 10x data (SCALING.md),
    the same listing-form scale-killer the simhash/minhash families
    fixed with their r8 twins. Same block-partitioned exact pair join;
    the pair set is symmetrized and cut per vector with a row_number
    window (deterministic order: rounded cosine desc, other id asc),
    so output is O(k) per matched vector — linear in corpus — however
    dense the qualifying-pair space gets. Wall cost still pays the
    exact pair scoring (that is inherent to exactness; the sampled
    estimator `neardup_curve_sampled` is the quadratic-wall escape
    hatch) — what this form fixes is the OUTPUT volume a downstream
    canonical-assignment join would otherwise re-shuffle."""
    from pyspark.sql import Window

    sym = _sym_pairs(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("other_vec_id").asc()
    )
    wc = Window.partitionBy("vec_id")
    return (
        sym.withColumn("match_rank", F.row_number().over(w))
        .withColumn("n_matches", F.count("*").over(wc).cast("bigint"))
        .filter(F.col("match_rank") <= EMB_TOPK)
        .select("vec_id", "match_rank", "other_vec_id", "cos_sim", "n_matches")
    )


@query(
    "embedding_neardup_summary",
    oracle=f"""
WITH {_EMB_PAIRS_SQL}
SELECT CAST(FLOOR(cos_sim * 20) AS BIGINT) AS sim_band,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_docs
FROM sym GROUP BY 1
""",
    tags=("similarity", "dedup", "bounded"),
)
def embedding_neardup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-band histogram of the qualifying pair set (0.05-wide
    rounded-cosine bands: band = floor(cos*20), so 0.40-0.45 -> 8):
    the constant-size calibration form — at most ~12 output rows at ANY
    corpus size (cos in [0.4, 1.0]). The threshold-calibration
    consumer reads this, not the pair listing; one extra groupBy over
    the same block-partitioned join. Banding uses the ROUNDED cosine
    (both engines band the identical 4-decimal value — banding the raw
    cosine would put boundary pairs in different bands per engine)."""
    sym = _sym_pairs(spark, sf_dir)
    return sym.groupBy(
        F.floor(F.col("cos_sim") * 20).cast("bigint").alias("sim_band")
    ).agg(
        (F.count("*") / 2).cast("bigint").alias("n_pairs"),
        F.countDistinct("vec_id").cast("bigint").alias("n_docs"),
    )


@query(
    "lsh_bucket_stats",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id,
         array_to_string(
           list_transform(range(1, {LSH_BITS} + 1),
                          i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END),
           '') AS bucket
  FROM e
)
SELECT bucket, COUNT(*) AS n_vecs,
       MIN(vec_id) AS min_vec_id
FROM sig GROUP BY bucket
HAVING COUNT(*) >= 2
""",
    tags=("similarity", "lsh"),
)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH bucketing (the ANN scale path): signature = sign bits
    of the first {LSH_BITS} dimensions; only same-bucket vectors become
    candidate pairs. Returns bucket occupancy (buckets with >= 2
    vectors = the actual candidate workload)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    sig = e.select(
        "vec_id",
        F.concat_ws(
            "",
            *[
                F.when(F.element_at("v", i) >= 0, "1").otherwise("0")
                for i in range(1, LSH_BITS + 1)
            ],
        ).alias("bucket"),
    )
    return (
        sig.groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
        .filter(F.col("n_vecs") >= 2)
    )


# ---------------------------------------------------------------------------
# Dedup-threshold calibration curve (r6)
# ---------------------------------------------------------------------------

# basis points of the candidate cosine thresholds; the lowest one is the
# pair-enumeration floor (same as NEARDUP_COS so the curve reuses the
# block-join pair space 1:1)
_CURVE_BPS = (40, 45, 50, 55, 60)


def _curve_oracle() -> str:
    base = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {sql_round(SQL_COS.format(a="a.v", b="b.v"), 4)} AS s
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {SQL_COS.format(a="a.v", b="b.v")} >= {NEARDUP_COS}
),
vbest AS (
  SELECT vec, MAX(s) AS best FROM (
    SELECT vec_a AS vec, s FROM p UNION ALL SELECT vec_b, s FROM p
  ) GROUP BY vec
)
"""
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({bp / 100.0} AS DOUBLE) AS threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p WHERE s >= {bp / 100.0}) AS n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM vbest WHERE best >= {bp / 100.0}) AS n_vecs"""
        for bp in _CURVE_BPS
    )
    return base + selects


@query(
    "neardup_threshold_curve",
    oracle=_curve_oracle(),
    tags=("similarity", "dedup", "A2"),
)
def neardup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for choosing a semantic-dedup threshold: for
    each candidate cosine cutoff, how many pairs would be merged and
    how many vectors have at least one partner above it — the curve a
    pipeline owner reads before committing to a threshold (too low
    merges distinct content, too high leaves near-dups in the training
    set; the knee of n_vecs(threshold) is the usual pick).

    One pass over the block-partitioned pair space at the LOWEST grid
    point (reusing `embedding_neardup_pairs`' equi-join enumeration),
    then two tiny aggregates — per-threshold conditional sums and a
    per-vector best-partner rollup — stacked into the 5-row curve. No
    joins beyond the pair enumeration itself; raising the grid density
    adds expressions, not passes. Comparisons use the 4dp-rounded sim
    both engines share, so counts at the cut boundaries are exact."""
    p = _block_pair_sims(spark, sf_dir, NEARDUP_COS)
    pair_sums = p.agg(
        *[
            F.sum((F.col("cos_sim") >= F.lit(bp / 100.0)).cast("long")).alias(
                f"np_{bp}"
            )
            for bp in _CURVE_BPS
        ]
    )
    vbest = (
        p.select(
            F.explode(F.array("vec_a", "vec_b")).alias("vec"), F.col("cos_sim")
        )
        .groupBy("vec")
        .agg(F.max("cos_sim").alias("best"))
    )
    vec_sums = vbest.agg(
        *[
            F.sum((F.col("best") >= F.lit(bp / 100.0)).cast("long")).alias(
                f"nv_{bp}"
            )
            for bp in _CURVE_BPS
        ]
    )
    wide = pair_sums.crossJoin(F.broadcast(vec_sums))  # 1 row x 1 row
    stack_args = ", ".join(
        f"CAST({bp / 100.0} AS DOUBLE), np_{bp}, nv_{bp}" for bp in _CURVE_BPS
    )
    return wide.selectExpr(
        f"stack({len(_CURVE_BPS)}, {stack_args}) AS (threshold, n_pairs, n_vecs)"
    )


# Deterministic curve-calibration sampling (see neardup_curve_sampled):
# keep a vector iff md5(vec_id) mod 10000 < CURVE_SAMPLE_BP. 5000bp =
# q=1/2, so the pair-space shrinks 4x and the unbiased pair-count
# scale 1/q^2 is EXACTLY 4 — integer arithmetic end-to-end.
CURVE_SAMPLE_BP = 5000
CURVE_EST_SCALE = 4  # (10000 // CURVE_SAMPLE_BP) ** 2; update together

_SQL_CURVE_SAMPLE = (
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))"
    f"::BIGINT % 10000 < {CURVE_SAMPLE_BP}"
)


def _curve_sampled_oracle() -> str:
    base = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {_SQL_CURVE_SAMPLE}),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {sql_round(SQL_COS.format(a="a.v", b="b.v"), 4)} AS s
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {SQL_COS.format(a="a.v", b="b.v")} >= {NEARDUP_COS}
),
vbest AS (
  SELECT vec, MAX(s) AS best FROM (
    SELECT vec_a AS vec, s FROM p UNION ALL SELECT vec_b, s FROM p
  ) GROUP BY vec
)
"""
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({bp / 100.0} AS DOUBLE) AS threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p WHERE s >= {bp / 100.0})
         AS n_pairs_sampled,
       (SELECT CAST(COUNT(*) * {CURVE_EST_SCALE} AS BIGINT)
        FROM p WHERE s >= {bp / 100.0}) AS est_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM vbest WHERE best >= {bp / 100.0})
         AS n_vecs_sampled"""
        for bp in _CURVE_BPS
    )
    return base + selects


@query(
    "neardup_curve_sampled",
    oracle=_curve_sampled_oracle(),
    tags=("similarity", "dedup", "A2", "sampling", "scale"),
)
def neardup_curve_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-calibration curve on a DETERMINISTIC 1/2 vector
    sample — the scale path for `neardup_threshold_curve`, whose exact
    pair enumeration is the repo's one inherently quadratic term (r8
    spotlight preview: 8.2s at sf0.1 -> 164s at sf1, 19.9x wall at
    constant output, because the qualifying-pair space itself grows
    ~n^2). Sampling vectors at keep-rate q shrinks the pair space by
    q^2 (4x here; q=0.1 at 100 TB -> 100x) while preserving exactly
    what calibration needs: `est_pairs = n_pairs_sampled / q^2` is an
    unbiased exact-integer estimate of the full pair count per
    threshold (every qualifying pair survives with probability q^2),
    and the knee of the per-vector curve is read off the same grid.
    The md5 threshold on vec_id makes the sample — and therefore the
    whole curve — reproducible with a full DuckDB oracle; the vector
    counts are reported as raw sampled counts (their population
    scaling depends on partner survival, so no estimator is claimed
    for them)."""
    from ..functions.hashing import md5_bigint

    keep = md5_bigint(F.col("vec_id").cast("string"), 12) % 10000 < F.lit(
        CURVE_SAMPLE_BP
    )
    p = _block_pair_sims(spark, sf_dir, NEARDUP_COS, keep=keep)
    pair_sums = p.agg(
        *[
            F.sum((F.col("cos_sim") >= F.lit(bp / 100.0)).cast("long")).alias(
                f"np_{bp}"
            )
            for bp in _CURVE_BPS
        ]
    )
    vbest = (
        p.select(
            F.explode(F.array("vec_a", "vec_b")).alias("vec"), F.col("cos_sim")
        )
        .groupBy("vec")
        .agg(F.max("cos_sim").alias("best"))
    )
    vec_sums = vbest.agg(
        *[
            F.sum((F.col("best") >= F.lit(bp / 100.0)).cast("long")).alias(
                f"nv_{bp}"
            )
            for bp in _CURVE_BPS
        ]
    )
    wide = pair_sums.crossJoin(F.broadcast(vec_sums))  # 1 row x 1 row
    stack_args = ", ".join(
        f"CAST({bp / 100.0} AS DOUBLE), np_{bp}, "
        f"np_{bp} * {CURVE_EST_SCALE}, nv_{bp}"
        for bp in _CURVE_BPS
    )
    return wide.selectExpr(
        f"stack({len(_CURVE_BPS)}, {stack_args}) AS "
        "(threshold, n_pairs_sampled, est_pairs, n_vecs_sampled)"
    )


_SUMMARY_SAMPLED_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {_SQL_CURVE_SAMPLE}),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {sql_round(SQL_COS.format(a="a.v", b="b.v"), 4)} AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {SQL_COS.format(a="a.v", b="b.v")} >= {NEARDUP_COS}
),
sym AS (
  SELECT vec_a AS vec_id, cos_sim FROM pairs
  UNION ALL
  SELECT vec_b AS vec_id, cos_sim FROM pairs
)
SELECT CAST(FLOOR(cos_sim * 20) AS BIGINT) AS sim_band,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs_sampled,
       CAST((COUNT(*) // 2) * {CURVE_EST_SCALE} AS BIGINT) AS est_pairs,
       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_docs_sampled
FROM sym GROUP BY 1
"""


@query(
    "embedding_neardup_summary_sampled",
    oracle=_SUMMARY_SAMPLED_ORACLE,
    tags=("similarity", "dedup", "bounded", "sampling", "scale"),
)
def embedding_neardup_summary_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity-band histogram on the DETERMINISTIC 1/2 vector
    sample — the scale path for `embedding_neardup_summary`, whose
    OUTPUT is constant (~12 bands) but whose WALL still pays the exact
    quadratic pair scoring (r11 preview: 9.2s sf0.1 -> 120s sf1, 13x
    wall at 1.4x output — the same exactness cost
    `neardup_threshold_curve` carries, pre-empted the same way as r8's
    `neardup_curve_sampled`). Sampling vectors at keep-rate q shrinks
    the scored pair space by q^2 (4x here; q=0.1 at 100 TB -> 100x);
    ``est_pairs = n_pairs_sampled * {CURVE_EST_SCALE}`` is the unbiased
    exact-integer per-band estimate (each qualifying pair survives with
    probability q^2), subject to the documented >=100-pairs-per-band
    reliability floor (SCALING.md, hub-correlated pair survival). The
    md5 threshold on vec_id makes the sample — and the whole histogram
    — reproducible with a full DuckDB oracle. Doc counts are reported
    as raw sampled counts (no estimator claimed: partner survival is
    hub-correlated, the same caveat as the curve's n_vecs_sampled)."""
    from ..functions.hashing import md5_bigint

    keep = md5_bigint(F.col("vec_id").cast("string"), 12) % 10000 < F.lit(
        CURVE_SAMPLE_BP
    )
    pairs = _block_pair_sims(spark, sf_dir, NEARDUP_COS, keep=keep)
    sym = pairs.select(F.col("vec_a").alias("vec_id"), "cos_sim").unionAll(
        pairs.select(F.col("vec_b").alias("vec_id"), "cos_sim")
    )
    half = (F.count("*") / 2).cast("bigint")
    return sym.groupBy(
        F.floor(F.col("cos_sim") * 20).cast("bigint").alias("sim_band")
    ).agg(
        half.alias("n_pairs_sampled"),
        (half * CURVE_EST_SCALE).alias("est_pairs"),
        F.countDistinct("vec_id").cast("bigint").alias("n_docs_sampled"),
    )
