"""MinHash + LSH banding near-dup candidate generation — the scale path
for deduplication: cost is linear in corpus size (explode shingles, one
groupBy, one band-bucket self-join on tiny keys), vs the exact Jaccard
join whose worst case is quadratic in shingle collisions.

Portable hashing: ONE md5 per shingle gives a 60-bit base integer
(identical in Spark ``conv(substr(md5(..),1,15),16,10)`` and DuckDB
``('0x' || substr(md5(..),1,15))::BIGINT``); the NUM_HASHES family is
the classic affine LCG h_i(x) = (a_i*x + b_i) mod P over that base —
pure bigint arithmetic, bit-identical across engines (unlike
seed-dependent xxhash/murmur), and 16x cheaper than hashing per seed.

Pipeline: 3-word shingles -> NUM_HASHES minhash signature -> NUM_BANDS
bands of ROWS_PER_BAND -> md5 band key -> self-join on (band, key) ->
distinct candidate pairs -> exact-Jaccard verification (>= 0.5).
With 16 hashes in 4x4 bands, P(candidate) = 1-(1-J^4)^4: J=0.8 -> 0.87,
J=0.5 -> 0.23 — tune NUM_BANDS/ROWS for the target threshold at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..plans.registry import query
from ..sources import load
from ..plans.memos import memoized
from .jaccard import JACCARD_THRESHOLD, SQL_SHINGLES, shingle_rows

NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
HASH_MOD = 1_000_000_007


def _a(i: int) -> int:
    return 2 * i + 3


def _b(i: int) -> int:
    return 7919 * i + 1


def _base_col(s: Column) -> Column:
    """60-bit md5-derived base, reduced mod P (computed once per shingle)."""
    from ..functions.hashing import md5_bigint

    return md5_bigint(s) % HASH_MOD


def _hash_i(i: int, x: Column) -> Column:
    return (F.lit(_a(i)) * x + F.lit(_b(i))) % HASH_MOD


def _signature_sql() -> str:
    mins = ",\n         ".join(
        f"MIN(({_a(i)} * x + {_b(i)}) % {HASH_MOD}) AS h{i}"
        for i in range(NUM_HASHES)
    )
    return f"""
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
),
sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES}) AS s FROM toks
),
shx AS (
  SELECT doc_id, s,
         (('0x' || substr(md5(s), 1, 15))::BIGINT % {HASH_MOD}) AS x
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM shx GROUP BY doc_id
)"""


def _bands_sql() -> str:
    rows = []
    for b in range(NUM_BANDS):
        cols = " || ',' || ".join(
            f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        rows.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM sig"
        )
    return " UNION ALL ".join(rows)


_CANDIDATES_ORACLE = f"""
WITH {_signature_sql()},
bands AS ({_bands_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@query("minhash_lsh_candidates", oracle=_CANDIDATES_ORACLE, tags=("dedup", "minhash"))
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on all ROWS_PER_BAND minhashes
    in at least one band."""
    bands = cached_bands(spark, sf_dir)
    # shuffle_hash: same band self-join as minhash_dedup_verified's
    # candidate stage (r9 A/B: SMJ sorts were the cost, see SCALING.md)
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _signature(sh: DataFrame) -> DataFrame:
    """Exploded shingles -> one row per doc with NUM_HASHES min-hash cols."""
    shx = sh.withColumn("x", _base_col(F.col("s")))
    return shx.groupBy("doc_id").agg(
        *[F.min(_hash_i(i, F.col("x"))).alias(f"h{i}") for i in range(NUM_HASHES)]
    )


def _band_rows(sig: DataFrame) -> DataFrame:
    """One pass over the signature emitting all NUM_BANDS (band, key)
    rows via stack() — NOT a union of per-band projections, which would
    recompute the whole upstream signature aggregation once per band."""
    keys = []
    for bi in range(NUM_BANDS):
        cols = [F.col(f"h{bi * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        keys.append(
            F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias(f"k{bi}")
        )
    keyed = sig.select("doc_id", *keys)
    stack_args = ", ".join(f"{bi}, k{bi}" for bi in range(NUM_BANDS))
    return keyed.selectExpr(
        "doc_id", f"stack({NUM_BANDS}, {stack_args}) as (band, band_key)"
    )


# The corpus shingle rows, band index and per-doc sizes are the shared
# canonical intermediates of the whole minhash/incremental family (the
# verified pipeline, the LSH candidate listing, both incremental
# variants, and the index-evolution lifecycle) — production derives
# them once per corpus (the streaming variant literally persists them
# as tables), so the batch queries read them as session memos
# (plans/memos.py).


def cached_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded corpus shingle rows, a session memo."""
    return memoized(
        "minhash_shingles",
        spark,
        sf_dir,
        lambda: shingle_rows(load(spark, sf_dir, "documents")),
    )


def cached_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus LSH band index, a session memo; derives from the
    shingle memo so one corpus scan feeds both."""
    return memoized(
        "minhash_bands",
        spark,
        sf_dir,
        lambda: _band_rows(_signature(cached_shingles(spark, sf_dir))),
    )


def cached_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle counts ``(doc_id, n)``, a session memo — the
    third canonical intermediate of the family (r15): every
    exact-Jaccard verify stage needs it TWICE (both pair sides), so the
    verified pipeline computed the same full-shingle aggregation twice
    per run, each incremental decision twice, the evolution lifecycle
    four times. Derives from the shingle memo (no extra corpus scan);
    |documents| rows."""
    return memoized(
        "minhash_sizes",
        spark,
        sf_dir,
        lambda: cached_shingles(spark, sf_dir).groupBy("doc_id").agg(F.count("*").alias("n")),
    )


_VERIFIED_ORACLE = f"""
WITH {_signature_sql()},
bands AS ({_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       {sql_round("i.i * 1.0 / (sa.n + sb.n - i.i)", 4)} AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {JACCARD_THRESHOLD}
"""


@query("minhash_dedup_verified", oracle=_VERIFIED_ORACLE, tags=("dedup", "minhash"))
def minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard on the
    candidate pairs only -> keep >= 0.5. This is the 100 TB shape: the
    expensive exact comparison touches only LSH survivors. The exploded
    shingle frame feeds the signature AND both sides of the verify join,
    so it is cached (S8, M:246) instead of re-exploding the corpus 3x."""
    sh = cached_shingles(spark, sf_dir)
    bands = cached_bands(spark, sf_dir)
    # shuffle_hash hints on the band self-join's build side and the
    # verify join's shingle side: SMJ sorts dominated both stages
    # (r9 A/B at sf1: candidates 2.7s -> 1.6s, verify 4.8s -> 4.2s;
    # same exchanges, byte-identical rows).
    ba, bb = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # NO candidate-id prune of the verify sides: measured slower for
    # the third time in r15 (plans/r15/ab_minhash_prune.json, deleted
    # since; read it with git show cfb9b5f:<path>) — even
    # with the candidate pairs cache-materialized, the semi-join prune
    # costs more than it saves while the shingle frame is memo-resident
    # (r14 tried the lazy and persisted forms; same verdict). The §3.2
    # prune only pays when the shingle frame is NOT resident — the
    # true-100 TB cold regime, where the stored-index streaming ingest
    # (streaming/dedup_ingest.py) is the shape that runs instead.
    # cached per-doc shingle counts: joined twice below (both pair
    # sides) — the shared memo computes the aggregation once per
    # session instead of twice per run (r15, guide §1.2)
    sizes = cached_sizes(spark, sf_dir)
    x, y = sh.alias("x"), sh.hint("shuffle_hash").alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, (F.col("y.doc_id") == F.col("doc_b")) & (F.col("y.s") == F.col("x.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("i"))
    # lazy over the shingle/band/size memos: at 100 TB the verified
    # near-dup pair set is not driver-sized, so it is not collected
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", round_to(jac, 4).alias("jaccard"))
    )


# Bounded-output twin of the verified pair listing (see the simhash
# module's note: at 100 TB the PAIR SET is the scale-killer — output
# grew ~10x at 10x corpus in BENCH_r07 — while per-doc top-k stays
# O(k) per matched doc, which is what canonical-assignment dedup
# actually consumes downstream).

TOP_K_MATCHES = 3

_TOPK_ORACLE = f"""
WITH pairs AS ({_VERIFIED_ORACLE}),
sym AS (
  SELECT doc_a AS doc_id, doc_b AS other_doc_id, jaccard FROM pairs
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS other_doc_id, jaccard FROM pairs
),
ranked AS (
  SELECT doc_id, other_doc_id, jaccard,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY jaccard DESC, other_doc_id
         ) AS match_rank,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_matches
  FROM sym
)
SELECT doc_id, CAST(match_rank AS INT) AS match_rank, other_doc_id, jaccard,
       CAST(n_matches AS BIGINT) AS n_matches
FROM ranked WHERE match_rank <= {TOP_K_MATCHES}
"""


@query(
    "minhash_dedup_topk_per_doc",
    oracle=_TOPK_ORACLE,
    tags=("dedup", "minhash", "bounded"),
)
def minhash_dedup_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-{TOP_K_MATCHES} verified near-dup matches by exact
    Jaccard (desc; ties broken by the other doc's id), plus the doc's
    total verified-match count. Reuses the full LSH->verify pipeline
    (shingle cache, band equi-join) and adds one
    doc_id-partitioned window — ordering on the ROUNDED jaccard both
    engines already hash-agree on keeps ranks deterministic."""
    from pyspark.sql.window import Window

    pairs = minhash_dedup_verified(spark, sf_dir)
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("other_doc_id"),
        "jaccard",
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("other_doc_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("other_doc_id").asc()
    )
    wc = Window.partitionBy("doc_id")
    return (
        sym.withColumn("match_rank", F.row_number().over(w))
        .withColumn("n_matches", F.count("*").over(wc).cast("bigint"))
        .filter(F.col("match_rank") <= TOP_K_MATCHES)
        .select("doc_id", "match_rank", "other_doc_id", "jaccard", "n_matches")
    )
