"""Incremental (delta-vs-corpus) near-dup dedup — the daily-ingest shape.

Every dedup operator in this package is WITHIN-corpus (all-pairs over
one snapshot). Production pipelines at 100 TB almost never re-dedup the
whole corpus: they dedup each ingest DELTA against the existing corpus
index. These operators are that shape on the fixture: a deterministic
slice of `documents` plays the incoming delta, the rest plays the
indexed corpus, and the join is STRICTLY delta-bands × corpus-bands —
corpus×corpus pairs are never generated, so per-ingest cost is
O(|delta| × band collision rate), independent of corpus size beyond
the index probe. Per delta doc the output is the ingest decision a
pipeline acts on: how many corpus near-dups it has and its best match
(highest verified Jaccard, doc-id tie-break) — NULL when the doc is
novel.

Two registered variants, same pipeline:

- ``incremental_minhash_dedup``: delta = md5 ~10% hash slice — delta
  and corpus both grow with the table, the "daily ingest proportional
  to traffic" shape.
- ``incremental_dedup_fixed_delta``: delta = the FIXED first
  {FIXED_DELTA_DOCS} doc ids — |delta| is constant at every scale
  factor, so the sf1/sf0.1 wall ratio on this query MEASURES
  the corpus-size dependence the design claims is sub-linear (the
  corpus side still pays one signature pass here because the fixture
  recomputes the index inline; at warehouse scale that side is a
  precomputed bucketed table and the residual is the probe alone).

At real scale the corpus side of this join is a PRECOMPUTED band index
stored bucketed by (band, band_key) (operators/bucketing.py is the
write side of that layout), so the probe is a co-located join with no
corpus shuffle; the fixture derivation recomputes it inline because the
driver's tables are read-only. The delta/corpus split itself is a
narrow per-row hash predicate on the band frame — no split join at all.

Reuses minhash.py's portable signature/banding machinery verbatim (same
NUM_HASHES/NUM_BANDS family, same md5 base), so candidate recall
matches the batch pipeline: a doc deduped incrementally sees the same
band keys it would have seen in the full run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_bigint, sql_md5_bigint
from ..functions.rounding import round_to, sql_round
from ..plans.memos import local
from ..plans.registry import query
from ..sources import load
from .jaccard import JACCARD_THRESHOLD
from .minhash import cached_bands, cached_shingles, cached_sizes
from .minhash import _bands_sql, _signature_sql

DELTA_MOD = 10  # md5(doc_id) % DELTA_MOD == 0 -> the ~10% ingest delta
FIXED_DELTA_DOCS = 100  # doc_id < FIXED_DELTA_DOCS -> scale-invariant delta

_IS_DELTA_SQL = f"{sql_md5_bigint('CAST(doc_id AS VARCHAR)')} % {DELTA_MOD} = 0"
_IS_FIXED_DELTA_SQL = f"doc_id < {FIXED_DELTA_DOCS}"


def _incremental_oracle(is_delta_sql: str) -> str:
    return f"""
WITH {_signature_sql()},
bands AS ({_bands_sql()}),
cand AS (
  SELECT DISTINCT d.doc_id AS doc_d, c.doc_id AS doc_c
  FROM bands d JOIN bands c
    ON d.band = c.band AND d.band_key = c.band_key AND d.doc_id <> c.doc_id
  WHERE ({is_delta_sql.replace('doc_id', 'd.doc_id')})
    AND NOT ({is_delta_sql.replace('doc_id', 'c.doc_id')})
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_d, c.doc_c, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_d
  JOIN sh y ON y.doc_id = c.doc_c AND y.s = x.s
  GROUP BY 1, 2
),
ver AS (
  SELECT i.doc_d, i.doc_c,
         {sql_round("i.i * 1.0 / (sd.n + sc.n - i.i)", 4)} AS jaccard
  FROM inter i
  JOIN sizes sd ON i.doc_d = sd.doc_id
  JOIN sizes sc ON i.doc_c = sc.doc_id
  WHERE i.i * 1.0 / (sd.n + sc.n - i.i) >= {JACCARD_THRESHOLD}
),
best AS (
  SELECT doc_d, doc_c, jaccard,
         ROW_NUMBER() OVER (PARTITION BY doc_d
                            ORDER BY jaccard DESC, doc_c) AS rn
  FROM ver
),
agg AS (
  SELECT doc_d, COUNT(*) AS n_matches FROM ver GROUP BY doc_d
)
SELECT dd.doc_id,
       CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_corpus_matches,
       CAST(b.doc_c AS BIGINT) AS best_match,
       b.jaccard AS best_jaccard
FROM (SELECT doc_id FROM documents WHERE {is_delta_sql}) dd
LEFT JOIN agg a ON a.doc_d = dd.doc_id
LEFT JOIN best b ON b.doc_d = dd.doc_id AND b.rn = 1
"""


def verify_decisions(
    cand: DataFrame,
    sh_d: DataFrame,
    sh_c: DataFrame,
    delta_ids: DataFrame,
    sizes_c: DataFrame | None = None,
    sizes_d: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates -> verified per-delta-doc ingest decisions.

    ``cand`` is (doc_d, doc_c) candidate pairs, ``sh_d``/``sh_c`` the
    exploded shingle frames the two sides' exact Jaccard reads (the
    batch pipeline passes the SAME frame twice; the streaming ingest
    passes the micro-batch's shingles and the cached corpus index),
    ``delta_ids`` the full delta doc_id set (novel docs must surface
    with NULL matches). ONE aggregation yields both the match count
    and the best match: max over (jaccard, -doc_c) structs is the same
    argmax a ROW_NUMBER(ORDER BY jaccard DESC, doc_c) picks, and
    collapsing the count-groupBy + rank-window pair into this single
    pass halves the pipeline — `ver` used to be scanned once per
    branch, recomputing the whole candidate+verify pipeline (r6;
    measured 4.4s -> ~2.9s at sf0.1).

    ``sizes_c`` / ``sizes_d``: optionally, PRECOMPUTED (doc_id, n)
    shingle counts for the corpus / delta side. Per-doc size is a
    property of the stored corpus, exactly like the band index — the
    streaming ingest derives ``sizes_c`` once at index-build time so
    each micro-batch's verify skips a second aggregation pass over the
    pruned corpus scan, and the batch pipelines pass the family's
    cached_sizes memo for both sides. Values are identical to deriving
    from ``sh_c``/``sh_d`` inline (the default): extra docs in a
    precomputed table are inert (the sizes joins are inner, keyed by
    the candidate pair's doc ids)."""
    if sizes_d is None:
        sizes_d = sh_d.groupBy("doc_id").agg(F.count("*").alias("n"))
    if sizes_c is None:
        sizes_c = sh_c.groupBy("doc_id").agg(F.count("*").alias("n"))
    # shuffle_hash on the corpus shingle side of the verify join — the
    # same SMJ-sorts-dominate finding as minhash/jaccard (r9, SCALING.md)
    x, y = sh_d.alias("x"), sh_c.hint("shuffle_hash").alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_d"))
        .join(y, (F.col("y.doc_id") == F.col("doc_c")) & (F.col("y.s") == F.col("x.s")))
        .groupBy("doc_d", "doc_c")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("nd") + F.col("nc") - F.col("i"))
    ver = (
        inter.join(sizes_d.select(F.col("doc_id").alias("doc_d"), F.col("n").alias("nd")), "doc_d")
        .join(sizes_c.select(F.col("doc_id").alias("doc_c"), F.col("n").alias("nc")), "doc_c")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_d", "doc_c", round_to(jac, 4).alias("jaccard"))
    )
    agg = ver.groupBy("doc_d").agg(
        F.count("*").alias("n_matches"),
        F.max(F.struct(F.col("jaccard"), (-F.col("doc_c")).alias("neg_c"))).alias(
            "top"
        ),
    )
    return (
        delta_ids.join(agg, delta_ids.doc_id == agg.doc_d, "left")
        .drop("doc_d")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_corpus_matches"),
            (-F.col("top.neg_c")).cast("bigint").alias("best_match"),
            F.col("top.jaccard").alias("best_jaccard"),
        )
    )


def _incremental_pipeline(
    spark: SparkSession, sf_dir: str, is_delta: Column
) -> DataFrame:
    """Shared delta-vs-corpus pipeline; ``is_delta`` is the slice
    predicate over ``doc_id`` (the only thing the variants change)."""
    sh = cached_shingles(spark, sf_dir)  # memoized: shared family-wide
    bands = cached_bands(spark, sf_dir).withColumn("is_delta", is_delta)
    d = bands.filter(F.col("is_delta")).alias("d")
    c = bands.filter(~F.col("is_delta")).alias("c")
    cand = (
        d.join(
            c,
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.band_key") == F.col("c.band_key")),
        )
        .select(F.col("d.doc_id").alias("doc_d"), F.col("c.doc_id").alias("doc_c"))
        .distinct()
    )
    delta_ids = (
        load(spark, sf_dir, "documents").select("doc_id").filter(is_delta)
    )
    # both verify sides read the family's cached size memo — one
    # aggregation per session instead of two per run (r15, guide §1.2)
    sizes = cached_sizes(spark, sf_dir)
    # the small per-delta-doc decision frame, held while the shingle
    # memo is hot; the memo itself stays live for the family's other
    # queries (plans.memos.clear_all() releases it)
    return local(
        spark, verify_decisions(cand, sh, sh, delta_ids, sizes_c=sizes, sizes_d=sizes)
    )


# --- index evolution: two consecutive ingests, the second probing an
# index that absorbed the first's novel docs (the compaction cycle) ---

ADMIT_DELTA_DOCS = 50  # phase-1 ingest: doc_id < 50
PROBE_DELTA_DOCS = 100  # phase-2 ingest: 50 <= doc_id < 100

_EVOLUTION_ORACLE = f"""
WITH {_signature_sql()},
bands AS ({_bands_sql()}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
cand1 AS (
  SELECT DISTINCT d.doc_id AS doc_d, c.doc_id AS doc_c
  FROM bands d JOIN bands c
    ON d.band = c.band AND d.band_key = c.band_key
  WHERE d.doc_id < {ADMIT_DELTA_DOCS} AND c.doc_id >= {PROBE_DELTA_DOCS}
),
inter1 AS (
  SELECT c.doc_d, c.doc_c, COUNT(*) AS i
  FROM cand1 c
  JOIN sh x ON x.doc_id = c.doc_d
  JOIN sh y ON y.doc_id = c.doc_c AND y.s = x.s
  GROUP BY 1, 2
),
dup1 AS (
  SELECT DISTINCT i.doc_d
  FROM inter1 i
  JOIN sizes sd ON i.doc_d = sd.doc_id
  JOIN sizes sc ON i.doc_c = sc.doc_id
  WHERE i.i * 1.0 / (sd.n + sc.n - i.i) >= {JACCARD_THRESHOLD}
),
admitted AS (
  SELECT doc_id FROM documents
  WHERE doc_id < {ADMIT_DELTA_DOCS}
    AND doc_id NOT IN (SELECT doc_d FROM dup1)
),
cand2 AS (
  SELECT DISTINCT d.doc_id AS doc_d, c.doc_id AS doc_c
  FROM bands d JOIN bands c
    ON d.band = c.band AND d.band_key = c.band_key
  WHERE d.doc_id >= {ADMIT_DELTA_DOCS} AND d.doc_id < {PROBE_DELTA_DOCS}
    AND (c.doc_id >= {PROBE_DELTA_DOCS}
         OR c.doc_id IN (SELECT doc_id FROM admitted))
),
inter2 AS (
  SELECT c.doc_d, c.doc_c, COUNT(*) AS i
  FROM cand2 c
  JOIN sh x ON x.doc_id = c.doc_d
  JOIN sh y ON y.doc_id = c.doc_c AND y.s = x.s
  GROUP BY 1, 2
),
ver2 AS (
  SELECT i.doc_d, i.doc_c,
         {sql_round("i.i * 1.0 / (sd.n + sc.n - i.i)", 4)} AS jaccard
  FROM inter2 i
  JOIN sizes sd ON i.doc_d = sd.doc_id
  JOIN sizes sc ON i.doc_c = sc.doc_id
  WHERE i.i * 1.0 / (sd.n + sc.n - i.i) >= {JACCARD_THRESHOLD}
),
best AS (
  SELECT doc_d, doc_c, jaccard,
         ROW_NUMBER() OVER (PARTITION BY doc_d
                            ORDER BY jaccard DESC, doc_c) AS rn
  FROM ver2
),
agg AS (
  SELECT doc_d, COUNT(*) AS n_matches FROM ver2 GROUP BY doc_d
)
SELECT dd.doc_id,
       CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_corpus_matches,
       CAST(b.doc_c AS BIGINT) AS best_match,
       b.jaccard AS best_jaccard
FROM (SELECT doc_id FROM documents
      WHERE doc_id >= {ADMIT_DELTA_DOCS}
        AND doc_id < {PROBE_DELTA_DOCS}) dd
LEFT JOIN agg a ON a.doc_d = dd.doc_id
LEFT JOIN best b ON b.doc_d = dd.doc_id AND b.rn = 1
"""


@query(
    "dedup_index_evolution",
    oracle=_EVOLUTION_ORACLE,
    tags=("dedup", "minhash", "cdc", "J8", "U1"),
)
def dedup_index_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest LIFECYCLE the single-delta variants stop short of:
    ingest #1 (doc_id < {ADMIT_DELTA_DOCS}) is deduped against the
    corpus (doc_id >= {PROBE_DELTA_DOCS}); its NOVEL docs (zero
    verified matches) are ADMITTED — their band rows union into the
    index — and ingest #2 ({ADMIT_DELTA_DOCS} <= doc_id <
    {PROBE_DELTA_DOCS}) probes that EVOLVED index, so a phase-2 doc
    duplicating an admitted phase-1 doc is caught (best_match <
    {ADMIT_DELTA_DOCS}) even though neither is in the original corpus.
    Everything stays one lazy plan: the admitted id set is a DataFrame
    (no driver round-trip), broadcast-semi-joined onto the band frame,
    and the evolved index is a unionByName — at warehouse scale this
    union is the bucketed-table APPEND of the admitted docs' band rows
    (same layout streaming/dedup_ingest.py persists), run once per
    compaction cycle. Decision schema matches the other incremental
    variants."""
    docs = load(spark, sf_dir, "documents")
    sh = cached_shingles(spark, sf_dir)  # memoized: shared family-wide
    bands = cached_bands(spark, sf_dir)  # probed by four slices
    is_d1 = F.col("doc_id") < ADMIT_DELTA_DOCS
    is_d2 = (F.col("doc_id") >= ADMIT_DELTA_DOCS) & (
        F.col("doc_id") < PROBE_DELTA_DOCS
    )
    is_corpus = F.col("doc_id") >= PROBE_DELTA_DOCS
    band_eq = (F.col("d.band") == F.col("c.band")) & (
        F.col("d.band_key") == F.col("c.band_key")
    )
    cand1 = (
        bands.filter(is_d1)
        .alias("d")
        .join(bands.filter(is_corpus).alias("c"), band_eq)
        .select(F.col("d.doc_id").alias("doc_d"), F.col("c.doc_id").alias("doc_c"))
        .distinct()
    )
    sizes = cached_sizes(spark, sf_dir)  # shared by both phases' verifies
    dec1 = verify_decisions(
        cand1, sh, sh, docs.select("doc_id").filter(is_d1),
        sizes_c=sizes, sizes_d=sizes,
    )
    admitted = dec1.filter(F.col("n_corpus_matches") == 0).select("doc_id")
    evolved = bands.filter(is_corpus).unionByName(
        bands.join(F.broadcast(admitted), "doc_id", "left_semi")
    )
    cand2 = (
        bands.filter(is_d2)
        .alias("d")
        .join(evolved.alias("c"), band_eq)
        .select(F.col("d.doc_id").alias("doc_d"), F.col("c.doc_id").alias("doc_c"))
        .distinct()
    )
    dec2 = verify_decisions(
        cand2, sh, sh, docs.select("doc_id").filter(is_d2),
        sizes_c=sizes, sizes_d=sizes,
    )
    # shingle/band memos stay live for the family (plans/memos.py)
    return local(spark, dec2)


@query(
    "incremental_minhash_dedup",
    oracle=_incremental_oracle(_IS_DELTA_SQL),
    tags=("dedup", "minhash", "cdc", "J8"),
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per delta document (the ~10% hash slice): number of verified
    corpus near-dups (Jaccard >= {JACCARD_THRESHOLD} on LSH survivors)
    and the best corpus match — NULLs when the doc is novel. Only
    delta-bands probe corpus-bands; the corpus never self-joins."""
    is_delta = md5_bigint(F.col("doc_id").cast("string")) % DELTA_MOD == 0
    return _incremental_pipeline(spark, sf_dir, is_delta)


@query(
    "incremental_dedup_fixed_delta",
    oracle=_incremental_oracle(_IS_FIXED_DELTA_SQL),
    tags=("dedup", "minhash", "cdc", "J8", "scale"),
)
def incremental_dedup_fixed_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same decision output as `incremental_minhash_dedup` for a FIXED
    {FIXED_DELTA_DOCS}-document delta (doc_id < {FIXED_DELTA_DOCS}) —
    the constant-ingest probe whose wall growth across scale factors
    is attributable to the corpus side alone (inline index recompute at
    fixture scale; the probe alone once the band index is a stored
    bucketed table)."""
    return _incremental_pipeline(
        spark, sf_dir, F.col("doc_id") < FIXED_DELTA_DOCS
    )
