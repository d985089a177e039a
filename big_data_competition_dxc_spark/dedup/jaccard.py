"""Exact n-gram Jaccard near-dup detection.

The quadratic-but-exact baseline the MinHash pipeline (dedup/minhash.py)
approximates: explode 3-word shingles, self-join on shingle equality
(so only pairs sharing >=1 shingle materialize — never the full n^2),
then |A∩B| / (|A|+|B|-|A∩B|). At 100 TB you run this only on MinHash
candidates; standalone it is the ground-truth oracle for them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..plans.memos import memoized
from ..plans.registry import query
from ..sources import load

SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.5


def word_shingles(toks: Column, k: int = SHINGLE_WORDS) -> Column:
    """Distinct k-word shingles over a PRE-SPLIT tokens column (JVM
    higher-order fns). The tokens MUST be materialized in their own
    projection first (see shingle_rows): inlining split() here would
    re-tokenize the full text for every element_at inside the lambda —
    O(words^2) per document."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
    )
    # sequence(1, m) with m < 1 counts DOWN in Spark — guard short docs.
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(docs: DataFrame, k: int = SHINGLE_WORDS) -> DataFrame:
    """documents -> (doc_id, s) exploded shingle rows, tokenizing once
    per document in a separate projection."""
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    return toks.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), k)).alias("s")
    )


# DuckDB twin of word_shingles: duckdb list slicing l[i:i+k-1] is inclusive.
SQL_SHINGLES = (
    "list_distinct([array_to_string(l[i:i+{km1}], ' ') "
    "FOR i IN range(1, greatest(len(l)-{km1}, 0)+1)])"
).format(km1=SHINGLE_WORDS - 1)

_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
),
sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES}) AS s FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {sql_round("i * 1.0 / (sa.n + sb.n - i)", 4)} AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


def jaccard_pairs_frame(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair with 3-word-shingle Jaccard
    >= JACCARD_THRESHOLD (doc_a < doc_b, jaccard unrounded). The reusable
    edge source for near-dup clustering (dedup/clustering.py).

    The shingle self-join carries a ``shuffle_hash`` hint: Catalyst's
    default SortMergeJoin sorts both 2.6M-row shingle sides by the
    17-char shingle string (sf1: 21s for the join+count stage), while a
    ShuffledHashJoin builds per-partition hash maps and streams — same
    exchange, no sorts, 3s measured (r9 A/B, SCALING.md). The hint is a
    physical-strategy change only; logical output is untouched. At 100 TB
    size ``spark.sql.shuffle.partitions`` so the build side's largest
    partition fits executor memory (shingle frequency is zipf-flat here,
    max 25 at sf1 — no single hot key); Spark 3+ SHJ spills on overflow.
    An AllPairs prefix-filter variant (Bayardo et al., WWW'07) was
    measured 3x SLOWER at sf1 (78s): 3.6x candidate reduction doesn't
    repay the freq-join + per-doc window + distinct + array-verify
    stages at this shingle-frequency profile — revisit only if a corpus
    shows hot shingles (max f >> partition size)."""
    sh = shingle_rows(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# The exact-Jaccard pair graph is the shared canonical intermediate of
# FOUR registered queries (the listing + the three neardup-components
# clustering queries) — a session memo (plans/memos.py) like the simhash
# pair set.


def jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus pair graph, a session memo."""
    return memoized(
        "jaccard_pairs",
        spark,
        sf_dir,
        lambda: jaccard_pairs_frame(load(spark, sf_dir, "documents")),
    )


@query("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE, tags=("dedup", "jaccard"))
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-word-shingle Jaccard >= 0.5 (the fixture
    plants true near-dups up to J=0.99). Join-on-shingle keeps the
    candidate set sparse; the shuffle key is the shingle string."""
    pairs = jaccard_pairs_cached(spark, sf_dir)
    return pairs.select(
        "doc_a", "doc_b", round_to(F.col("jaccard"), 4).alias("jaccard")
    )
