"""End-to-end corpus curation: the pipeline a training-data run
actually executes — language ID → quality filter → exact dedup →
deterministic sample → per-language accounting — composed as ONE lazy
Catalyst plan over the ``documents`` table.

This is the composition proof for the LLM-pipeline operator families:
each stage reuses the SAME expressions its standalone query pins
(lang_id_heuristic, text_quality, dedup_exact, hash_sample_events), so
the stages are individually oracle-verified AND the composition is
oracle-verified end-to-end. The reference has no analog (SURVEY §2 —
its pipelines are relational only); this is the extension surface the
engine exists for.

Scale shape: stages 1-2 are narrow scan-side expressions (whole-stage
codegen over the text column); dedup is one window over the content
fingerprint (shuffle #1, text never shuffles — only the 128-bit hash);
the sample is a scan-side predicate; the final rollup is shuffle #2 on
the language key (tiny cardinality, map-side combined). Two shuffles
total for a five-stage pipeline; the reference's notebook style would
have materialized text files between every stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_bigint, sql_md5_bigint
from ..plans.registry import query
from ..sources import load
from .langid import LANG_STOPWORDS, _LANGS

SAMPLE_PCT = 50  # keep ~half the curated corpus

_SW_SCORES = ",\n         ".join(
    "CAST(len(list_filter(l, t -> t IN ({words}))) AS BIGINT) AS score_{lang}".format(
        words=", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]), lang=lang
    )
    for lang in _LANGS
)
_GREATEST = "greatest(" + ", ".join(f"score_{la}" for la in _LANGS) + ")"
_PICK = (
    "CASE "
    + " ".join(f"WHEN score_{la} = {_GREATEST} THEN '{la}'" for la in _LANGS)
    + " END"
)

_CURATION_ORACLE = f"""
WITH staged AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS l,
         array_length(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         length(replace(text, ' ', '')) * 1.0
           / array_length(string_split_regex(trim(text), '\\s+')) AS avg_len
  FROM documents
),
scored AS (
  SELECT doc_id, text, n_tokens, avg_len,
         {_SW_SCORES}
  FROM staged
),
kept AS (
  SELECT doc_id, text, n_tokens, {_PICK} AS lang_pred
  FROM scored
  WHERE n_tokens BETWEEN 10 AND 10000 AND avg_len BETWEEN 2 AND 20
),
deduped AS (
  SELECT doc_id, n_tokens, lang_pred
  FROM (
    SELECT doc_id, n_tokens, lang_pred,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM kept
  ) WHERE doc_id = keeper
)
SELECT lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM deduped
WHERE {sql_md5_bigint("CAST(doc_id AS VARCHAR)")} % 100 < {SAMPLE_PCT}
GROUP BY lang_pred
"""


@query(
    "corpus_curation_pipeline",
    oracle=_CURATION_ORACLE,
    tags=("textops", "dedup", "sampling", "pipeline"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """langID → Gopher-style quality gate → exact content dedup
    (keep-lowest doc_id) → deterministic md5 sample → per-language
    token accounting, one Catalyst plan (see module docstring for the
    shuffle budget)."""
    docs = load(spark, sf_dir, "documents")
    # Tokenize ONCE in a dedicated projection: expressions inlined into
    # higher-order-function lambdas are not CSE'd, so scoring 4
    # languages against an inlined split() re-tokenizes every document
    # 4x.
    tokenized = docs.select(
        "doc_id",
        "text",
        F.split(F.trim(F.col("text")), r"\s+").alias("toks_raw"),
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks_low"),
    )
    n_tokens = F.size("toks_raw").cast("bigint")
    avg_len = (
        F.length(F.regexp_replace(F.col("text"), " ", "")) * F.lit(1.0) / n_tokens
    )

    def scorer(lang: str):
        words = LANG_STOPWORDS[lang]
        return lambda t: t.isin(*words)

    staged = tokenized.select(
        "doc_id",
        "text",
        n_tokens.alias("n_tokens"),
        avg_len.alias("avg_len"),
        *[
            F.size(F.filter("toks_low", scorer(la))).cast("bigint").alias(f"score_{la}")
            for la in _LANGS
        ],
    )
    best = F.greatest(*[F.col(f"score_{la}") for la in _LANGS])
    pick = None
    for la in _LANGS:
        cond = F.col(f"score_{la}") == best
        pick = F.when(cond, la) if pick is None else pick.when(cond, la)
    # md5(text) BEFORE the dedup exchange: the window shuffle must not
    # carry the raw text payload (KB/doc) when a 32-char digest is all
    # the partition key needs — at 100 TB the difference is shuffling
    # the corpus vs shuffling ~50 bytes/doc (r10: 3.8s → measured A/B
    # below at sf1).
    kept = staged.filter(
        F.col("n_tokens").between(10, 10000) & F.col("avg_len").between(2, 20)
    ).select(
        "doc_id",
        F.md5("text").alias("content_key"),
        "n_tokens",
        pick.alias("lang_pred"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("content_key"))
    deduped = (
        kept.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "n_tokens", "lang_pred")
    )
    sampled = deduped.filter(
        md5_bigint(F.col("doc_id").cast("string")) % 100 < SAMPLE_PCT
    )
    return sampled.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
