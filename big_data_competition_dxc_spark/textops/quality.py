"""Text quality scoring + token counting for training-data pipelines.

All JVM-side builtin expressions (higher-order functions over the token
array) — no Python in the hot path, so at 100 TB this runs inside
whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..plans.registry import query
from ..sources import load

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

_QUALITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, n_chars,
         string_split_regex(trim(text), '\\s+') AS l,
         length(replace(text, ' ', '')) AS n_nonspace
  FROM documents
)
SELECT doc_id,
       CAST(len(l) AS BIGINT) AS n_tokens,
       {sql_round("n_nonspace * 1.0 / len(l)", 4)} AS avg_token_len,
       {sql_round(f"len(list_filter(l, t -> t IN ({_SW_SQL}))) * 1.0 / len(l)", 4)}
         AS stopword_ratio,
       CASE WHEN len(l) BETWEEN 10 AND 10000
             AND n_nonspace * 1.0 / len(l) BETWEEN 2 AND 20
            THEN 1 ELSE 0 END AS quality_ok
FROM toks
"""


@query("text_quality", oracle=_QUALITY_ORACLE, tags=("textops", "quality"))
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics: token count, mean token length,
    stopword ratio, and a composite keep/drop flag — the standard
    pre-training corpus filter set (Gopher/C4-style length+ratio rules)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks).cast("bigint")
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    avg_len = n_nonspace * F.lit(1.0) / n_tokens
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        round_to(avg_len, 4).alias("avg_token_len"),
        round_to(sw * F.lit(1.0) / n_tokens, 4).alias("stopword_ratio"),
        F.when(
            n_tokens.between(10, 10000) & avg_len.between(2, 20), 1
        )
        .otherwise(0)
        .alias("quality_ok"),
    )


@query(
    "token_counts",
    oracle="""
SELECT doc_id,
       CAST(array_length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
         AS word_tokens,
       CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS BIGINT)
         AS punct_tokens
FROM documents
""",
    tags=("textops", "tokens"),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish word-piece
    regex, and punctuation count — the cheap proxy for LLM token budget
    estimation over a corpus."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).cast("bigint").alias("word_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[^a-z0-9\s]")).cast("bigint").alias("punct_tokens"),
    )
