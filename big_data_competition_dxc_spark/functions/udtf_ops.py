"""Python UDTF (Spark 4 user-defined table function) — word chunking.

SURVEY §2.11: the reference needs zero UDFs/UDAFs/UDTFs, and this
engine keeps every hot path JVM-side. This module exists to cover the
UDTF EXTENSION SEAM itself: a lateral-correlated Python table function
(`chunk_words(text)`) exploding each document into fixed-size word
chunks — the shape you reach for when row-expansion logic genuinely
can't be expressed with builtins (a real tokenizer, a parser). Word
chunking CAN be done with JVM builtins (textops/chunking.py builds
context windows with slice+posexplode), so the docstring is the
warning label: this is the API demo, not the production path — Python
row iteration costs 10-100x the JVM equivalent on the same data.

The oracle recomputes the identical chunking in DuckDB (string_split +
an indexed list_transform for ordinality + list_slice), so the UDTF's
full output — chunk indices, text, word counts — is value-pinned
cross-engine. Both sides split on single spaces with identical
empty-string semantics (no normalization on either side), and BOTH
sides emit zero rows for a NULL text: the oracle NULL-propagates
through string_split/generate_series/unnest, so ``eval`` must skip
NULL explicitly rather than coerce it to '' (which would emit one
phantom chunk row only on the Spark side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from ..plans.registry import query
from ..session import scoped
from ..sources import table_sql

CHUNK_WORDS = 10


@udtf(returnType="chunk_idx bigint, chunk string, n_words bigint")
class _ChunkWords:
    def eval(self, text: str):
        if text is None:  # match the oracle's NULL propagation: no rows
            return
        words = text.split(" ")
        for i in range(0, len(words), CHUNK_WORDS):
            chunk = words[i : i + CHUNK_WORDS]
            yield i // CHUNK_WORDS + 1, " ".join(chunk), len(chunk)


@query(
    "udtf_word_chunks",
    oracle=f"""
SELECT doc_id, CAST(u.s.i AS BIGINT) AS chunk_idx,
       array_to_string(u.s.c, ' ') AS chunk,
       CAST(len(u.s.c) AS BIGINT) AS n_words
FROM (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, CAST(ceil(len(string_split(text, ' '))
                                        / {CHUNK_WORDS}.0) AS INT)),
           i -> {{'i': i,
                  'c': list_slice(string_split(text, ' '),
                                  (i - 1) * {CHUNK_WORDS} + 1,
                                  i * {CHUNK_WORDS})}})) AS s
  FROM documents
) u
""",
    tags=("extension", "F12", "UDTF"),
)
def udtf_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document exploded to (doc_id, chunk_idx, chunk, n_words)
    in {CHUNK_WORDS}-word chunks via a lateral-correlated Python UDTF;
    must equal DuckDB's list_slice chunking of the same text.

    The UDTF is registered on a child session, not the caller's: a
    name registered there would stay in the shared session's function
    registry after the request."""
    child = scoped(spark, {})
    child.udtf.register("chunk_words", _ChunkWords)
    return table_sql(
        child,
        sf_dir,
        """
        SELECT d.doc_id, s.chunk_idx, s.chunk, s.n_words
        FROM {documents} d, LATERAL chunk_words(d.text) s
        """,
    )
