"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas``.

No image/audio codec is a dependency, so the DECODE step is stubbed
with deterministic byte-level features — but everything Spark-side is
real and tested: binary column schema, Arrow batch transfer, per-batch
pandas processing, and output schema stability. ``multimodal_byte_features`` is additionally
oracle-checked: its byte arithmetic is reproduced in DuckDB over the
UTF-8 text bytes, proving the Pandas-UDF path computes exactly what the
declarative engine would.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import round_to, sql_round
from ..plans.registry import query
from ..sources import load

CHECKSUM_BYTES = 64
CHECKSUM_MOD = 997

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def _byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        out = {
            "doc_id": pdf["doc_id"],
            "n_bytes": payloads.map(len).astype("int64"),
            **{
                f"b{i}": payloads.map(
                    lambda b, i=i: int(b[i]) if len(b) > i else None
                ).astype("Int32")
                for i in range(4)
            },
            "checksum": payloads.map(
                lambda b: sum(b[:CHECKSUM_BYTES]) % CHECKSUM_MOD
            ).astype("int64"),
        }
        yield pd.DataFrame(out)


@query(
    "multimodal_byte_features",
    oracle=f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CASE WHEN length(text) >= 1 THEN ord(substr(text, 1, 1)) END AS b0,
       CASE WHEN length(text) >= 2 THEN ord(substr(text, 2, 1)) END AS b1,
       CASE WHEN length(text) >= 3 THEN ord(substr(text, 3, 1)) END AS b2,
       CASE WHEN length(text) >= 4 THEN ord(substr(text, 4, 1)) END AS b3,
       CAST(COALESCE(list_sum(list_transform(range(1, least({CHECKSUM_BYTES}, length(text)) + 1),
                     i -> ord(substr(text, i, 1)))), 0) % {CHECKSUM_MOD} AS BIGINT)
         AS checksum
FROM documents
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the real multimodal
    plumbing: text -> binary column -> Arrow batches -> pandas -> typed
    rows. The oracle recomputes the identical byte arithmetic in SQL
    (fixture text is ASCII so char ordinals == UTF-8 bytes)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return docs.mapInPandas(_byte_features, schema=_FEATURES_SCHEMA)


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        # double (not float32): keeps the stride-sum/255.0 arithmetic
        # bit-identical to DuckDB's BIGINT/DOUBLE evaluation so the
        # posexploded query below can be fully oracle-paired.
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

FEATURE_DIM = 8


def _fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        n = payloads.map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                # deterministic fake dimensions derived from payload bytes
                "width": (n % 640 + 32).astype("int32"),
                "height": (n % 480 + 32).astype("int32"),
                "n_channels": pd.Series([3] * len(pdf), dtype="int32"),
                "feature": payloads.map(
                    lambda b: [
                        float(sum(b[j :: FEATURE_DIM]) % 256) / 255.0
                        for j in range(FEATURE_DIM)
                    ]
                ),
            }
        )


def decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued decode pipeline (internal + tests): binary payloads
    stay distributed; only fixed-width features come back."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return docs.mapInPandas(_fake_decode, schema=_DECODE_SCHEMA)


# Stride-sum byte feature in DuckDB: python's sum(b[j::8]) % 256 / 255.0
# is positions j+1, j+9, ... in 1-indexed SQL over the (ASCII) text.
_SQL_DECODE_FEATURE = f"""(COALESCE(list_sum(list_transform(
        range(j + 1, length(text) + 1, {FEATURE_DIM}),
        i -> ord(substr(text, i, 1)))), 0) % 256) / 255.0"""


@query(
    "multimodal_decode_stub",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) % 640 + 32 AS INT) AS width,
       CAST(length(text) % 480 + 32 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CAST(j AS INT) AS j,
       {sql_round(_SQL_DECODE_FEATURE, 6)} AS feature_j
FROM documents, unnest(range(0, {FEATURE_DIM})) AS t(j)
""",
    tags=("multimodal", "stub", "pandas-udf"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode pipeline with the codec stubbed by a deterministic
    byte-histogram 'feature'. The query posexplodes the feature vector
    into (doc_id, j, feature_j) scalar rows so the result is
    canonicalizable AND fully oracle-paired: the stub's stride-sum byte
    arithmetic is recomputed in DuckDB over the ASCII fixture text, and
    both engines evaluate the identical double division/rounding."""
    exploded = decode_features(spark, sf_dir).select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        F.posexplode("feature").alias("j", "feature_raw"),
    )
    return exploded.select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        "j",
        round_to(F.col("feature_raw"), 6).alias("feature_j"),
    )


FRAME_BYTES = 32
FRAME_STRIDE = 4  # keep every 4th frame

_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One row per sampled frame: 1->many mapInPandas (the video path).
    Frames are fixed-width byte chunks; only complete frames count."""
    for pdf in batches:
        ids, idxs, sums = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = len(payload) // FRAME_BYTES
            for f in range(0, n_frames, FRAME_STRIDE):
                chunk = payload[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]
                ids.append(doc_id)
                idxs.append(f)
                sums.append(sum(chunk) % CHECKSUM_MOD)
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": idxs, "frame_checksum": sums}
        )


@query(
    "multimodal_frame_sample",
    oracle=f"""
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(list_sum(list_transform(
              range(f * {FRAME_BYTES} + 1, (f + 1) * {FRAME_BYTES} + 1),
              i -> ord(substr(text, i, 1)))) % {CHECKSUM_MOD} AS BIGINT)
         AS frame_checksum
FROM documents,
     unnest(range(0, length(text) // {FRAME_BYTES})) AS t(f)
WHERE f % {FRAME_STRIDE} = 0
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the multimodal plumbing:
    binary payload -> fixed-width frames -> every {FRAME_STRIDE}th frame
    -> per-frame checksum rows (1->many Arrow batches). Oracle
    recomputes the byte arithmetic over the ASCII fixture text. At
    scale the payload column never moves to the driver; sampled-frame
    features are the only output."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return docs.mapInPandas(_sample_frames, schema=_FRAME_SCHEMA)


RESIZE_DIM = 4

_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _fake_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stage 2 of the chained pipeline: 'resize' the decoded frame to a
    fixed target by average-pooling the feature vector (the real path
    would pool pixels; the pooling arithmetic and schema contract are
    identical)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series([224] * len(pdf), dtype="int32"),
                "height": pd.Series([224] * len(pdf), dtype="int32"),
                "feature": pdf["feature"].map(
                    lambda v: [
                        float(sum(v[j :: RESIZE_DIM]) / (len(v) / RESIZE_DIM))
                        for j in range(RESIZE_DIM)
                    ]
                ),
            }
        )


def resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued chained pipeline (internal + tests): decode (stub)
    -> resize as TWO mapInPandas hops — the schema contract between
    stages is what a real decode->preprocess pipeline ships across."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    decoded = docs.mapInPandas(_fake_decode, schema=_DECODE_SCHEMA)
    return decoded.mapInPandas(_fake_resize, schema=_RESIZE_SCHEMA)


@query(
    "multimodal_resize_stub",
    oracle=f"""
WITH dec AS (
    SELECT doc_id,
           list_transform(range(0, {FEATURE_DIM}), k ->
               (COALESCE(list_sum(list_transform(
                   range(k + 1, length(text) + 1, {FEATURE_DIM}),
                   i -> ord(substr(text, i, 1)))), 0) % 256) / 255.0) AS v
    FROM documents
)
SELECT doc_id,
       CAST(224 AS INT) AS width,
       CAST(224 AS INT) AS height,
       CAST(j AS INT) AS j,
       {sql_round(f"(v[j + 1] + v[j + {1 + RESIZE_DIM}]) / {FEATURE_DIM // RESIZE_DIM}.0", 6)}
         AS feature_j
FROM dec, unnest(range(0, {RESIZE_DIM})) AS t(j)
""",
    tags=("multimodal", "stub", "pandas-udf"),
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained decode (stub) -> resize (average-pool to {RESIZE_DIM}-dim
    at 224x224), posexploded to (doc_id, j, feature_j) scalar rows so
    the chained two-hop pipeline is canonicalizable and oracle-paired:
    DuckDB rebuilds the 8-dim decoded vector per doc and pools the same
    index pairs with identical IEEE double arithmetic."""
    exploded = resize_features(spark, sf_dir).select(
        "doc_id",
        "width",
        "height",
        F.posexplode("feature").alias("j", "feature_raw"),
    )
    return exploded.select(
        "doc_id",
        "width",
        "height",
        "j",
        round_to(F.col("feature_raw"), 6).alias("feature_j"),
    )
