"""Test fixtures and reference implementations that the library itself
never calls: a synthetic media table, the DuckDB oracle of the fake image
decoder, the JVM-expression shingler and the fingerprint resemblance."""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),       # image | audio | video
    StructField("payload", BinaryType(), False),     # opaque encoded bytes
    StructField("mime", StringType(), True),
    StructField("n_bytes", LongType(), True),
])


def synthetic_media(spark, n: int = 200) -> DataFrame:
    """Deterministic fake media table exercising the binary-column plumbing."""
    rng = np.random.default_rng(42)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        size = int(rng.integers(256, 4096))
        payload = rng.integers(0, 256, size=size, dtype=np.uint8).tobytes()
        rows.append((i, kind, bytearray(payload), f"{kind}/x-fake", size))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def image_features_oracle_sql(table: str, id_col: str = "doc_id",
                              text_col: str = "text",
                              luma_digits: int = 9) -> str:
    """Oracle for decode_image_features(media_from_documents(...), fake=True):
    width/height from the first 8/next 8 byte sums of the 256-byte
    zero-padded prefix, mean luma over all 256 padded bytes (zeros beyond
    the text contribute nothing to the sums)."""
    return f"""
WITH m AS (SELECT {id_col} AS media_id, {text_col} AS text,
                  length({text_col}) AS n FROM {table}),
sums AS (
  SELECT media_id, n,
    list_aggregate(list_transform(range(1, least(n, 8) + 1), i -> ascii(text[i])), 'sum') AS s8,
    list_aggregate(list_transform(range(9, least(n, 16) + 1), i -> ascii(text[i])), 'sum') AS s16,
    list_aggregate(list_transform(range(1, least(n, 256) + 1), i -> ascii(text[i])), 'sum') AS sall
  FROM m
)
SELECT media_id,
       CAST(64 + (s8 % 1984) AS BIGINT) AS width,
       CAST(64 + (s16 % 1984) AS BIGINT) AS height,
       round((CAST(sall AS DOUBLE) / 256) / 255, {luma_digits}) AS mean_luma,
       CAST(n AS BIGINT) AS n_bytes
FROM sums
"""


def shingles(text: Column, k: int) -> Column:
    """Word k-shingles as an array<string> (JVM-side, no UDF): the
    expression path that dedup.shingle_hashes' Python stage reproduces."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k,
                  F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
                  ).otherwise(F.array(F.concat_ws(" ", toks)))


def fingerprint_jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Resemblance of two fingerprint sets."""
    inter = np.intersect1d(a, b).shape[0]
    union = np.union1d(a, b).shape[0]
    return inter / union if union else 0.0
