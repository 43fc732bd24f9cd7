"""Multimodal (image/audio/video) column plumbing — opaque binary payloads
with typed metadata, processed in Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the DECODE step is stubbed
(BASELINE round-1 contract: plumbing — schema, partitioning, UDF
signature, batch shape — is real and tested; the codec call raises
NotImplementedError unless the deterministic fake is requested).

At 10^12 scale the pattern is: binary column never enters a shuffle —
feature-extract FIRST (mapInPandas, narrow), then drop the payload and
shuffle only the small typed features (same §4.3 pin #4 rationale as
the html column).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("checksum", LongType(), False),
        StructField("byte_entropy", DoubleType(), False),
        StructField("feature_vec", ArrayType(DoubleType()), False),
    ]
)


def fake_features(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic fake 'decoded' feature vector from payload bytes."""
    h = hashlib.blake2b(payload, digest_size=dim * 8).digest()
    vec = np.frombuffer(h, dtype="<u8").astype(np.float64)
    return (vec % 10_000) / 10_000.0


def _byte_entropy(payload: bytes) -> float:
    if not payload:
        return 0.0
    counts = np.bincount(np.frombuffer(payload, dtype=np.uint8), minlength=256)
    p = counts[counts > 0] / len(payload)
    return float(-(p * np.log2(p)).sum())


def extract_media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    Narrow (no shuffle); the binary payload dies here — downstream sees
    only the typed feature row.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: len(b or b"")).astype("int64"),
                    "checksum": payloads.map(
                        lambda b: zlib.crc32(b or b"")
                    ).astype("int64"),
                    "byte_entropy": payloads.map(lambda b: _byte_entropy(b or b"")),
                    "feature_vec": payloads.map(
                        lambda b: fake_features(b or b"", dim).tolist()
                    ),
                }
            )

    return media.mapInPandas(batches, MEDIA_FEATURES_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents (payload = utf-8 bytes of
    text) — exercises the binary plumbing without codecs."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.create_map(F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")).alias("meta"),
    )
