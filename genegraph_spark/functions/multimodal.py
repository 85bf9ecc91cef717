"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extraction stages as ``mapInPandas`` stubs.

The real codecs (PIL/ffmpeg/torchaudio) are not in this container, so the
decode step is STUBBED: ``decode_image_batch(..., fake=True)`` produces a
deterministic md5-derived feature vector (so the distributed plumbing —
schema, Arrow batch shapes, partitioning — is real and tested), and
``fake=False`` raises ``NotImplementedError`` where the codec call
belongs. Pattern: binary in, fixed-width struct/array out, one Arrow
batch at a time, constant memory per task.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8
DECODED_SCHEMA = f"media_id long, kind string, n_bytes int, feature array<float>"


def make_media_df(spark, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Derive a deterministic media table from documents: payload =
    utf-8 bytes of the text (stands in for image bytes), typed metadata."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.when(F.col(id_col) % 3 == 0, "image").when(F.col(id_col) % 3 == 1, "audio").otherwise("video").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col(id_col) % 640 + 1).cast("int").alias("width"),
        (F.col(id_col) % 480 + 1).cast("int").alias("height"),
    )


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in for a decoded feature vector: bytes of the
    md5 digest scaled to [0,1). Stable across engines and retries."""
    d = hashlib.md5(payload).digest()
    return [b / 256.0 for b in d[:FEATURE_DIM]]


def decode_media(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas decode/feature-extract stage.

    Real decoding is NOT implemented in this container (no image/audio
    libs); ``fake=False`` raises NotImplementedError inside the task. The
    Spark-side contract (schema, batching, per-partition iteration) is
    identical either way."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not fake:
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg; install and replace _fake_feature"
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": pdf["payload"].map(_fake_feature),
                }
            )

    return media.mapInPandas(batches, DECODED_SCHEMA)
