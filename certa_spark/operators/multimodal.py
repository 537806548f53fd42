"""Multimodal column operators (green-field, north-star scope).

Images/audio/video ride as opaque ``binary`` columns with a typed
metadata struct. The Spark-side plumbing — schema, Arrow batch shape,
partition sizing, UDF signatures — is real and tested; the actual
codec work (decode/resize/frame-sample) is STUBBED because no
image/audio libraries exist in this container:

  * ``decode='fake'`` (default) produces deterministic md5-derived
    features so pipelines are testable end-to-end;
  * ``decode='real'`` raises NotImplementedError at the exact seam
    where PIL/ffmpeg would plug in (documented per function).

Partitioning note for 100TB media: keep
``spark.sql.files.maxPartitionBytes`` at/below 128MB and media rows
narrow (binary + metadata only); feature extraction is embarrassingly
parallel mapInPandas with per-batch memory ~ batch_rows x blob size —
cap via spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from certa_spark.io import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)


def make_fake_media(spark, n: int = 32, kind: str = "image") -> DataFrame:
    """Deterministic synthetic media table for pipeline tests."""
    rows = []
    for i in range(n):
        blob = hashlib.md5(f"{kind}:{i}".encode()).digest() * 8
        rows.append((i, kind, bytearray(blob), f"{kind}/fake", 64, 48, 1000 + i))
    return local_frame(spark, rows, MEDIA_SCHEMA)


def _fake_features(blob: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real encoder: md5-chained floats."""
    out, seed = [], blob[:16]
    while len(out) < dim:
        seed = hashlib.md5(seed).digest()
        out.extend(b / 255.0 for b in seed)
    return [float(x) for x in out[:dim]]


def extract_features(
    media: DataFrame, dim: int = 16, decode: str = "fake"
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow-batched).

    ``decode='real'`` is the seam for PIL/torchvision/ffmpeg — not
    available in this container."""
    if decode == "real":
        raise NotImplementedError(
            "real decode requires PIL/ffmpeg (absent here); the contract "
            "is: bytes -> decoded tensor -> encoder -> list[float] inside "
            "the same mapInPandas batch loop below"
        )
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": [
                        _fake_features(bytes(b), dim) for b in pdf["content"]
                    ],
                }
            )

    return media.mapInPandas(run, schema=out_schema)


def resize_images(media: DataFrame, width: int, height: int, decode: str = "fake") -> DataFrame:
    """Resize plumbing: metadata updated JVM-side; pixel work is the
    stubbed decode seam (a real impl rewrites ``content`` in the same
    mapInPandas pass)."""
    if decode == "real":
        raise NotImplementedError("real resize requires an image codec")
    return media.withColumn("width", F.lit(width).cast("int")).withColumn(
        "height", F.lit(height).cast("int")
    )


def sample_frames(
    media: DataFrame, every_ms: int = 250, decode: str = "fake"
) -> DataFrame:
    """Frame sampling for video rows: emits one row per sampled
    timestamp (explode of a JVM-generated timestamp grid; frame bytes
    are the decode seam)."""
    if decode == "real":
        raise NotImplementedError("real frame extraction requires ffmpeg")
    grid = F.sequence(
        F.lit(0).cast("long"),
        F.col("duration_ms"),
        F.lit(every_ms).cast("long"),
    )
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_ts_ms", F.explode(grid))
        .select("media_id", "frame_ts_ms", "content", "mime")
    )
