"""Multimodal column plumbing (SURVEY.md north-star: image/audio/video
as opaque binary columns + typed metadata).

The kernels here (`decode_image`, `resize_image`, `extract_frame`)
are stand-ins for the PIL/av kernels, which are not installed: each
returns a deterministic digest of its input bytes. Everything
Spark-side — the schema, the mapInPandas batch shape, the partitioning
behavior, the binary handling through Arrow — is real and tested
(tests/test_multimodal.py), so dropping in PIL/libav later changes
one function body, not the pipeline.

Data model: media lives in a struct column
    media: struct<content: binary, meta: struct<kind string,
                  n_bytes long, sha string>>
— binary payloads stay opaque to the optimizer (no codegen over
them), metadata is columnar and prunable: a query touching only
`meta.*` never deserializes `content` (parquet column pruning works
per struct field).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def with_media_column(docs: DataFrame) -> DataFrame:
    """Attach a media struct built from the document text bytes (the
    testdata has no real media; payload = utf-8 bytes keeps the binary
    path end-to-end real). All JVM-side expressions."""
    content = F.encode("text", "utf-8").cast(BinaryType())
    return docs.withColumn(
        "media",
        F.struct(
            content.alias("content"),
            F.struct(
                F.lit("image").alias("kind"),
                F.length(content).cast("long").alias("n_bytes"),
                F.sha2(content, 256).alias("sha"),
            ).alias("meta"),
        ),
    )


def decode_image(payload: bytes) -> tuple[int, int, int]:
    """Decode kernel: (width, height, n_frames) derived from a digest of
    the payload — the stand-in for PIL.Image.open."""
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    n_frames = 1 + d[2] % 8
    return width, height, n_frames


def decode_media(media_df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, media): batch-streaming decode.

    Batch shape: each Arrow batch arrives as a pandas DataFrame whose
    `media` column is a dict of {content: bytes, meta: {...}} — the
    kernel touches bytes only inside the Python worker; no
    driver-side collect, no shuffle (map-only, preserves input
    partitioning). At 100 TB: size partitions so payload batches fit
    worker memory (spark.sql.execution.arrow.maxRecordsPerBatch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                w, h, n = decode_image(bytes(media["content"]))
                rows.append((doc_id, media["meta"]["kind"], w, h, n))
            yield pd.DataFrame(
                rows, columns=["doc_id", "kind", "width", "height", "n_frames"]
            )

    return media_df.select("doc_id", "media").mapInPandas(
        run, schema=DECODED_SCHEMA
    )


# ---------------------------------------------------------------------------
# resize + frame-sample plumbing (same stand-in kernels)
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("thumb_sha", StringType()),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_sha", StringType()),
    ]
)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Resize kernel: a pseudo-thumbnail digested from the payload and
    the target size — the stand-in for a PIL resize, so pipeline
    identity (same input + size → same bytes) is testable end-to-end."""
    return hashlib.sha256(
        payload + width.to_bytes(4, "big") + height.to_bytes(4, "big")
    ).digest()


def extract_frame(payload: bytes, idx: int) -> bytes:
    """Frame-extraction kernel: a per-index frame signature digested
    from the payload — the stand-in for an av frame decode."""
    return hashlib.sha256(payload + idx.to_bytes(4, "big")).digest()


def resize_media(
    media_df: DataFrame, width: int = 64, height: int = 64
) -> DataFrame:
    """mapInPandas thumbnail pass: map-only, partition-preserving; the
    payload crosses into Python once per batch and only the thumbnail
    digest returns (never ship full decoded tensors back through the
    driver)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                thumb = resize_image(bytes(media["content"]), width, height)
                rows.append((doc_id, width, height, thumb.hex()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "thumb_sha"]
            )

    return media_df.select("doc_id", "media").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def sample_frames(media_df: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling: decode the frame COUNT per payload, keep every
    k-th index, extract only the kept frames — the fan-out op for
    video corpora (a clip becomes n_frames/k rows). Map-only with
    bounded per-row fan-out; at 100 TB the kept-frame rows are the
    unit of downstream parallelism (repartition AFTER sampling, not
    before — the payload is the heavy column and moves once)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                payload = bytes(media["content"])
                _w, _h, n_frames = decode_image(payload)
                for idx in range(0, n_frames, every_k):
                    sig = extract_frame(payload, idx)
                    rows.append((doc_id, idx, sig.hex()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_sha"]
            )

    return media_df.select("doc_id", "media").mapInPandas(
        run, schema=FRAMES_SCHEMA
    )
