"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

No image/audio codec is a dependency, so the decode step is a
clearly-marked deterministic fake — but the Spark-side plumbing is
real and tested: schema, Arrow batch shape through `mapInPandas`,
partition-size control for large blobs, and the metadata struct
convention.

Conventions (what a production pipeline needs at 100 TB):
- blobs live in their own column `content: binary`; metadata is a
  sibling struct (never packed inside the blob) so Catalyst prunes the
  blob column for metadata-only queries;
- feature extraction runs through `mapInPandas` so one Arrow batch of
  blobs is processed per Python call — batch size is bounded by
  `spark.sql.execution.arrow.maxRecordsPerBatch` to cap memory;
- decoded features come back as plain numeric columns / fixed-length
  arrays, keeping everything downstream JVM-side.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, digest string, "
    "feature array<float>"
)

_FEATURE_DIM = 8


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from documents (deterministic fake blobs:
    the utf-8 bytes of the text stand in for image/audio payloads)."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.length("text") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def fake_features(blob: bytes, dim: int = _FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a decode→embed step: sha1-seeded
    byte statistics. Stable across executors/runs."""
    h = hashlib.sha1(blob).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype="<u4")
    return (raw % 1000).astype("float32") / 1000.0


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches of blobs.

    The Spark-side shape (batching, schema, column pruning) is the
    production path; swap `fake_features` for a real decoder when
    codecs are available.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_bytes": blobs.str.len().astype("int64"),
                    "digest": [hashlib.sha1(b).hexdigest() for b in blobs],
                    "feature": [fake_features(b).tolist() for b in blobs],
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )
