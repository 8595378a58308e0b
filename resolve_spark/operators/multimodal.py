"""Multimodal column plumbing: image/audio/video as opaque binary.

The decode step is STUBBED (no codec libraries are installed): it
produces deterministic fake features derived from the bytes, so the
Spark-side plumbing — schema, Arrow batch shape, mapInPandas
partitioning — is fully real and tested. A real decoder
(PIL/librosa/ffmpeg) would replace ``_fake_feature``.

Schema convention: a media column is ``binary`` plus typed metadata
columns (media_type, width/height or sample_rate/duration, codec).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id long, media_type string, feature array<float>, n_bytes int"


def media_from_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic media table derived from an existing documents
    table (payload = utf-8 bytes of text, type round-robin by id). This
    keeps the multimodal plumbing SQL-oracleable: every derived value is
    a pure function of (doc_id, text)."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    codecs = F.array(F.lit("png"), F.lit("wav"), F.lit("mp4"))
    idx = (F.col(id_col) % 3).cast("int")
    mt = F.element_at(kinds, idx + 1)
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        mt.alias("media_type"),
        F.element_at(codecs, idx + 1).alias("codec"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.when(mt == "image", (64 + (F.col(id_col) % 16) * 8).cast("int")).alias("width"),
        F.when(mt == "image", (64 + (F.col(id_col) % 12) * 8).cast("int")).alias("height"),
        F.when(mt == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(mt.isin("audio", "video"), (1000 + F.col(id_col) % 5000).cast("int")).alias("duration_ms"),
    )


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    # deterministic bytes -> feature: mean-pooled byte windows
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    pad = (-len(arr)) % dim
    if pad:
        arr = np.concatenate([arr, np.zeros(pad, np.float32)])
    return arr.reshape(dim, -1).mean(axis=1) / 255.0


def extract_features(df: DataFrame, dim: int = 32) -> DataFrame:
    """binary payload -> array<float> feature via mapInPandas (Arrow
    batches of whole rows)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_feature(p, dim).tolist() for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "feature": feats,
                "n_bytes": [len(p) for p in pdf["payload"]],
            })

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
