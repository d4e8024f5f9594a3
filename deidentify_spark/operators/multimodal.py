"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed in Arrow batches via mapInPandas.

The Spark-side contract (schema, partitioning, batch shape, UDF
signatures) is real and tested; the actual codec work is stubbed because
no image/audio/video codec library is a dependency:

* ``decode_assets`` derives plausible metadata purely from the bytes
  (``_fake_decode``) — a deterministic stand-in for PIL/ffmpeg.
* ``byte_histogram_features`` is a REAL feature extractor (64-bin byte
  histogram, L1-normalized) — deterministic, library-free, and the shape
  every learned featurizer would slot into (fixed-size float vector).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
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

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), False),
        StructField("source_url", StringType(), True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def synthesize_assets(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic fake binary assets (pure function of seed+id)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                digest = hashlib.sha256(f"{seed}:asset:{i}".encode()).digest()
                kind = kinds[digest[0] % 3]
                size = 200 + int.from_bytes(digest[1:3], "big") % 2000
                payload = (digest * (size // len(digest) + 1))[:size]
                rows.append(
                    {
                        "asset_id": int(i),
                        "kind": kind,
                        "payload": payload,
                        "mime": mimes[kind],
                        "source_url": f"https://assets.example/{kind}/{int(i):08d}",
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, ASSET_SCHEMA)


HIST_BINS = 64  # byte >> 2 puts the 256 byte values in 64 bins


def byte_histogram_features(payload: bytes) -> list[float]:
    """Real, library-free feature vector: L1-normalized byte histogram."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> np.uint8(2), minlength=HIST_BINS).astype(np.float32)
    total = hist.sum()
    return (hist / total if total else hist).tolist()


def _fake_decode(kind: str, payload: bytes) -> dict:
    """Deterministic stand-in for a codec: metadata derived from bytes.
    CLEARLY A STUB — replace with PIL/ffmpeg adapters where available."""
    h = hashlib.sha256(payload).digest()
    if kind == "image":
        return {
            "width": 64 + h[0] % 1920,
            "height": 64 + h[1] % 1080,
            "n_channels": 1 + h[2] % 4,
            "duration_ms": None,
        }
    return {
        "width": None,
        "height": None,
        "n_channels": 1 + h[2] % 2,
        "duration_ms": 1000 + int.from_bytes(h[3:5], "big") % 600_000,
    }


def decode_assets(assets: DataFrame) -> DataFrame:
    """Decode + featurize assets in Arrow batches: stub metadata
    (``_fake_decode``) and REAL byte-histogram features."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # no bytes() copies: frombuffer views the Arrow-owned buffers
            # directly and np.concatenate makes the single working copy
            # (hashlib accepts the raw objects as-is)
            payloads = pdf["payload"].tolist()
            n = len(payloads)
            if n == 0:
                continue
            metas = [
                _fake_decode(k, p) for k, p in zip(pdf["kind"].tolist(), payloads)
            ]
            # one vectorized histogram pass for the whole batch: segment
            # bincount over (row_idx * HIST_BINS + byte>>2) keys — bit-identical
            # to the scalar byte_histogram_features (integer counts are
            # exact in f32; the division matches elementwise)
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
            cat = np.concatenate(
                [np.frombuffer(p, dtype=np.uint8) for p in payloads]
            )
            keys = np.repeat(np.arange(n, dtype=np.int64), lens) * HIST_BINS + (cat >> 2)
            hist = (
                np.bincount(keys, minlength=n * HIST_BINS)
                .reshape(n, HIST_BINS)
                .astype(np.float32)
            )
            totals = hist.sum(axis=1, keepdims=True)
            np.divide(hist, totals, out=hist, where=totals > 0)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_channels": [m["n_channels"] for m in metas],
                    "duration_ms": [m["duration_ms"] for m in metas],
                    "n_bytes": lens,
                    "features": list(hist),
                }
            )

    # No repartition: shuffling every payload byte just to bound batch
    # size is wasted IO at scale — Arrow batch size is bounded by
    # spark.sql.execution.arrow.maxRecordsPerBatch; transient memory
    # beyond the Arrow batch is ONE concatenated copy of the payload
    # bytes (for the vectorized histogram) plus 64 floats per row. For
    # multi-MB assets, lower maxRecordsPerBatch so batch-bytes stay
    # bounded (records, not bytes, is Spark's unit here).
    return assets.mapInPandas(decode, DECODED_SCHEMA)
