"""Deterministic synthetic embeddings with planted near-duplicates.

The sf* ``embeddings`` table is near-random (max pairwise cosine ~0.51),
so it can't demonstrate near-dup *mining* at realistic thresholds
(>=0.9). This source plants clone clusters: vectors 0..n_base-1 are
pseudo-random unit vectors; vectors n_base.. are small perturbations of
``base_id = n_base + k -> k % n_base`` with cosine ~0.95+ to their base.

Everything is a pure function of (vec_id, dim, seed) via a counter-mode
hash — no RNG state, identical on every executor and for every partition
layout, so golden-file oracles stay valid. Generation itself is a
vectorized pandas UDF over spark.range (no driver-side materialization:
works at any n).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

CLONE_NOISE = 0.22  # a clone's perturbation scale: cosine ~0.95 to its base


def _hash_unit(ids: np.ndarray, dim: int, seed: int) -> np.ndarray:
    """(n, dim) float32 rows, each a deterministic pseudo-random vector of
    the given id (shared splitmix_uniform from operators/similarity)."""
    from deidentify_spark.operators.similarity import splitmix_uniform

    idx = (
        ids.astype(np.uint64)[:, None] * np.uint64(dim)
        + np.arange(dim, dtype=np.uint64)[None, :]
    )
    return splitmix_uniform(idx, seed).astype(np.float32)


def clone_embedding_rows(
    ids: np.ndarray, n_base: int, dim: int, seed: int
) -> np.ndarray:
    """Vectors for the given ids: base hash-vector for id < n_base, else
    base-of(id % n_base) + CLONE_NOISE * perturbation(id). Unit-normalized."""
    ids = ids.astype(np.int64)
    base_ids = np.where(ids < n_base, ids, ids % n_base)
    v = _hash_unit(base_ids, dim, seed)
    clones = ids >= n_base
    if clones.any():
        pert = _hash_unit(ids[clones] + np.int64(1 << 40), dim, seed)
        v[clones] = v[clones] + np.float32(CLONE_NOISE) * pert
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def synthesize_embeddings(
    spark: SparkSession,
    n_base: int = 300,
    n_clones: int = 60,
    dim: int = 64,
    seed: int = 7,
    partitions: int = 8,
) -> DataFrame:
    """(vec_id long, embedding array<float>) with planted near-dups:
    clone k (vec_id = n_base + k) has cosine ~0.95 to base k % n_base."""

    @F.pandas_udf(ArrayType(FloatType()))
    def gen(ids: pd.Series) -> pd.Series:
        rows = clone_embedding_rows(ids.to_numpy(), n_base, dim, seed)
        return pd.Series(list(rows))

    return (
        spark.range(0, n_base + n_clones, 1, partitions)
        .select(F.col("id").alias("vec_id"), gen(F.col("id")).alias("embedding"))
    )
