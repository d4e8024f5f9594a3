"""Similarity search over an embedding column (array<float>).

Two paths:
* brute-force cosine top-k — JVM-side zip_with/aggregate expressions, no
  UDF; exact; O(n) per query. The baseline and the oracle for recall.
* sign-LSH (random hyperplane) bucketed ANN — deterministic hyperplanes
  from a seeded hash, signature = sign-bit string over H planes; queries
  probe only their own bucket family (multi-probe over B bands of the
  signature), so per-query work is O(n / 2^r * B). The scale path for
  10^9+ vectors: signatures are a narrow map, the probe is a bucket-local
  join, never a cartesian.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

LSH_SEED = 42  # splitmix seed of the LSH hyperplanes
OUTLIER_MADS = 3.0  # centroid_outliers' Hampel threshold
COS_DECIMALS = 6  # centroid_outliers rounds the cosine to these

_PLANES_CACHE: dict[tuple[int, int], np.ndarray] = {}


def splitmix_uniform(idx: np.ndarray, seed: int) -> np.ndarray:
    """Counter-mode splitmix64 mapped to uniform [-1, 1) float64 — the
    shared deterministic pseudo-randomness for LSH hyperplanes and the
    synthetic embedding source (no RNG state, same on every executor)."""
    h = (idx.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    return (h.astype(np.float64) / 2**64) * 2.0 - 1.0


def _planes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (splitmix_uniform)."""
    key = (dim, n_planes)
    if key not in _PLANES_CACHE:
        vals = splitmix_uniform(np.arange(dim * n_planes, dtype=np.uint64), LSH_SEED)
        _PLANES_CACHE[key] = vals.reshape(n_planes, dim).astype(np.float32)
    return _PLANES_CACHE[key]


def band_ids_one(vec, dim: int, n_planes: int = 16, bands: int = 4) -> list[int]:
    """Band-tagged LSH bucket ids for one vector (pure function; used by
    both the executor UDF and the driver for the query vector)."""
    rows = n_planes // bands
    planes = _planes(dim, n_planes)
    bits = (planes @ np.asarray(vec, dtype=np.float32)) > 0
    ids = []
    for b in range(bands):
        chunk = bits[b * rows : (b + 1) * rows]
        bucket = int(chunk.dot(1 << np.arange(rows)))
        ids.append((b << 16) | bucket)
    return ids


def lsh_band_udf(dim: int, n_planes: int = 16, bands: int = 4):
    """array<float> -> array<int> of band bucket ids (one per band).

    Signature bit i = sign(v . plane_i); bits are split into ``bands``
    groups, each group hashed to a bucket id. Two vectors with high
    cosine share all/most sign bits, so they collide in >=1 band w.h.p.
    """

    @F.pandas_udf(ArrayType(IntegerType()))
    def band_ids(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if v is None else band_ids_one(v, dim, n_planes, bands)
                for v in vecs
            ]
        )

    return band_ids


def cosine_topk_bruteforce(
    emb: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector, JVM-side."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(v, q, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    nq = F.sqrt(F.aggregate(q, F.lit(0.0), lambda a, x: a + x * x))
    return (
        emb.select(id_col, F.round(dot / (na * nq), 4).alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def ivf_centroids(
    emb: DataFrame, n_clusters: int = 16, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic data-sampled IVF centroids: the ``n_clusters``
    vectors with the smallest xxhash64(id) (a stable pseudo-random
    sample), L2-normalized. No Lloyd iterations on purpose: float
    cluster-mean updates depend on distributed summation order, which
    would make assignments (and golden oracles) nondeterministic; a
    data-sampled coarse quantizer is the standard training-free IVF
    baseline and keeps the whole operator a pure function of the data.
    The driver collect is O(n_clusters) rows."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), id_col)
        .limit(n_clusters)
        .collect()
    )
    c = np.array([list(r[1]) for r in rows], dtype=np.float32)
    norms = np.linalg.norm(c, axis=1, keepdims=True)
    norms[norms == 0] = 1.0  # an all-zero sampled vector must not yield
    # a NaN centroid (NaN wins every argmax and poisons assignment)
    c /= norms
    return c


def ivf_assign_udf(centroids: np.ndarray):
    """array<float> -> int cluster id: argmax cosine against the (small)
    broadcast centroid matrix, one numpy matmul per Arrow batch. At scale
    the assignment is precomputed once and stored as a partition column."""
    c = np.ascontiguousarray(centroids, dtype=np.float32)

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ c.T
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return assign


def cosine_topk_ivf(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its nearest
    coarse centroid, probe only the ``n_probe`` clusters nearest the
    query, exact-rank the survivors (JVM-side cosine). The second scale
    path next to sign-LSH (cosine_topk_lsh): per-query work drops to
    ~n * n_probe / n_clusters, and on a real deployment the assignment
    column is precomputed + used as a partition key so a probe is a
    partition-pruned scan, not a filter."""
    c = ivf_centroids(emb, n_clusters, id_col, vec_col)
    q = np.asarray(query_vec, dtype=np.float32)
    q = q / (np.linalg.norm(q) or 1.0)
    order = np.argsort(-(c @ q), kind="stable")
    probe = [int(x) for x in order[:n_probe]]
    assign = ivf_assign_udf(c)
    cands = emb.where(assign(F.col(vec_col)).isin(probe))
    return cosine_topk_bruteforce(cands, query_vec, k, id_col, vec_col)


def hard_negatives_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    lo: float = 0.1,
    hi: float = 0.95,
    n_buckets: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for embedding-model training: for every
    anchor vector, the top-``k`` corpus vectors whose cosine falls in
    [``lo``, ``hi``) — similar enough to be informative negatives, but
    below the near-duplicate band (contrastive training's standard
    candidate set; InfoNCE/SimCSE-style pipelines mine these offline).

    Returns (anchor_id, vec_id, cosine, rank) with rank 1..k per anchor
    (ties broken by id; cosine is rounded to 4 decimals BEFORE ranking so
    the ordering is engine-portable, same convention as
    ``cosine_topk_bruteforce``).

    Scale shape: the anchor set is small by definition (a training batch
    or a probe panel — thousands, not billions), so it broadcasts and the
    corpus side is ONE partition-local pass (BroadcastNestedLoopJoin —
    the only cartesian-family node in the repo that scans the BIG side
    exactly once; candidate scoring is JVM zip_with/aggregate, no UDF).
    The per-anchor top-k is TWO-PHASE: phase 1 ranks inside (anchor,
    id-hash bucket) — ~n/B rows per task — and keeps k; phase 2 ranks
    the B*k survivors per anchor. A single ``Window.partitionBy(anchor)``
    would sort each anchor's ENTIRE candidate band in one task (the
    n_docs-sized skew bomb this repo's DSIR/AUC scans exist to avoid);
    with B buckets every task is bounded at ~n/B regardless of how many
    candidates one anchor attracts."""
    a = anchors.select(
        F.col(anchor_id_col).alias("_aid"), F.col(anchor_vec_col).alias("_avec")
    )
    pairs = emb.select(id_col, vec_col).join(
        F.broadcast(a), F.col(id_col) != F.col("_aid")
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    av = F.transform(F.col("_avec"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, av, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    na = F.sqrt(F.aggregate(av, F.lit(0.0), lambda acc, x: acc + x * x))
    scored = pairs.select(
        F.col("_aid").alias(anchor_id_col),
        F.col(id_col),
        F.round(dot / (nv * na), 4).alias("cosine"),
    ).where((F.col("cosine") >= lo) & (F.col("cosine") < hi))

    from pyspark.sql import Window

    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))
    w1 = Window.partitionBy(anchor_id_col, "_b").orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    ph1 = (
        scored.withColumn("_b", bucket)
        .withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= k)
        .drop("_b", "_r")
    )
    w2 = Window.partitionBy(anchor_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return ph1.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


def cosine_topk_lsh(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only vectors sharing >=1 LSH band bucket
    with the query, then exact-rank the candidates.

    At 10^9-vector scale the banded signature table is precomputed and
    bucket-partitioned; a query touches ~n/2^r * bands rows.
    """
    dim = len(query_vec)
    q_bands = set(band_ids_one(list(map(float, query_vec)), dim, n_planes, bands))
    banded = emb.withColumn("bands", lsh_band_udf(dim, n_planes, bands)(F.col(vec_col)))
    cands = banded.where(
        F.arrays_overlap(
            "bands", F.array(*[F.lit(int(b)) for b in sorted(q_bands)])
        )
    ).drop("bands")
    return cosine_topk_bruteforce(cands, query_vec, k, id_col, vec_col)


def centroid_outliers(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: float = OUTLIER_MADS,
) -> DataFrame:
    """Semantic outlier gate: flag vectors whose cosine to their OWN
    group's mean embedding deviates more than ``k`` MADs from the
    group median cosine — the embedding-space analogue of the length
    gate (SemDeDup-adjacent: off-centroid documents are the mislabeled
    / off-topic / extraction-garbage candidates a curation pass
    reviews).

    Plan, all JVM-side (no UDF):
    1. per-group centroid via posexplode + groupBy(group, pos) avg —
       O(n_groups * d) rows, re-assembled with a sorted collect_list
       (bounded by d per group) and broadcast back;
    2. cosine as sequential-fold `aggregate(zip_with(...))` double
       expressions, ROUNDed to ``COS_DECIMALS`` so the cross-engine
       last-ulp drift of the float centroid/dot sums (~1e-15 relative,
       9 orders below the round quantum) cannot flip a comparison;
    3. ``mad_outliers`` over the rounded cosine — exact discrete
       median/MAD per group via the bucketed prefix scan, identical
       doubles on every engine from identical rounded inputs.

    At corpus scale nothing here exceeds O(n_groups * d) off the fact
    table: no window over the group, no driver collect, no pairwise
    anything.
    """
    from deidentify_spark.operators.scan import mad_outliers
    from deidentify_spark.runtime import tracked_persist

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    v = F.col(vec_col).cast("array<double>")
    e = emb.select(F.col(id_col), F.col(group_col), v.alias("_v"))
    # the centroid's own norm sqrt(c.c) is constant per group: fold it
    # ONCE here (the identical sequential fold over the identical array
    # — bit-for-bit the per-row value it replaces) instead of re-running
    # the interpreted HOF dot per ROW inside ``cos`` (round 7)
    cen = (
        e.select(group_col, F.posexplode("_v").alias("_p", "_x"))
        .groupBy(group_col, "_p")
        .agg(F.avg("_x").alias("_m"))
        .groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                lambda s: s._m,
            ).alias("_c")
        )
        .withColumn("_cn", F.sqrt(_dot(F.col("_c"), F.col("_c"))))
    )

    cos = F.round(
        _dot(F.col("_v"), F.col("_c"))
        / (F.sqrt(_dot(F.col("_v"), F.col("_v"))) * F.col("_cn")),
        COS_DECIMALS,
    )
    # mad_outliers reads its input twice (the stats counts AND the final
    # flag join) — for most callers the input is a cheap scan, but here
    # it is the centroid broadcast join + three interpreted HOF folds
    # per row, so recomputing it doubled the query's whole compute
    # (round 7; the persist is slim: id, group, one double)
    scored = tracked_persist(
        e.join(F.broadcast(cen), group_col).select(
            id_col, group_col, cos.alias("centroid_cos")
        )
    )
    return mad_outliers(scored, "centroid_cos", group_cols=[group_col], k=k)


def centroid_outliers_oracle_sql(
    table: str,
    dim: int,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of ``centroid_outliers``: per-dimension AVG list
    centroid, list_dot_product cosine rounded to the same quantum,
    then the exact discrete median/MAD + Hampel flag chain."""
    avg_list = ", ".join(f"AVG(v[{i + 1}])" for i in range(dim))
    return f"""
        WITH e AS (
            SELECT {id_col} AS vec_id, {group_col} AS label,
                   CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), cen AS (
            SELECT label, [{avg_list}] AS c FROM e GROUP BY label
        ), cosx AS (
            SELECT vec_id, label,
                   ROUND(list_dot_product(v, c)
                         / (sqrt(list_dot_product(v, v))
                            * sqrt(list_dot_product(c, c))),
                         {COS_DECIMALS}) AS centroid_cos
            FROM e JOIN cen USING (label)
        ), c1 AS (
            SELECT label, centroid_cos AS vv, COUNT(*) AS c
            FROM cosx GROUP BY 1, 2
        ), med AS (
            SELECT label,
                   MIN(CASE WHEN cc >= CEIL(0.5 * n) THEN vv END) AS med
            FROM (SELECT label, vv,
                         SUM(c) OVER (PARTITION BY label ORDER BY vv) AS cc,
                         SUM(c) OVER (PARTITION BY label) AS n
                  FROM c1)
            GROUP BY label
        ), dev AS (
            SELECT x.vec_id, x.label, x.centroid_cos, m.med,
                   ABS(x.centroid_cos - m.med) AS dv
            FROM cosx x JOIN med m USING (label)
        ), c2 AS (
            SELECT label, dv AS vv, COUNT(*) AS c FROM dev GROUP BY 1, 2
        ), mad AS (
            SELECT label,
                   MIN(CASE WHEN cc >= CEIL(0.5 * n) THEN vv END) AS mad
            FROM (SELECT label, vv,
                         SUM(c) OVER (PARTITION BY label ORDER BY vv) AS cc,
                         SUM(c) OVER (PARTITION BY label) AS n
                  FROM c2)
            GROUP BY label
        )
        SELECT dev.vec_id, dev.label, dev.centroid_cos,
               dev.med AS group_median, mad.mad AS group_mad,
               dev.dv > {OUTLIER_MADS} * mad.mad AS is_outlier
        FROM dev JOIN mad USING (label)
        ORDER BY dev.vec_id
    """
