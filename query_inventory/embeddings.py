"""Vector queries over the ``embeddings`` table (and documents mapped
into it): exact and approximate cosine top-k, near duplicates, semantic
dedup and outliers, hard negatives, k-means, PCA/covariance, and the
multimodal decode.

Each query's DuckDB twin is the ``@oracle`` SQL right above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.operators.clustering import (
    kmeans_cluster_stats,
    kmeans_oracle_sql,
)
from deidentify_spark.operators.dedup import (
    embedding_near_dup_pairs_blocked,
    embedding_near_dup_pairs_lsh,
    semantic_dedup_pairs,
)
from deidentify_spark.operators.multimodal import decode_assets, synthesize_assets
from deidentify_spark.operators.pca import (
    covariance_matrix,
    covariance_oracle_sql,
    pca_oracle_sql,
    power_iteration_top_pc,
)
from deidentify_spark.operators.similarity import (
    centroid_outliers,
    centroid_outliers_oracle_sql,
    cosine_topk_ivf,
    cosine_topk_lsh,
    hard_negatives_topk,
)
from deidentify_spark.sources.vectors import synthesize_embeddings
from query_inventory._base import _golden_values_sql, _t, oracle


@oracle("""
            SELECT vec_id,
                   ROUND(list_cosine_similarity(
                       embedding,
                       (SELECT embedding FROM embeddings WHERE vec_id = 0)
                   ), 4) AS cosine
            FROM embeddings
            WHERE vec_id != 0
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """)
def ann_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs vec_id=0, JVM-side (zip_with/aggregate)."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qvec = F.array(*[F.lit(float(x)) for x in qrow[0]])
    a = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(a, qvec, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    norm_q = F.sqrt(
        F.aggregate(qvec, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id", F.round(dot / (norm_a * norm_q), 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@oracle("""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding, b.embedding), 4)
                       AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
            ORDER BY id_a, id_b
        """)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cosine pairs >= 0.45 via the blocked-GEMM grid operator —
    same semantics as the textbook a.id < b.id join (which remains the
    test oracle in tests/test_operators.py), but the plan is
    explode -> one grid-key shuffle -> one numpy gemm per cell: no
    CartesianProduct / BroadcastNestedLoopJoin node (pinned in
    tests/test_plans.py). Small n_blocks here exercises a multi-cell
    grid at test scale."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_blocked(
        emb, threshold=0.45, rows_per_block=512
    ).orderBy("id_a", "id_b")


@oracle(
    lambda: _golden_values_sql(
        "embedding_lsh_golden.json",
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("cosine", "DOUBLE")],
    )
)
def embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of embedding_near_dups: sign-LSH band blocking + exact
    cosine verify (no cartesian stage). Runs over deterministic synthetic
    embeddings with PLANTED clone clusters (the sf* embeddings table is
    near-random, max pairwise cosine ~0.51 — nothing to mine at 0.9);
    value-checked against a frozen golden (fixtures/embedding_lsh_golden
    .json) since the hyperplane hashing isn't SQL-expressible."""
    emb = synthesize_embeddings(
        spark, n_base=300, n_clones=60, dim=64, seed=7, partitions=8
    )
    return embedding_near_dup_pairs_lsh(
        emb, threshold=0.9, dim=64, n_planes=64, bands=8
    ).orderBy("id_a", "id_b")


@oracle(
    lambda: _golden_values_sql(
        "semantic_dedup_golden.json",
        [
            ("cluster", "INTEGER"),
            ("id_a", "BIGINT"),
            ("id_b", "BIGINT"),
            ("cosine", "DOUBLE"),
        ],
    )
)
def semantic_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.py
    semantic_dedup_pairs): IVF coarse clusters + within-cluster exact
    cosine pairs — ~O(n^2 / n_clusters) total. Runs over deterministic
    synthetic embeddings with planted clone clusters (same corpus as
    embedding_near_dups_lsh); value-checked against a frozen golden
    (the centroid sampling is not SQL-expressible)."""
    emb = synthesize_embeddings(
        spark, n_base=300, n_clones=60, dim=64, seed=7, partitions=8
    )
    return semantic_dedup_pairs(emb, threshold=0.9, n_clusters=8).orderBy(
        "id_a", "id_b"
    )


@oracle(centroid_outliers_oracle_sql("embeddings", dim=64))
def semantic_outliers_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier gate (operators/similarity.py
    centroid_outliers): cosine of each vector to its OWN label-group
    mean embedding, flagged when > 3 MADs off the group median — the
    embedding-space analogue of the robust length gate (off-centroid
    docs are the off-topic / extraction-garbage review candidates).
    Per-group centroid is O(n_groups*d) off the fact table; cosine is
    a JVM fold; median/MAD are exact discrete order statistics via the
    bucketed prefix scan. Rounded to 6 decimals on BOTH engines so
    float fold drift (~1e-15) sits 9 orders below the round quantum."""
    emb = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(
        emb, group_col="label", vec_col="embedding", id_col="vec_id", k=3.0
    ).orderBy("vec_id")


@oracle("""
            WITH anchors AS (
                SELECT vec_id AS anchor_id, embedding AS avec
                FROM embeddings WHERE vec_id < 4
            ), scored AS (
                SELECT a.anchor_id, e.vec_id,
                       ROUND(list_cosine_similarity(e.embedding, a.avec), 4)
                           AS cosine
                FROM embeddings e, anchors a
                WHERE e.vec_id != a.anchor_id
            )
            SELECT anchor_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY anchor_id
                       ORDER BY cosine DESC, vec_id
                   ) AS INT) AS rank
            FROM scored
            WHERE cosine >= 0.1 AND cosine < 0.95
            QUALIFY rank <= 5
            ORDER BY anchor_id, rank
        """)
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per anchor (vec_id < 4), the top-5 corpus
    vectors with cosine in [0.1, 0.95) — informative-but-not-duplicate
    contrastive negatives. Broadcast anchors, one corpus pass, two-phase
    bucketed top-k (operators/similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    out = hard_negatives_topk(
        emb, anchors, k=5, lo=0.1, hi=0.95, id_col="vec_id"
    )
    return out.select("anchor_id", "vec_id", "cosine", "rank").orderBy(
        "anchor_id", "rank"
    )


@oracle(
    lambda: _golden_values_sql(
        "ann_lsh_golden.json",
        [("vec_id", "BIGINT"), ("cosine", "DOUBLE")],
    )
)
def ann_cosine_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (scale path of ann_cosine_top10)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk_lsh(
        emb.where(F.col("vec_id") != 0), list(q), k=10, n_planes=16, bands=8
    )


@oracle(
    lambda: _golden_values_sql(
        "ann_ivf_golden.json",
        [("vec_id", "BIGINT"), ("cosine", "DOUBLE")],
    )
)
def ann_cosine_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-10 (the second ANN scale path next to
    sign-LSH): deterministic data-sampled centroids, probe the 4 nearest
    of 16 clusters, exact cosine inside the probe. Golden-oracled (the
    centroid assignment isn't SQL-expressible)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk_ivf(
        emb.where(F.col("vec_id") != 0), list(q), k=10, n_clusters=16, n_probe=4
    )


@oracle(
    lambda: _golden_values_sql(
        "multimodal_golden.json",
        [
            ("asset_id", "BIGINT"),
            ("kind", "VARCHAR"),
            ("n_bytes", "BIGINT"),
            ("width", "INTEGER"),
            ("height", "INTEGER"),
            ("duration_ms", "BIGINT"),
        ],
    )
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = synthesize_assets(spark, 500, seed=42, partitions=8)
    return decode_assets(assets).select(
        "asset_id", "kind", "n_bytes", "width", "height", "duration_ms"
    ).orderBy("asset_id")


@oracle(kmeans_oracle_sql("embeddings", 8, 3, 64))
def kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed Lloyd's k-means over the embeddings table
    (§2.G curation clustering; operators/clustering.py): k=8, 3 exact
    update iterations from the k lowest-id init, per-cluster
    (n, inertia) summary. The oracle unrolls the ENTIRE loop into SQL
    (list_distance + per-dimension AVG CTE stages) — both engines walk
    the same assignments because argmin ties break on cluster id and
    all arithmetic is float64."""
    return kmeans_cluster_stats(
        _t(spark, sf_dir, "embeddings"), k=8, n_iter=3
    )


@oracle(pca_oracle_sql("embeddings", n_iter=8, dim=64))
def pca_top_component_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spectral decomposition IN the engine
    (operators/pca.py): top principal component of the embeddings table
    via 8 power-iteration steps over the centered vectors — one
    map-combined d-sum aggregate per iteration, O(d) driver traffic,
    deterministic uniform init. The DuckDB oracle unrolls the ENTIRE
    loop (centering, projection, per-dimension sums, normalization) as
    materialized CTEs; all 64 loadings + the Rayleigh eigenvalue must
    match to 4 decimals after 8 rounds of iterate feedback. Third
    member of the iterative-numerics family (k-means, MM logreg)."""
    return power_iteration_top_pc(
        _t(spark, sf_dir, "embeddings"), n_iter=8, dim=64, round_to=4
    )


@oracle(covariance_oracle_sql("embeddings", dim=64, round_to=6))
def covariance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance matrix of the embeddings table in
    ONE corpus pass (operators/pca.py `covariance_matrix`): all
    d(d+1)/2 cross sums + means + n in a single map-side-combined
    aggregate — no explode, no join, no vector-row shuffle. The
    gap-free route to PCA at scale (driver eigh of the bounded 32 KB
    output) vs T power-iteration passes. Oracle: the same
    E[XY]-E[X]E[Y] aggregate in DuckDB, all 2 080 upper-triangle
    entries matched to 6 decimals."""
    return covariance_matrix(
        _t(spark, sf_dir, "embeddings"), dim=64, round_to=6
    )
