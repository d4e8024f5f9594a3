"""Scans and profiles of the ``documents`` table: distinct counts,
exact and approximate aggregates, percentiles and outliers, snapshot
diffs, salted and grouped aggregates, text and host statistics.

Each query's DuckDB twin is the ``@oracle`` SQL right above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.functions.urls import host_doc_counts
from deidentify_spark.operators.diff import diff_oracle_sql, snapshot_diff
from deidentify_spark.operators.profile import profile_oracle_sql, profile_table
from deidentify_spark.operators.scan import exact_percentiles, mad_outliers
from deidentify_spark.operators.tabular import group_quality_profile, salted_group_count
from query_inventory._base import _t, oracle


@oracle("""
            SELECT COUNT(DISTINCT lang) AS n_langs,
                   COUNT(DISTINCT source) AS n_sources,
                   COUNT(DISTINCT text) AS n_texts,
                   COUNT(*) AS n_docs
            FROM documents
        """)
def distinct_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per class (the approx_count_distinct twin is
    engine-specific and checked rows-only in ann/langid queries)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("text").alias("n_texts"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@oracle("""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS word_count,
                   length(text) AS char_count,
                   len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                       AS distinct_words
            FROM documents
            ORDER BY doc_id
        """)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    return docs.select(
        "doc_id",
        F.size(words).alias("word_count"),
        F.length("text").alias("char_count"),
        F.size(F.array_distinct(words)).alias("distinct_words"),
    ).orderBy("doc_id")


@oracle(
    diff_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0",
        """SELECT doc_id,
                      CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                           ELSE text END AS text
               FROM documents WHERE doc_id % 13 <> 0""",
        "doc_id",
        ("text",),
    )
)
def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-curation delta (operators/diff.py): diff two
    deterministically derived snapshots of the documents table (v1
    drops id%11==0; v2 drops id%13==0 and edits id%7==0) — content
    equality via map-side md5 digests, so text never rides the full
    outer join; only added/removed/changed rows are returned. The
    oracle replays the identical derivation and digest in SQL."""
    docs = _t(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 11 != 0)
    v2 = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(v1, v2, "doc_id", ["text"]).orderBy("doc_id")


@oracle(
    profile_oracle_sql(
        "documents",
        [
            ("doc_id", "num"),
            ("text", "str"),
            ("lang", "str"),
            ("source", "str"),
            ("n_chars", "num"),
        ],
    )
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card profile of the documents table (operators/profile.py):
    per-column null counts, EXACT distinct cardinalities, numeric
    ranges, and string-length shape — computed in ONE map-side-combined
    aggregate pass over the scan (no join/window/collect), exploded
    in-plan to one row per column."""
    return profile_table(_t(spark, sf_dir, "documents")).orderBy("column")


# exact discrete quantile: smallest value whose per-group
# cumulative count reaches ceil(q*N) — the same definition the
# Spark operator computes (integer-exact on both engines)
@oracle("""
            WITH counts AS (
                SELECT source, n_chars AS v, COUNT(*) AS c
                FROM documents GROUP BY 1, 2
            ), cum AS (
                SELECT source, v,
                       SUM(c) OVER (PARTITION BY source ORDER BY v) AS cc
                FROM counts
            ), tot AS (
                SELECT source, SUM(c) AS n FROM counts GROUP BY 1
            )
            SELECT source,
                   MIN(CASE WHEN cc >= CEIL(0.25 * n) THEN v END) AS p25,
                   MIN(CASE WHEN cc >= CEIL(0.5 * n) THEN v END) AS p50,
                   MIN(CASE WHEN cc >= CEIL(0.75 * n) THEN v END) AS p75,
                   MIN(CASE WHEN cc >= CEIL(0.95 * n) THEN v END) AS p95
            FROM cum JOIN tot USING (source)
            GROUP BY source
            ORDER BY source
        """)
def exact_percentiles_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source doc-length percentiles (operators/scan.py
    exact_percentiles): smallest n_chars whose per-source cumulative
    count reaches ceil(q*N) — exact order statistics via the bucketed
    per-group prefix scan, no global sort, no one-task-per-source
    window, no approxQuantile in the ANSWER (only in the bucket
    boundaries, which provably don't affect values)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_percentiles(
        docs, "n_chars", qs=(0.25, 0.5, 0.75, 0.95), group_cols=["source"]
    ).orderBy("source")


# exact DISCRETE p50 (smallest v with cum count >= ceil(N/2)),
# twice — NOT DuckDB's interpolating median()
@oracle("""
            WITH c1 AS (
                SELECT source, n_chars AS v, COUNT(*) AS c
                FROM documents GROUP BY 1, 2
            ), med AS (
                SELECT source,
                       MIN(CASE WHEN cc >= CEIL(0.5 * n) THEN v END) AS med
                FROM (SELECT source, v,
                             SUM(c) OVER (PARTITION BY source
                                          ORDER BY v) AS cc,
                             SUM(c) OVER (PARTITION BY source) AS n
                      FROM c1)
                GROUP BY source
            ), dev AS (
                SELECT d.doc_id, d.source, d.n_chars, m.med,
                       ABS(d.n_chars - m.med) AS dv
                FROM documents d JOIN med m USING (source)
            ), c2 AS (
                SELECT source, dv AS v, COUNT(*) AS c
                FROM dev GROUP BY 1, 2
            ), mad AS (
                SELECT source,
                       MIN(CASE WHEN cc >= CEIL(0.5 * n) THEN v END) AS mad
                FROM (SELECT source, v,
                             SUM(c) OVER (PARTITION BY source
                                          ORDER BY v) AS cc,
                             SUM(c) OVER (PARTITION BY source) AS n
                      FROM c2)
                GROUP BY source
            )
            SELECT dev.doc_id, dev.source, dev.n_chars,
                   dev.med AS group_median, mad.mad AS group_mad,
                   dev.dv > 3.0 * mad.mad AS is_outlier
            FROM dev JOIN mad USING (source)
            ORDER BY dev.doc_id
        """)
def mad_outliers_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source doc-length outlier flags via exact
    median/MAD (operators/scan.py mad_outliers, Hampel identifier
    k=3): |n_chars - median| > 3*MAD, both statistics EXACT discrete
    order statistics from two composed bucketed prefix scans — no
    global sort, no one-task-per-source window, no approxQuantile in
    the answer. The heavy-tail-safe alternative to the z-score gate
    for web-doc length distributions."""
    docs = _t(spark, sf_dir, "documents")
    return mad_outliers(
        docs, "n_chars", group_cols=["source"], k=3.0
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "group_median",
        "group_mad",
        "is_outlier",
    ).orderBy("doc_id")


@oracle(r"""
            WITH u AS (
                SELECT doc_id,
                       'https://host' || lpad((doc_id % 50)::VARCHAR, 4, '0')
                           || '.example/page/' || doc_id::VARCHAR AS url
                FROM documents
            ), h AS (
                SELECT doc_id,
                       lower(regexp_extract(url,
                           '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS host
                FROM u
            )
            SELECT host,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN host IS NULL THEN 0
                        WHEN host = 'host0007.example'
                          OR host LIKE '%.host0007.example'
                          OR host = 'host0013.example'
                          OR host LIKE '%.host0013.example' THEN 0
                        ELSE 1 END) AS BIGINT) AS n_kept
            FROM h GROUP BY host ORDER BY host
        """)
def host_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain gate (functions/urls.py): C4/RefinedWeb-style domain
    blocklist + per-host doc counts (the skew observability view).
    URLs are derived deterministically from doc_id so the whole query —
    including try_parse_url host extraction — is value-checked against
    the SQL twin's regexp extraction."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://host"),
        F.lpad((F.col("doc_id") % 50).cast("string"), 4, "0"),
        F.lit(".example/page/"),
        F.col("doc_id").cast("string"),
    )
    return (
        host_doc_counts(
            docs.withColumn("url", url),
            ["host0007.example", "host0013.example"],
        )
        .orderBy("host")
    )


@oracle("""
            SELECT source, COUNT(*) AS n_rows,
                   ROUND(SUM(n_chars), 2) AS sum_n_chars
            FROM documents GROUP BY source ORDER BY source
        """)
def salted_docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew-safe); result identical to a
    plain GROUP BY, which is exactly what the oracle checks."""
    docs = _t(spark, sf_dir, "documents")
    return salted_group_count(
        docs, "source", n_salts=8, agg_col="n_chars", salt_key_col="doc_id"
    ).orderBy("source")


@oracle("""
            SELECT source,
                   COUNT(*) AS n_rows,
                   ROUND(AVG(n_chars), 4) AS mean_value,
                   ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
                   ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
                   ROUND(quantile_cont(n_chars, 0.75), 4) AS p75
            FROM documents GROUP BY source ORDER BY source
        """)
def group_profile_docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-source n_chars profile (exact
    interpolated quartiles, numpy inside the group batch)."""
    docs = _t(spark, sf_dir, "documents")
    return group_quality_profile(docs, "source", "n_chars").orderBy("source")


@oracle("""
            SELECT COUNT(DISTINCT text) AS n_exact_texts,
                   TRUE AS approx_texts_within_3sigma,
                   COUNT(DISTINCT source) AS n_exact_sources,
                   TRUE AS approx_sources_within_3sigma
            FROM documents
        """)
def approx_distinct_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx_count_distinct demonstrated WITH a value oracle: the
    query returns the exact distinct counts plus booleans asserting the
    sketch landed within 15% of exact (3 sigma of the default rsd=0.05 —
    a 1-sigma band would legitimately fail ~1/3 of the time once counts
    leave HLL's sparse-exact range); the oracle pins the exact counts and
    TRUE. A raw sketch value can't hash-match DuckDB (different
    algorithm), a tolerance check can."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.agg(
        F.countDistinct("text").alias("n_exact_texts"),
        F.approx_count_distinct("text").alias("_apx_t"),
        F.countDistinct("source").alias("n_exact_sources"),
        F.approx_count_distinct("source").alias("_apx_s"),
    )
    return agg.select(
        "n_exact_texts",
        (
            (F.col("_apx_t") >= F.col("n_exact_texts") * 0.85)
            & (F.col("_apx_t") <= F.col("n_exact_texts") * 1.15)
        ).alias("approx_texts_within_3sigma"),
        "n_exact_sources",
        (
            (F.col("_apx_s") >= F.col("n_exact_sources") * 0.85)
            & (F.col("_apx_s") <= F.col("n_exact_sources") * 1.15)
        ).alias("approx_sources_within_3sigma"),
    )


@oracle("""
            WITH both_halves AS (
                SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 250
                UNION ALL
                SELECT NULL AS doc_id, source, n_chars
                FROM documents WHERE doc_id >= 250
            )
            SELECT source, COUNT(*) AS n_docs, COUNT(doc_id) AS n_with_id,
                   -- DuckDB SUM(INTEGER) -> HUGEINT -> pandas float64;
                   -- Spark sums int to BIGINT. Cast so both hash as int64
                   -- (same class as the salted-agg fix, tabular.py:229).
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM both_halves GROUP BY source ORDER BY source
        """)
def union_by_name_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: two document slices projected in DIFFERENT column
    orders (and one missing a column) union by NAME, not position —
    positional union would silently cross-assign columns."""
    docs = _t(spark, sf_dir, "documents")
    first = docs.where(F.col("doc_id") < 250).select("doc_id", "source", "n_chars")
    second = docs.where(F.col("doc_id") >= 250).select(
        "n_chars", F.col("source")
    )  # different order, no doc_id
    both = first.unionByName(second, allowMissingColumns=True)
    return (
        both.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("doc_id").alias("n_with_id"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )
