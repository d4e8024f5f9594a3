"""Queries over the flagship pipeline's stages: language ID, quality
statistics, PII statistics and the mapping audit, toxicity, table and
text scrubs, and the per-bucket lineage of a synthetic run.

The UDF-backed stages are not SQL-expressible, so most twins here are
frozen goldens (``_golden_values_sql``); ``scrub_documents`` has no twin
and is checked by row count only. Each other query's twin is the
``@oracle`` SQL right above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.functions.langid import langid_udf
from deidentify_spark.functions.pii_stats import PII_VALUE_PATTERNS, pii_hit_counts
from deidentify_spark.functions.quality import QualityConfig, quality_metrics
from deidentify_spark.functions.scrub import mapping_audit_table, scrub_text_udf
from deidentify_spark.functions.toxicity import toxicity_scrub
from deidentify_spark.operators.tabular import deidentify_table
from deidentify_spark.pipeline.lineage import lineage_metrics
from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
from deidentify_spark.sources.pages import generate_pages
from query_inventory._base import SECRET_KEY, _golden_values_sql, _t, oracle


# toxicity: token normalization (lower/ws-split/strip outer
# non-alnum) and the word-boundary mask regexp are replicated
# 1:1; frac stays an unrounded float64 (IEEE division is
# bit-identical on both engines)
@oracle(r"""
            WITH t AS (
                SELECT doc_id, text,
                       len(list_filter(
                           list_transform(
                               regexp_split_to_array(lower(trim(text)), '\s+'),
                               w -> regexp_replace(
                                        regexp_replace(w, '^[^a-z0-9]+', ''),
                                        '[^a-z0-9]+$', '')),
                           x -> list_contains(['slow','broken','damn'], x)
                       ))::INT AS toxic_hits,
                       CASE WHEN trim(text) = '' THEN 0 ELSE
                         len(regexp_split_to_array(trim(text), '\s+'))
                       END AS n
                FROM documents
            ), s AS (
                SELECT doc_id, text, toxic_hits,
                       CASE WHEN n = 0 THEN 0.0
                            ELSE toxic_hits::DOUBLE / n END AS toxic_frac
                FROM t
            )
            SELECT doc_id, toxic_hits, toxic_frac,
                   (toxic_frac <= 0.03 AND toxic_hits <= 2) AS toxic_keep,
                   md5(CASE WHEN toxic_frac <= 0.03 AND toxic_hits <= 2
                        THEN regexp_replace(text,
                             '(?i)\b(?:slow|broken|damn)\b', '***', 'g')
                        ELSE '' END) AS scrub_md5
            FROM s ORDER BY doc_id
        """)
def toxicity_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toxicity gate + mask (functions/toxicity.py) — the 'toxicity'
    half of the north-star PII/toxicity scrub. Word-list scoring
    (flagged-token count + fraction), threshold keep/drop, and
    in-place masking of flagged terms for kept docs. The blocklist here
    is a demo list of corpus-present words (the synthetic corpus is
    database jargon); the operator is list-agnostic — production
    supplies the full public LDNOOBW-style list."""
    docs = _t(spark, sf_dir, "documents")
    out = toxicity_scrub(
        docs, ("slow", "broken", "damn"), max_frac=0.03, max_hits=2
    )
    return out.select(
        "doc_id",
        "toxic_hits",
        "toxic_frac",
        "toxic_keep",
        F.md5(F.coalesce("scrubbed_text", F.lit(""))).alias("scrub_md5"),
    ).orderBy("doc_id")


def _quality_stats_sql() -> str:
    """DuckDB twin of quality_stats_documents, interpolating the same
    stopword list and punctuation class as QualityConfig. ASCII-corpus
    note: Spark uses (?U)\\s where the twin uses RE2 \\s — identical on
    this corpus; the Unicode-whitespace edge cases are pinned Spark-side
    by tests/test_ws_parity.py instead."""
    cfg = QualityConfig()
    stops = ", ".join(f"'{s}'" for s in cfg.stopwords)
    # the Column path's end-punctuation class, SQL-escaped
    punct = "[\"''.,;:!?()\\[\\]{}<>_#-]"
    return f"""
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                            THEN text || chr(10) || 'duplicate line'
                                 || chr(10) || 'duplicate line'
                            ELSE text END AS t
                FROM documents
            ), base AS (
                SELECT doc_id, t,
                       list_filter(regexp_split_to_array(trim(t), '\\s+'),
                                   w -> w != '') AS words,
                       list_filter(regexp_split_to_array(t, chr(10)),
                                   ln -> trim(ln) != '') AS lines
                FROM planted
            ), m AS (
                SELECT doc_id,
                       len(words) AS word_count,
                       length(regexp_replace(t, '\\s', '', 'g'))::DOUBLE
                           AS non_ws,
                       length(t) - length(replace(t, '#', '')) AS n_hash,
                       length(replace(t, '...', chr(1)))
                           - length(replace(t, '...', ''))
                           + length(t) - length(replace(t, '…', ''))
                           AS n_ellipsis,
                       len(list_filter(words, w -> list_contains(
                           [{stops}],
                           lower(regexp_replace(w,
                               '(^{punct}+)|({punct}+$)', '', 'g'))
                       ))) AS stopword_count,
                       1.0 - len(list_distinct(lines))::DOUBLE
                             / greatest(len(lines), 1) AS dup_line_frac,
                       len(list_filter(words,
                           w -> regexp_matches(w, '\\p{{L}}')))::DOUBLE
                           AS n_alpha_words
                FROM base
            )
            SELECT doc_id, word_count,
                   non_ws / greatest(word_count, 1) AS mean_word_len,
                   (n_hash + n_ellipsis)::DOUBLE
                       / greatest(word_count, 1) AS symbol_ratio,
                   stopword_count,
                   dup_line_frac,
                   n_alpha_words / greatest(word_count, 1)
                       AS alpha_word_frac
            FROM m ORDER BY doc_id
    """


@oracle(_quality_stats_sql)
def quality_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 quality metric columns (functions/quality.py
    quality_metrics) value-checked against a DuckDB twin — the fused
    Arrow stage's parity with these Columns is pinned by unit tests;
    this query pins the Column semantics against a third engine.
    doc_id%5==0 docs get two identical planted lines so dup_line_frac
    exercises a nonzero path (the corpus itself is single-line)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat("text", F.lit("\nduplicate line\nduplicate line")),
        ).otherwise(F.col("text")),
    )
    m = quality_metrics(F.col("text"), QualityConfig())
    return docs.select(
        "doc_id",
        m["word_count"].alias("word_count"),
        m["mean_word_len"].alias("mean_word_len"),
        m["symbol_ratio"].alias("symbol_ratio"),
        m["stopword_count"].alias("stopword_count"),
        m["dup_line_frac"].alias("dup_line_frac"),
        m["alpha_word_frac"].alias("alpha_word_frac"),
    ).orderBy("doc_id")


def _planted_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with PII appended deterministically from doc_id: an
    email (id % 3 == 0), two phones (== 1), or an SSN and a card (== 2),
    so every detector class fires."""
    return _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@corp.example"),
                ),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.lit(" call (555) 123-4567 or +1 555 987 6543"),
            )
            .otherwise(F.lit(" ssn 123-45-6789 card 4111 1111 1111 1111")),
        ),
    )


def _pii_stats_sql() -> str:
    """DuckDB twin of pii_stats_documents, interpolating the SAME
    RE2 pattern constants the Spark side counts with — a cross-engine
    regex-semantics check (the four value patterns are lookaround-free
    RE2; see functions/pii_stats.py)."""
    counts = ",\n                   ".join(
        f"len(regexp_extract_all(t, '{pat}'))::INT AS n_{name}"
        for name, pat in PII_VALUE_PATTERNS.items()
    )
    return f"""
            WITH planted AS (
                SELECT doc_id, text ||
                       CASE WHEN doc_id % 3 = 0
                            THEN ' reach user' || doc_id::VARCHAR
                                 || '@corp.example'
                            WHEN doc_id % 3 = 1
                            THEN ' call (555) 123-4567 or +1 555 987 6543'
                            ELSE ' ssn 123-45-6789 card 4111 1111 1111 1111'
                       END AS t
                FROM documents
            )
            SELECT doc_id,
                   {counts}
            FROM planted ORDER BY doc_id
    """


@oracle(_pii_stats_sql)
def pii_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side PII triage counters (functions/pii_stats.py): raw
    value-pattern hits per doc for emails/phones/SSNs/cards — the cheap
    whole-stage-codegen survey pass that routes crawl slices to the
    expensive Python scrub. PII is planted deterministically from
    doc_id so the detectors fire; the DuckDB twin interpolates the SAME
    pattern constants (oracle/patterns.py), making this a cross-engine
    regex-semantics check, not just a count check."""
    return (
        pii_hit_counts(_planted_pii_documents(spark, sf_dir))
        .select("doc_id", "n_emails", "n_phones", "n_ssns", "n_cards")
        .orderBy("doc_id")
    )


@oracle(
    lambda: _golden_values_sql(
        "pii_mapping_audit_golden.json",
        [
            ("pii_type", "VARCHAR"),
            ("original", "VARCHAR"),
            ("replacement", "VARCHAR"),
        ],
    )
)
def pii_mapping_audit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's in-memory mapping table (deidentify.go:37-41)
    materialized as data: every distinct (pii_type, original,
    replacement) triple the scrub produced, via the recording Arrow UDF
    + explode + ONE distinct shuffle (functions/scrub.py
    mapping_audit_table).  Because replacements are pure in (key, type,
    value) — SURVEY §0 — the distributed distinct IS the global mapping
    table with no shared state.  PII is planted deterministically from
    doc_id (same scheme as pii_stats_documents) so every detector class
    contributes; the oracle is a frozen golden (HMAC replacements are
    not SQL-expressible), determinism asserted at generation time."""
    planted = _planted_pii_documents(spark, sf_dir)
    return mapping_audit_table(planted, "text", SECRET_KEY).orderBy(
        "pii_type", "original"
    )


@oracle(
    lambda: _golden_values_sql(
        "table_scrub_golden.json",
        [("c_custkey", "BIGINT"), ("scrubbed_name", "VARCHAR")],
    )
)
def table_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Table/Slices semantics over the customer table: c_name
    scrubbed as a name column, everything else generic-passthrough."""
    cust = _t(spark, sf_dir, "customer")
    out = deidentify_table(cust, SECRET_KEY, {"c_name": "name"})
    return out.select("c_custkey", F.col("c_name").alias("scrubbed_name")).orderBy(
        "c_custkey"
    )


@oracle(
    lambda: _golden_values_sql(
        "langid_golden.json",
        [("lang_pred", "VARCHAR"), ("n_docs", "BIGINT")],
    )
)
def langid_documents_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("lid", langid_udf()(F.col("text")))
        .groupBy(F.col("lid.lang_pred").alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", scrub_text_udf(SECRET_KEY)(F.col("text")).alias("scrubbed_text")
    ).orderBy("doc_id")


@oracle(
    lambda: _golden_values_sql(
        "scrub_digest_golden.json",
        [("doc_id", "BIGINT"), ("scrub_md5", "VARCHAR")],
    )
)
def scrub_documents_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked twin of scrub_documents: md5 of every scrubbed doc
    against a frozen golden (the scrub is deterministic in (key, text);
    full-text byte parity is additionally pinned by the pytest goldens).
    One narrow Arrow stage + a hash — no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(scrub_text_udf(SECRET_KEY)(F.col("text"))).alias("scrub_md5"),
    ).orderBy("doc_id")


@oracle(
    lambda: _golden_values_sql(
        "lineage_golden.json",
        [
            ("bucket", "INTEGER"),
            ("docs_in", "BIGINT"),
            ("docs_out", "BIGINT"),
            ("drop_reasons_json", "VARCHAR"),
            ("pii_hits_json", "VARCHAR"),
        ],
    )
)
def pipeline_lineage_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline + lineage metrics over deterministic synthetic pages."""
    pages = generate_pages(spark, 2000, seed=42, partitions=8)
    # persist: lineage_metrics aggregates the annotated plan in three
    # subtrees; without materialization the fused stage would run 3x
    out = run_pipeline(pages, PipelineConfig(secret_key=SECRET_KEY)).persist()
    # maps serialize to JSON text: entries are already sorted by key
    # (lineage.py sort_array before map_from_entries), so the JSON is
    # deterministic AND hashable by a row-set comparison (a raw map
    # column raises TypeError: unhashable dict there).
    return lineage_metrics(out).select(
        "bucket",
        "docs_in",
        "docs_out",
        F.to_json("drop_reason_counts").alias("drop_reasons_json"),
        F.to_json("pii_hits").alias("pii_hits_json"),
    )
