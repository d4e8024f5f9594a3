"""Tokenization and text-statistics queries over ``documents``: token
ids, chunking and packing, BPE, vocabularies and TF-IDF, divergence and
collocations, entropy and compression, normalization, URL
canonicalization and C4 line trimming.

Each query's DuckDB twin is the ``@oracle`` SQL right above it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deidentify_spark.functions.normalize import (
    normalize_text_column,
    normalize_text_sql,
)
from deidentify_spark.functions.quality import c4_line_trim
from deidentify_spark.functions.text_stats import (
    REDUNDANCY_ENTROPY_SQL,
    bpe_ish_token_count,
    normalized_fingerprint,
    redundancy_signals,
    whitespace_token_count,
)
from deidentify_spark.functions.urls import canonicalize_url, canonicalize_url_sql
from deidentify_spark.operators.bpe import bpe_encode, bpe_merges
from deidentify_spark.operators.curation import chunk_text, pack_sequences
from deidentify_spark.operators.vocab import (
    PMI_COLLOCATIONS_SQL,
    TFIDF_TOP_TERMS_SQL,
    UNIGRAM_DIVERGENCE_SQL,
    VOCAB_TOPK_SQL,
    encode_token_ids,
    pmi_collocations,
    tfidf_top_terms,
    unigram_divergence,
    vocab_topk,
)
from query_inventory._base import _REPO, _golden_values_sql, _t, oracle


@oracle(
    PMI_COLLOCATIONS_SQL.format(
        table="documents", text_col="text", min_count=5, k=50
    )
)
def pmi_collocations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information (Church &
    Hanks 1990; operators/vocab.py pmi_collocations) — the phrase-
    mining / boilerplate-phrase corpus-QA signal. Two map-side-combined
    groupBys, vocabulary-sized c1/c2 equi-joins, 1-row broadcast
    totals, TakeOrdered top-k; ranking on the ROUNDED pmi so ties are
    engine-stable."""
    return pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=50
    )


@oracle(
    REDUNDANCY_ENTROPY_SQL.format(
        table="documents", id_col="doc_id", text_col="text"
    )
)
def text_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy + type-token ratio
    (functions/text_stats.redundancy_signals) — the low-entropy
    keyword-stuffing / templated-page quality signal. ONE map-only
    Arrow pass, no shuffle; the oracle recomputes both from exact
    integer counts."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_sig", redundancy_signals("text")
    )
    return docs.select(
        "doc_id",
        F.round(F.col("_sig.token_entropy"), 6).alias("token_entropy"),
        F.round(F.col("_sig.distinct_ratio"), 6).alias("distinct_ratio"),
    ).orderBy("doc_id")


# zlib isn't expressible in DuckDB: frozen golden, determinism
# asserted at generation (scripts convention)
@oracle(
    lambda: _golden_values_sql(
        "compression_ratio_golden.json",
        [("doc_id", "BIGINT"), ("compression_ratio", "DOUBLE")],
    )
)
def compression_ratio_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib(6) compression ratio — the Dolma/RedPajama
    repetitive-boilerplate gate (functions/text_stats.
    redundancy_signals; same single Arrow pass as the entropy signal).
    Not SQL-expressible (no zlib in DuckDB): frozen-golden oracle,
    determinism asserted at fixture generation."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_sig", redundancy_signals("text")
    )
    return docs.select(
        "doc_id",
        F.round(F.col("_sig.compression_ratio"), 6).alias("compression_ratio"),
    ).orderBy("doc_id")


# identical line predicate on both engines: trailing-anchor
# regex on trim(line), the pinned within-line whitespace class
# [\t\f\r ], substring gates on the raw line/page
@oracle(r"""
            WITH d AS (
                SELECT doc_id,
                       replace(replace(text, ' value ', '.' || chr(10)),
                               ' spark ', ' javascript ') AS text
                FROM documents
            ), k AS (
                SELECT doc_id, text,
                       len(string_split(text, chr(10))) AS n_all,
                       list_filter(
                           string_split(text, chr(10)),
                           ln -> regexp_matches(trim(ln), '[.!?"]$')
                                 AND len(regexp_split_to_array(
                                         trim(ln), '[\t\f\r ]+')) >= 3
                                 AND NOT contains(lower(ln), 'javascript')
                       ) AS kept
                FROM d
            )
            SELECT doc_id,
                   md5(COALESCE(array_to_string(kept, chr(10)), ''))
                       AS trimmed_md5,
                   len(kept) AS c4_lines_kept,
                   n_all - len(kept) AS c4_lines_dropped,
                   len(kept) >= 3
                       AND NOT contains(lower(text), 'lorem ipsum')
                       AND NOT contains(text, '{') AS c4_keep
            FROM k ORDER BY doc_id
        """)
def c4_line_trim_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (functions/quality.py c4_line_trim,
    Raffel et al. 2020 §2.2): trim lines without terminal punctuation
    / under 3 words / mentioning javascript, keep docs with >= 3
    surviving lines and no lorem-ipsum/curly-brace. Pure JVM split ->
    higher-order filter -> array_join — a shuffle-free narrow map.
    The synthetic corpus is single-line word soup, so the query first
    re-lines it DETERMINISTICALLY (plain leftmost substring replaces,
    identical on both engines: ' value '->'.\\n' makes terminal-punct
    line breaks, ' spark '->' javascript ' plants the line-drop
    trigger); real pages go through c4_line_trim directly. Trimmed
    text is compared by md5 digest."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.replace(
            F.replace(F.col("text"), F.lit(" value "), F.lit(".\n")),
            F.lit(" spark "),
            F.lit(" javascript "),
        ),
    )
    out = c4_line_trim(docs)
    return out.select(
        "doc_id",
        F.md5("c4_text").alias("trimmed_md5"),
        "c4_lines_kept",
        "c4_lines_dropped",
        "c4_keep",
    ).orderBy("doc_id")


# the twin is the rejected shuffle-heavy formulation: explode
# every token, join the vocab, re-sort per doc — correct, and
# exactly what the map-side dict UDF avoids
@oracle("""
            WITH counts AS (
                SELECT term, COUNT(*) AS n FROM (
                    SELECT unnest(list_filter(string_split(text, ' '),
                                              t -> t != '')) AS term
                    FROM documents
                ) GROUP BY term
            ), vocab AS (
                SELECT term,
                       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) - 1
                            AS BIGINT) AS token_id
                FROM counts ORDER BY n DESC, term LIMIT 20
            ), arrs AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t != '') AS a
                FROM documents
            ), toks AS (
                SELECT doc_id, i AS pos, a[i] AS term
                FROM arrs, unnest(generate_series(1, len(a))) AS g(i)
            ), ids AS (
                SELECT t.doc_id, t.pos,
                       COALESCE(v.token_id,
                                20 + ('0x'||substr(md5(t.term),1,8))::BIGINT
                                     % 64) AS tid
                FROM toks t LEFT JOIN vocab v USING (term)
            ), agg AS (
                SELECT doc_id,
                       CAST(COUNT(*) AS INT) AS n_tokens,
                       CAST(SUM(CASE WHEN tid >= 20 THEN 1 ELSE 0 END)
                            AS INT) AS n_oov,
                       md5(string_agg(tid::VARCHAR, ',' ORDER BY pos))
                           AS ids_md5
                FROM ids GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.n_tokens, 0) AS n_tokens,
                   COALESCE(a.n_oov, 0) AS n_oov,
                   COALESCE(a.ids_md5, md5('')) AS ids_md5
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id
        """)
def token_ids_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-indexed numericalization (operators/vocab.py
    encode_token_ids): top-20 corpus vocabulary as ids 0..19, OOV terms
    hashed into 64 deterministic md5 buckets above the vocab range.
    Vocab collects O(V) on the driver and ships into ONE map-side Arrow
    projection — no token explode/join/re-sort (the oracle twin IS that
    rejected shuffle-heavy formulation, which makes it a good oracle
    and a bad plan). Output: per-doc token/oov counts + id-sequence
    md5."""
    docs = _t(spark, sf_dir, "documents")
    vocab = vocab_topk(docs, k=20).select(
        "term", (F.col("rank") - 1).cast("bigint").alias("token_id")
    )
    out = encode_token_ids(docs, vocab, n_oov_buckets=64)
    ids_str = F.array_join(
        F.transform("token_ids", lambda x: x.cast("string")), ","
    )
    return out.select(
        "doc_id",
        F.size("token_ids").alias("n_tokens"),
        F.size(F.filter("token_ids", lambda x: x >= F.lit(20))).alias("n_oov"),
        F.md5(ids_str).alias("ids_md5"),
    ).orderBy("doc_id")


# DuckDB list slicing is 1-based inclusive and end-clamped, so
# w[s : s+31] is exactly Spark's slice(w, s+1, 32)
@oracle("""
            WITH arrs AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t != '') AS w
                FROM documents
            ), starts AS (
                SELECT doc_id, w,
                       CAST(i - 1 AS INT) AS chunk_idx,
                       1 + (i - 1) * 24 AS s1
                FROM arrs, unnest(generate_series(1,
                     CASE WHEN len(w) = 0 THEN 0
                          ELSE ((len(w) - 1) // 24) + 1 END)) AS g(i)
            )
            SELECT doc_id, chunk_idx,
                   array_to_string(w[s1:s1 + 31], ' ') AS chunk_text,
                   CAST(LEAST(32, len(w) - s1 + 1) AS INT) AS n_tokens
            FROM starts
            ORDER BY doc_id, chunk_idx
        """)
def chunk_text_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window within-doc chunking (operators/curation.py
    chunk_text): 32-token windows advancing by 24 (8-token overlap) —
    the RAG / long-context prep complement to pack_sequences. Pure
    map-side array transform + posexplode; no shuffle anywhere."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_text(docs, window=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


@oracle(r"""
            WITH toks AS (
                SELECT doc_id, source,
                       CASE WHEN trim(text) = '' THEN 0 ELSE
                         len(regexp_split_to_array(lower(trim(text)), '\s+'))
                       END::BIGINT AS n_tokens
                FROM documents
            ), off AS (
                SELECT doc_id, source, n_tokens,
                       SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens AS start_off
                FROM toks
            )
            -- // not /: DuckDB '/' is true division and ::BIGINT then
            -- ROUNDS (half-to-even); Spark's cast truncates (= floor
            -- for the non-negative offsets here)
            SELECT source, (start_off // 512)::BIGINT AS chunk_id,
                   COUNT(*)::BIGINT AS n_docs,
                   SUM(n_tokens)::BIGINT AS n_tokens,
                   MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            FROM off GROUP BY source, chunk_id ORDER BY source, chunk_id
        """)
def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing summary: docs laid end-to-end
    per source, cut every 512 whitespace tokens; one row per
    (source, chunk) with fill stats (operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=512).orderBy("source", "chunk_id")


@oracle("""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS ws_tokens,
                   len(regexp_extract_all(
                       text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+'
                   )) AS bpe_tokens,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS norm_fingerprint
            FROM documents
            ORDER BY doc_id
        """)
def token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        normalized_fingerprint(F.col("text")).alias("norm_fingerprint"),
    ).orderBy("doc_id")


# two independent NFC implementations must agree on every hash
@oracle(
    "SELECT doc_id, md5("
    + normalize_text_sql("(text || ' cafe' || chr(769) || chr(8) || '!')")
    + ") AS norm_md5, length("
    + normalize_text_sql("(text || ' cafe' || chr(769) || chr(8) || '!')")
    + ") AS n_chars FROM documents ORDER BY doc_id"
)
def normalize_text_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + control strip (functions/normalize.py),
    value-checked across two INDEPENDENT NFC implementations: CPython
    unicodedata on the Spark side vs DuckDB's utf8proc on the oracle
    side.  Each doc gets a decomposed suffix (e + combining acute) and a
    stray control byte appended; md5 agreement requires both engines to
    compose and strip identically.  Map-only, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    # DECOMPOSED e + U+0301: NFC must compose it, then strip the \x08
    dirty = F.concat(F.col("text"), F.lit(" cafe\u0301\x08!"))
    return docs.select(
        "doc_id",
        F.md5(normalize_text_column(dirty)).alias("norm_md5"),
        F.length(normalize_text_column(dirty)).alias("n_chars"),
    ).orderBy("doc_id")


_URL_MESSY_SQL = """(
    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' WHEN doc_id % 3 = 1 THEN 'https://' ELSE 'HtTpS://' END)
    || 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.EXAMPLE.Com'
    || (CASE WHEN doc_id % 3 = 0 THEN ':80' WHEN doc_id % 3 = 1 THEN ':443' ELSE '' END)
    || '//p/' || CAST(doc_id % 11 AS VARCHAR)
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&z=9&a=1&fbclid=x#top'
             WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
             WHEN doc_id % 4 = 2 THEN '?utm_campaign=only#f' ELSE '' END)
)"""


@oracle(
    "SELECT doc_id, "
    + canonicalize_url_sql(_URL_MESSY_SQL, strip_www=True)
    + " AS canonical_url FROM documents ORDER BY doc_id"
)
def url_canonicalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py): both engines build the
    same deliberately-messy URL per doc (mixed-case scheme/host, default
    ports, doubled slashes, trailing slash, tracking params, fragments
    — branch coverage via doc_id residues) and reduce it to canonical
    form; every branch of the canonicalizer is value-checked.  No
    shuffle.  NOTE: Spark higher-order functions (the tracking-param
    filter lambda) are CodegenFallback, so the canonicalizer projection
    runs interpreted — ~0.36 ms/url steady state (urls are metadata-
    sized; fine), with a one-off ~15s plan-compile for THIS query's
    giant messy-construction scaffolding (min-of-2 benching absorbs
    it)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    messy = F.concat(
        F.when(d % 3 == 0, F.lit("HTTP://"))
        .when(d % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("HtTpS://")),
        F.lit("WWW.Site"),
        (d % 7).cast("string"),
        F.lit(".EXAMPLE.Com"),
        F.when(d % 3 == 0, F.lit(":80"))
        .when(d % 3 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("//p/"),
        (d % 11).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&z=9&a=1&fbclid=x#top"))
        .when(d % 4 == 1, F.lit("?b=2&a=1"))
        .when(d % 4 == 2, F.lit("?utm_campaign=only#f"))
        .otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", canonicalize_url(messy, strip_www=True).alias("canonical_url")
    ).orderBy("doc_id")


@oracle(VOCAB_TOPK_SQL.format(k=50))
def vocab_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary with Zipf rank and corpus frequency
    share (§2.G tokenizer/corpus-QA primitive; operators/vocab.py).
    Map-side-combined word count -> TakeOrdered top-k; the rank window
    runs over the already-limited k rows only."""
    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


@oracle(TFIDF_TOP_TERMS_SQL.format(top_n=3))
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (§2.G feature extraction;
    operators/vocab.py). tf⋈df equi-join (AQE-broadcast when the
    vocabulary is small), smooth-idf, per-doc ranking window bounded by
    document length."""
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_n=3)


@oracle(
    UNIGRAM_DIVERGENCE_SQL.format(
        table="documents",
        group_col="source",
        text_col="text",
        group_a="src0",
        group_b="src1",
    )
)
def unigram_divergence_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed unigram KL/JS divergence between two corpus sources
    (§2.G corpus-QA / data-mixing diagnostic; operators/vocab.py).
    Map-side-combined term counts -> one term-keyed pivot -> single-row
    aggregate; both engines round the nats sums at 6 decimals, ~7
    orders above float-sum associativity noise."""
    return unigram_divergence(
        _t(spark, sf_dir, "documents"), "src0", "src1"
    )


@oracle(
    lambda: _golden_values_sql(
        "bpe_merges_golden.json",
        [
            ("rank", "INTEGER"),
            ("lhs", "VARCHAR"),
            ("rhs", "VARCHAR"),
            ("merged", "VARCHAR"),
            ("pair_count", "BIGINT"),
        ],
    )
)
def bpe_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (§2.G; operators/bpe.py):
    20 merge ranks learned from the corpus word-frequency table —
    JVM-side adjacent-pair explode, map-combined counts, TakeOrdered
    argmax (ONE collected row per rank), vectorized Arrow merge apply.
    Oracle: frozen golden generated by the independent pure-Python
    reference in scripts/make_bpe_golden.py (tests/test_bpe.py asserts
    fixture == live reference re-derivation, so the golden cannot
    drift from the algorithm)."""
    return bpe_merges(_t(spark, sf_dir, "documents"), num_merges=20)


@oracle(
    lambda: _golden_values_sql(
        "bpe_subwords_golden.json",
        [
            ("subword", "VARCHAR"),
            ("n", "BIGINT"),
            ("rank", "INTEGER"),
        ],
    )
)
def bpe_subwords_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer INFERENCE over the corpus (§2.G; operators/bpe.py):
    encode every document with the committed learned merge table
    (fixtures/bpe_merges_golden.json — the tokenizer `bpe_merges`
    trains), then the top-20 subword frequency table. One map-only
    Arrow pass (merge list broadcast, per-batch word memo) + a
    map-combined count + TakeOrdered; the rank window runs over the
    already-limited 20 rows. Oracle: golden generated by the same
    independent pure-Python reference as the merge table."""
    import json as _json

    with open(os.path.join(_REPO, "fixtures", "bpe_merges_golden.json")) as f:
        ranked = [(m["lhs"], m["rhs"]) for m in _json.load(f)]
    enc = bpe_encode(_t(spark, sf_dir, "documents"), ranked)
    counts = (
        enc.select(F.explode("bpe_tokens").alias("subword"))
        .groupBy("subword")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("subword"))
    return (
        counts.orderBy(F.col("n").desc(), "subword")
        .limit(20)
        .select(
            "subword", "n", F.row_number().over(w).alias("rank")
        )
    )
