"""Deduplication and decontamination queries over ``documents``: exact,
n-gram Jaccard, MinHash LSH (candidates, verification, clusters,
keep-best, caps, incremental), duplicate spans and lines, SimHash,
winnowing, and Bloom-filter membership.

The shared DuckDB pieces (the MinHash signature/band CTEs, the
candidate-pair SQL and the duplicate-span island chain) are defined once
at the top. Each query's DuckDB twin is the ``@oracle`` SQL right above
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.functions.text_stats import (
    winnowing_fingerprints_udf,
    winnowing_oracle_sql,
)
from deidentify_spark.operators.components import dedup_clusters, keep_best_per_cluster
from deidentify_spark.operators.curation import (
    decontaminate_flags,
    dup_span_stats,
    fuzzy_decontaminate_flags,
    line_dedup,
    remove_dup_spans,
    within_doc_line_dedup,
)
from deidentify_spark.operators.dedup import (
    _minhash_band_membership,
    exact_dedup_incremental,
    minhash_lsh_candidates,
    minhash_lsh_candidates_incremental,
    minhash_lsh_dropped_buckets,
    ngram_jaccard_dropped_shingles,
    ngram_jaccard_pairs,
    semantic_dedup_dropped_clusters,
    simhash_near_dups,
    simhash_oracle_sql,
    verify_candidate_pairs,
    verify_oracle_sql,
)
from deidentify_spark.operators.membership import (
    bloom_build,
    bloom_maybe_seen,
    bloom_oracle_sql,
)
from deidentify_spark.sources.vectors import synthesize_embeddings
from query_inventory._base import _golden_union_arm, _t, oracle


# Duplicate-span island chain shared by the dup_span_stats and
# remove_dup_spans DuckDB twins: token 10-grams (from a ``words`` CTE
# yielding doc_id, w) -> grams occurring >= 2 times corpus-wide ->
# overlap islands per doc -> ``spans`` (doc_id, island, s, e).
_DUP_SPAN_CTES = r"""), grams AS (
                SELECT doc_id, i - 1 AS pos,
                       array_to_string(w[i:i+9], ' ') AS gram
                FROM words, unnest(generate_series(1, len(w) - 9)) AS t(i)
            ), marked AS (
                SELECT doc_id, pos,
                       COUNT(*) OVER (PARTITION BY gram) AS occ
                FROM grams QUALIFY occ >= 2
            ), isl AS (
                SELECT doc_id, pos,
                       MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_end
                FROM marked
            ), isl2 AS (
                SELECT doc_id, pos,
                       SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM isl
            ), spans AS (
                SELECT doc_id, island, MIN(pos) AS s, MAX(pos + 10) AS e
                FROM isl2 GROUP BY doc_id, island"""


# Banded-minhash DuckDB twin of dedup._minhash_band_membership (word
# 3-shingles, k=8 seeded-md5 minhashes, 4 bands of 2), spliced into
# every MinHash oracle: the signature CTEs (words -> sh -> mh) and the
# bands CTE.
_MINHASH_SIG_CTES = """words AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       unnest([w[i]||' '||w[i+1]||' '||w[i+2]
                               for i in generate_series(1, len(w)-2)]) AS shingle
                FROM words
            ), mh AS (
                SELECT doc_id,
                       MIN(('0x'||substr(md5(shingle||':0'),1,15))::BIGINT) AS mh0,
                       MIN(('0x'||substr(md5(shingle||':1'),1,15))::BIGINT) AS mh1,
                       MIN(('0x'||substr(md5(shingle||':2'),1,15))::BIGINT) AS mh2,
                       MIN(('0x'||substr(md5(shingle||':3'),1,15))::BIGINT) AS mh3,
                       MIN(('0x'||substr(md5(shingle||':4'),1,15))::BIGINT) AS mh4,
                       MIN(('0x'||substr(md5(shingle||':5'),1,15))::BIGINT) AS mh5,
                       MIN(('0x'||substr(md5(shingle||':6'),1,15))::BIGINT) AS mh6,
                       MIN(('0x'||substr(md5(shingle||':7'),1,15))::BIGINT) AS mh7
                FROM sh GROUP BY doc_id
            )"""
_MINHASH_BANDS_CTE = """, bands AS (
                SELECT doc_id, 0 AS band, mh0::VARCHAR||'_'||mh1::VARCHAR AS sig FROM mh
                UNION ALL
                SELECT doc_id, 1, mh2::VARCHAR||'_'||mh3::VARCHAR FROM mh
                UNION ALL
                SELECT doc_id, 2, mh4::VARCHAR||'_'||mh5::VARCHAR FROM mh
                UNION ALL
                SELECT doc_id, 3, mh6::VARCHAR||'_'||mh7::VARCHAR FROM mh
            )"""


# Banded-minhash candidate-pair SQL (bucket cap 1000) — the DuckDB twin
# of minhash_lsh_candidates. Shared verbatim by the candidate query's
# oracle and the verification query's oracle so the two stay in
# lockstep by construction.
_MINHASH_CAND_SQL = (
    "\n            WITH "
    + _MINHASH_SIG_CTES
    + _MINHASH_BANDS_CTE
    + """, kept AS (
                -- degenerate-bucket cap (max_bucket_size=1000), as Spark
                SELECT doc_id, band, sig,
                       COUNT(*) OVER (PARTITION BY band, sig) AS bsz
                FROM bands QUALIFY bsz <= 1000
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""
)


@oracle("""
            SELECT md5(text) AS text_hash,
                   MIN(doc_id) AS canonical_doc_id,
                   COUNT(*) AS group_size
            FROM documents
            GROUP BY md5(text)
            ORDER BY canonical_doc_id
        """)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-keyed groups, canonical = min doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .orderBy("canonical_doc_id")
    )


@oracle("""
            WITH words AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                FROM documents
            ), sh_all AS (
                SELECT DISTINCT doc_id,
                       unnest([w[i]||' '||w[i+1]||' '||w[i+2]
                               for i in generate_series(1, len(w)-2)]) AS shingle
                FROM words
            ), sh AS (
                -- stop-shingle cap (max_doc_freq=100), same as Spark side
                SELECT * FROM sh_all
                WHERE shingle NOT IN (
                    SELECT shingle FROM sh_all GROUP BY shingle
                    HAVING COUNT(*) > 100
                )
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(c::DOUBLE / (sa.n + sb.n - c), 4) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.6
            ORDER BY doc_a, doc_b
        """)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.6) with the
    scale guard on: shingles in >100 docs are dropped from the join and
    the set sizes (stop-shingle cap — bounds the self-join at web scale;
    the oracle applies the identical cap)."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, n=3, threshold=0.6, max_doc_freq=100
    ).orderBy("doc_a", "doc_b")


@oracle(
    _MINHASH_CAND_SQL
    + "\n            ORDER BY doc_a, doc_b"
)
def minhash_lsh_candidates_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-minhash candidate pairs (k=8, 4 bands of 2), join-free with
    the degenerate-bucket guard on (cap 1000; oracle applies the same)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs, n=3, k=8, bands=4, max_bucket_size=1000
    ).orderBy("doc_a", "doc_b")


@oracle(verify_oracle_sql(_MINHASH_CAND_SQL, "documents", 500, 0.5))
def verified_near_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates CONFIRMED by an exact string metric — the full
    probabilistic-then-exact dedup loop (operators/dedup.py
    verify_candidate_pairs): banded-minhash candidate pairs, then
    Levenshtein similarity >= 0.5 on 500-char prefixes. Only the
    byte-capped prefixes ride the pair join; the Levenshtein is JVM
    codegen. Oracle = the shared minhash CTE chain + the identical
    prefix-similarity filter (dedup.verify_oracle_sql)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, n=3, k=8, bands=4, max_bucket_size=1000)
    return verify_candidate_pairs(
        docs, pairs, prefix_len=500, min_sim=0.5
    ).orderBy("doc_a", "doc_b")


# same pair CTEs as minhash_lsh_candidates_documents, then the
# transitive closure as a recursive CTE: walk(node, lbl) holds
# (n, c) iff c reaches n over symmetrized pair edges, so
# MIN(lbl) per node is the component minimum — exactly what the
# Spark alternating-star operator assigns.
@oracle(
    """
            WITH RECURSIVE """
    + _MINHASH_SIG_CTES
    + _MINHASH_BANDS_CTE
    + """, kept AS (
                SELECT doc_id, band, sig,
                       COUNT(*) OVER (PARTITION BY band, sig) AS bsz
                FROM bands QUALIFY bsz <= 1000
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM kept a JOIN kept b
                  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            ), edges AS (
                SELECT doc_a AS s, doc_b AS d FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs
            ), walk(node, lbl) AS (
                SELECT s, s FROM edges
                UNION
                SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
            ), comp AS (
                SELECT node, MIN(lbl) AS component FROM walk GROUP BY node
            )
            SELECT component, COUNT(*) AS n_docs,
                   COUNT(*) - 1 AS n_dropped
            FROM comp GROUP BY component ORDER BY component
        """
)
def dedup_cc_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup CLUSTERS: transitive closure of the minhash-LSH
    candidate pairs via alternating large-star/small-star connected
    components (operators/components.py — O(log^2 n) equi-join rounds,
    no driver-side graph), summarized per cluster as (canonical kept
    doc = component min, member count, docs dropped). The DuckDB twin
    closes the identical pair SQL with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, n=3, k=8, bands=4, max_bucket_size=1000)
    return dedup_clusters(pairs).orderBy("component")


# same pair CTEs closed recursively as dedup_cc_clusters, then
# the per-cluster argmax(n_chars, tie -> min doc_id) kept
@oracle(f"""
            WITH RECURSIVE pairs AS (
                SELECT * FROM ({_MINHASH_CAND_SQL})
            ), edges AS (
                SELECT doc_a AS s, doc_b AS d FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs
            ), walk(node, lbl) AS (
                SELECT s, s FROM edges
                UNION
                SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
            ), comp AS (
                SELECT node, MIN(lbl) AS component FROM walk GROUP BY node
            ), members AS (
                SELECT c.component, d.doc_id, d.n_chars
                FROM comp c JOIN documents d ON d.doc_id = c.node
            ), best AS (
                SELECT component, doc_id AS keep
                FROM members
                QUALIFY row_number() OVER (PARTITION BY component
                                           ORDER BY n_chars DESC,
                                                    doc_id) = 1
            ), dropped AS (
                SELECT m.doc_id FROM members m
                JOIN best b USING (component)
                WHERE m.doc_id != b.keep
            )
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
            ORDER BY doc_id
        """)
def dedup_keep_best_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy dedup (operators/components.py
    keep_best_per_cluster): same minhash-LSH pairs + connected
    components as dedup_cc_clusters, but the kept canonical per cluster
    is the LONGEST member (n_chars as the quality proxy; tie -> min
    doc_id) via a map-side-combined max_by aggregate — no per-cluster
    window. The twin closes the identical pair SQL recursively and
    picks the same argmax."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, n=3, k=8, bands=4, max_bucket_size=1000)
    kept = keep_best_per_cluster(docs, pairs, "n_chars", id_col="doc_id")
    return kept.select("doc_id", "n_chars").orderBy("doc_id")


@oracle(
    lambda: """
            WITH """
    + _MINHASH_SIG_CTES
    + """, bands AS (
                SELECT doc_id, 0 AS band, mh0::VARCHAR||'_'||mh1::VARCHAR AS sig FROM mh
                UNION ALL SELECT doc_id, 1, mh2::VARCHAR||'_'||mh3::VARCHAR FROM mh
                UNION ALL SELECT doc_id, 2, mh4::VARCHAR||'_'||mh5::VARCHAR FROM mh
                UNION ALL SELECT doc_id, 3, mh6::VARCHAR||'_'||mh7::VARCHAR FROM mh
            ), hot_buckets AS (
                SELECT COUNT(*) AS m FROM bands GROUP BY band, sig
                HAVING COUNT(*) > 2
            ), hot_shingles AS (
                SELECT COUNT(*) AS df FROM sh GROUP BY shingle
                HAVING COUNT(*) > 3
            )
            SELECT 'jaccard_doc_freq_cap_3' AS guard,
                   COUNT(*) AS n_groups_dropped,
                   CAST(COALESCE(SUM(df), 0) AS BIGINT)
                       AS n_memberships_dropped,
                   CAST(COALESCE(SUM(df * (df - 1) / 2), 0) AS BIGINT)
                       AS n_pairs_dropped
            FROM hot_shingles
            UNION ALL
            SELECT 'minhash_bucket_cap_2',
                   COUNT(*),
                   CAST(COALESCE(SUM(m), 0) AS BIGINT),
                   CAST(COALESCE(SUM(m * (m - 1) / 2), 0) AS BIGINT)
            FROM hot_buckets
            UNION ALL
        """
    # the semantic guard runs over the synthetic embedding corpus and
    # its centroid sampling is not SQL-expressible: that arm is
    # golden-pinned from a committed fixture (same policy as
    # semantic_dedup_documents)
    + _golden_union_arm(
        "semantic_guard_golden.json",
        [
            ("guard", "VARCHAR"),
            ("n_groups_dropped", "BIGINT"),
            ("n_memberships_dropped", "BIGINT"),
            ("n_pairs_dropped", "BIGINT"),
        ],
    )
    + """
            ORDER BY guard
        """
)
def dedup_cap_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-audit side table for the dedup guards: what did
    max_bucket_size / max_doc_freq silently discard? One row per guard
    with the dropped group / membership / pair counts — at 100 TB these
    caps WILL fire (boilerplate signatures, stop-shingles, degenerate
    embedding clusters), and an operator must be able to see the
    discarded volume instead of trusting silence. Tight audit caps
    (2 / 3 / 45) are used here so the guards actually trigger on the
    test corpora (production caps 1000 / 100 / 100k drop nothing at
    this scale — probed, max bucket=3, max df=7, max cluster=54). The
    semantic guard runs over the same deterministic synthetic embedding
    corpus as semantic_dedup_documents (its row is golden-pinned in the
    oracle: the centroid sampling is not SQL-expressible)."""
    docs = _t(spark, sf_dir, "documents")
    mh = minhash_lsh_dropped_buckets(docs, max_bucket_size=2).select(
        F.lit("minhash_bucket_cap_2").alias("guard"),
        F.col("n_buckets_dropped").alias("n_groups_dropped"),
        "n_memberships_dropped",
        "n_pairs_dropped",
    )
    jc = ngram_jaccard_dropped_shingles(docs, max_doc_freq=3).select(
        F.lit("jaccard_doc_freq_cap_3").alias("guard"),
        F.col("n_shingles_dropped").alias("n_groups_dropped"),
        "n_memberships_dropped",
        "n_pairs_dropped",
    )
    emb = synthesize_embeddings(
        spark, n_base=300, n_clones=60, dim=64, seed=7, partitions=8
    )
    sem = semantic_dedup_dropped_clusters(
        emb, n_clusters=8, max_cluster_size=45
    ).select(
        F.lit("semantic_cluster_cap_45").alias("guard"),
        F.col("n_clusters_dropped").alias("n_groups_dropped"),
        "n_memberships_dropped",
        "n_pairs_dropped",
    )
    return mh.unionByName(jc).unionByName(sem).orderBy("guard")


# gram identity: Spark groups xxhash64(gram), the twin groups
# the gram string — identical modulo 64-bit collisions (see
# operators/curation.py docstring for the probability math)
@oracle(
    r"""
            WITH words AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS w
                FROM documents
            """
    + _DUP_SPAN_CTES
    + r"""
            )
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_dup_spans,
                   SUM(e - s)::BIGINT AS n_dup_tokens,
                   MAX(e - s)::BIGINT AS max_span_tokens
            FROM spans GROUP BY doc_id ORDER BY doc_id
        """
)
def dup_span_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans (Lee et al. suffix-array dedup,
    k-gram form): token-10-gram windows occurring >1x corpus-wide,
    merged into maximal per-doc spans (operators/curation.py). Output:
    per-doc span count / duplicated-token count / longest span."""
    docs = _t(spark, sf_dir, "documents")
    return dup_span_stats(docs, k=10, min_occ=2).orderBy("doc_id")


# twin of remove_dup_spans_documents: same span chain as
# dup_span_stats, then per-doc drop-position list + indexed
# list-comprehension rewrite (O(n*d) membership is fine at
# sf0.01). Affected docs rebuild from ORIGINAL-case words;
# untouched docs keep their text byte-identical.
@oracle(
    r"""
            WITH words AS (
                SELECT doc_id, text,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS w,
                       regexp_split_to_array(trim(text), '\s+') AS ow
                FROM documents
            """
    + _DUP_SPAN_CTES
    + r"""
            ), drops AS (
                -- spans are disjoint per doc, so COUNT(*) over the
                -- exploded positions is exactly SUM(e - s)
                SELECT doc_id,
                       list(i ORDER BY i) AS dps,
                       COUNT(*)::INT AS n_removed
                FROM (SELECT doc_id, s, e FROM spans) sp,
                     unnest(generate_series(sp.s, sp.e - 1)) AS g(i)
                GROUP BY doc_id
            )
            SELECT w.doc_id,
                   len(w.ow)::INT AS n_words,
                   COALESCE(d.n_removed, 0) AS n_words_removed,
                   -- COALESCE: DuckDB's array_to_string([]) is NULL,
                   -- a fully-removed doc must hash '' like Spark
                   md5(CASE WHEN d.n_removed IS NULL THEN w.text
                            ELSE COALESCE(array_to_string(
                                [w.ow[i + 1]
                                 for i in generate_series(0, len(w.ow) - 1)
                                 if NOT list_contains(d.dps, i)], ' '), '')
                       END) AS cleaned_md5
            FROM words w LEFT JOIN drops d USING (doc_id)
            ORDER BY w.doc_id
        """
)
def remove_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring REMOVAL (Lee et al. ExactSubstr rewrite,
    k-gram form; operators/curation.py remove_dup_spans): every maximal
    duplicated token-10-gram span is cut from every doc containing one;
    affected docs rebuild as space-joined kept words, untouched docs
    pass through byte-identical. Output: per-doc word count, removed
    count, md5 of the rewritten text — the oracle twin recomputes the
    FULL span-merge + rewrite in SQL, so the digests pin the rebuilt
    bytes, not just the counts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        remove_dup_spans(docs, k=10, min_occ=2)
        .select(
            "doc_id",
            "n_words",
            "n_words_removed",
            F.md5("cleaned_text").alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# Spark joins on xxhash64(gram), the twin on the gram string —
# identical modulo 64-bit collisions (curation.py docstring)
@oracle(r"""
            WITH words AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS w
                FROM documents
            ), grams AS (
                SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
                FROM words, unnest(generate_series(1, len(w) - 7)) AS t(i)
            ), ev AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0
            ), corpus AS (
                SELECT doc_id, gram FROM grams WHERE doc_id % 7 != 0
            )
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_contaminated_grams,
                   COUNT(DISTINCT gram)::BIGINT AS n_distinct_eval_grams_hit
            FROM corpus JOIN ev USING (gram)
            GROUP BY doc_id ORDER BY doc_id
        """)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): corpus
    docs sharing any word-8-gram with the held-out eval slice
    (doc_id % 7 == 0 — a deterministic stand-in for a benchmark set).
    The eval gram set broadcasts; the corpus side never shuffles its
    grams (operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return decontaminate_flags(corpus, ev, n=8).orderBy("doc_id")


# same banded-minhash CTEs as minhash_lsh_candidates_documents,
# split corpus (even ids) vs eval (odd ids) and joined across —
# no pair emission, so no bucket cap appears on either side
@oracle(
    """
            WITH """
    + _MINHASH_SIG_CTES
    + _MINHASH_BANDS_CTE
    + """, corpus AS (
                SELECT doc_id, band, sig FROM bands WHERE doc_id % 2 = 0
            ), ev AS (
                SELECT DISTINCT doc_id AS eval_id, band, sig
                FROM bands WHERE doc_id % 2 = 1
            )
            SELECT c.doc_id,
                   COUNT(DISTINCT e.eval_id) AS n_eval_docs_hit,
                   COUNT(DISTINCT c.band) AS n_bands_hit
            FROM corpus c
            JOIN ev e ON c.band = e.band AND c.sig = e.sig
            GROUP BY c.doc_id
            ORDER BY c.doc_id
        """
)
def fuzzy_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination (MinHash-LSH corpus-vs-eval): corpus docs
    (even ids) sharing any full band signature with an eval doc (odd
    ids — the parity split crosses the generator's near-dup templates,
    so paraphrase-level contamination exists). The eval membership
    broadcasts; no bucket self-join, no pair emission
    (operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return fuzzy_decontaminate_flags(corpus, ev, n=3, k=8, bands=4).orderBy(
        "doc_id"
    )


# chrome construction + keep-first-occurrence replicated with a
# positional explode; Spark's array_distinct preserves
# first-occurrence order, so rn=1 rows joined in pos order
# rebuild the identical cleaned text
@oracle("""
            WITH built AS (
                SELECT doc_id,
                       'nav home about'||chr(10)||text||chr(10)
                       ||'nav home about'||chr(10)
                       ||'page '||(doc_id % 5)::VARCHAR
                       ||CASE WHEN doc_id % 2 = 0
                              THEN chr(10)||'page '||(doc_id % 5)::VARCHAR
                              ELSE '' END AS t
                FROM documents
            ), arrs AS (
                SELECT doc_id, string_split(t, chr(10)) AS a FROM built
            ), lines AS (
                SELECT doc_id, i AS pos, a[i] AS line
                FROM arrs, unnest(generate_series(1, len(a))) AS g(i)
            ), ranked AS (
                SELECT doc_id, pos, line,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id, line ORDER BY pos
                       ) AS rn,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_all
                FROM lines
            )
            SELECT doc_id,
                   CAST(MAX(n_all) AS INT) AS n_lines,
                   CAST(MAX(n_all) - COUNT(*) FILTER (rn = 1) AS INT)
                       AS n_lines_removed,
                   md5(CASE WHEN MAX(n_all) = COUNT(*) FILTER (rn = 1)
                            THEN MAX(t)
                            ELSE string_agg(line, chr(10) ORDER BY pos)
                                 FILTER (rn = 1) END) AS cleaned_md5
            FROM ranked JOIN built USING (doc_id)
            GROUP BY doc_id
            ORDER BY doc_id
        """)
def within_doc_line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-doc duplicated-line removal (C4 page-local boilerplate):
    each doc is wrapped in deterministic chrome — a nav header that
    repeats after the body, and a pager line doubled on even ids — and
    the pass keeps first occurrences only. Pure map-side array_distinct,
    zero shuffle (operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    pg = F.concat(F.lit("page "), (F.col("doc_id") % 5).cast("string"))
    built = docs.withColumn(
        "text",
        F.concat(
            F.lit("nav home about\n"),
            F.col("text"),
            F.lit("\nnav home about\n"),
            pg,
            F.when(
                F.col("doc_id") % 2 == 0, F.concat(F.lit("\n"), pg)
            ).otherwise(F.lit("")),
        ),
    )
    out = within_doc_line_dedup(built)
    return out.select(
        "doc_id",
        "n_lines",
        "n_lines_removed",
        F.md5("cleaned_text").alias("cleaned_md5"),
    ).orderBy("doc_id")


@oracle(
    """
            WITH """
    + _MINHASH_SIG_CTES
    + _MINHASH_BANDS_CTE
    + """, newm AS (
                SELECT * FROM bands WHERE doc_id % 2 = 1
            ), oldm AS (
                SELECT * FROM bands WHERE doc_id % 2 = 0
            ), newk AS (
                -- within-batch cap: NEW bucket size only (the batch is
                -- small; the store cap is separate), as Spark
                SELECT doc_id, band, sig,
                       COUNT(*) OVER (PARTITION BY band, sig) AS bsz
                FROM newm QUALIFY bsz <= 1000
            ), oldk AS (
                -- store cap: signatures with >cap STORE members drop
                SELECT doc_id, band, sig,
                       COUNT(*) OVER (PARTITION BY band, sig) AS bsz
                FROM oldm QUALIFY bsz <= 1000
            )
            SELECT DISTINCT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM newk a JOIN newk b
                  ON a.band = b.band AND a.sig = b.sig
                     AND a.doc_id < b.doc_id
                UNION ALL
                SELECT LEAST(n.doc_id, o.doc_id),
                       GREATEST(n.doc_id, o.doc_id)
                FROM newm n JOIN oldk o
                  ON n.band = o.band AND n.sig = o.sig
            )
            ORDER BY doc_a, doc_b
        """
)
def minhash_incremental_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH (operators/dedup.py
    minhash_lsh_candidates_incremental): even-id docs play the prior
    snapshot (their persisted band membership is 'the store'), odd-id
    docs the new batch — emitted candidates are exactly the one-shot
    operator's pairs involving >=1 new doc (within-batch via the
    join-free bucket chain, cross-snapshot via the (band, sig)
    equi-join against the store)."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    store = _minhash_band_membership(old, 3, 8, 4, "text", "doc_id")
    cand, _ = minhash_lsh_candidates_incremental(
        new, store, max_bucket_size=1000
    )
    return cand.orderBy("doc_a", "doc_b")


@oracle("""
            WITH hashed AS (
                SELECT doc_id, md5(text) AS content_md5 FROM documents
            ), canon AS (
                SELECT content_md5, MIN(doc_id) AS doc_id
                FROM hashed GROUP BY content_md5
            ), seen AS (
                SELECT DISTINCT md5(text) AS content_md5
                FROM documents WHERE doc_id % 2 = 0
            )
            SELECT c.doc_id, c.content_md5
            FROM canon c
            WHERE NOT EXISTS (SELECT 1 FROM seen s
                              WHERE s.content_md5 = c.content_md5)
            ORDER BY doc_id
        """)
def dedup_incremental_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/dedup.py
    exact_dedup_incremental): the even-id docs play the already-
    processed corpus (their md5s are 'the store'), the full table plays
    the new crawl batch — kept rows are batch-canonical docs whose
    content hash the store has never seen. The production shape at
    10^12 docs: snapshot N+1 anti-joins the stored hash table instead
    of re-deduping the world."""
    docs = _t(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("content_md5")
    ).distinct()
    kept, _ = exact_dedup_incremental(docs, seen)
    return kept.select("doc_id", "content_md5").orderBy("doc_id")


# line identity: Spark groups xxhash64(line), the twin groups
# the line string (dup_span's stated convention)
@oracle(r"""
            WITH d AS (
                SELECT doc_id,
                       text || chr(10) ||
                       CASE WHEN doc_id % 2 = 0
                            THEN 'subscribe to our newsletter'
                            ELSE 'all rights reserved' END AS t
                FROM documents
            ), sp AS (
                SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
            ), l AS (
                SELECT doc_id,
                       unnest([{'pos': i - 1, 'ln': ls[i]}
                               for i in generate_series(1, len(ls))],
                              recursive := true)
                FROM sp
            ), hot AS (
                SELECT ln FROM l GROUP BY ln HAVING COUNT(*) >= 2
            )
            SELECT l.doc_id,
                   COUNT(*)::INT AS n_lines,
                   COUNT(hot.ln)::INT AS n_lines_removed,
                   md5(COALESCE(string_agg(
                       CASE WHEN hot.ln IS NULL THEN l.ln END,
                       chr(10) ORDER BY l.pos), '')) AS cleaned_md5
            FROM l LEFT JOIN hot ON l.ln = hot.ln
            GROUP BY l.doc_id ORDER BY l.doc_id
        """)
def line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-line removal (RefinedWeb boilerplate
    pass, operators/curation.py line_dedup): every doc gets a
    deterministic boilerplate footer line (two variants by doc_id
    parity — the corpus' own bag-of-words lines are all unique, so the
    footer is what makes the pass fire like real web boilerplate does);
    any line occurring >=2 times corpus-wide is removed from every doc,
    the unique content lines pass through byte-identical. Output:
    per-doc line counts + md5 of the cleaned text."""
    footer = F.when(
        F.col("doc_id") % 2 == 0, F.lit("subscribe to our newsletter")
    ).otherwise(F.lit("all rights reserved"))
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.concat("text", F.lit("\n"), footer)
    )
    out = line_dedup(docs, min_dup=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_lines_removed",
        F.md5("cleaned_text").alias("cleaned_md5"),
    ).orderBy("doc_id")


@oracle(simhash_oracle_sql("documents", max_hamming=3, max_bucket_size=1000))
def simhash_near_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidates verified by exact Hamming distance (<=3),
    join-free, one signature-UDF pass, bucket cap 1000 (oracle matches)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dups(
        docs, max_hamming=3, max_bucket_size=1000
    ).orderBy("doc_a", "doc_b")


@oracle(winnowing_oracle_sql("documents"))
def winnowing_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing sketch exploded to (doc_id, fingerprint) rows — DuckDB
    replicates the k-gram hashing and window-min exactly."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(winnowing_fingerprints_udf()(F.col("text"))).alias("fingerprint"),
        )
        .orderBy("doc_id", "fingerprint")
    )


@oracle(bloom_oracle_sql("documents", "doc_id < 250", m_bits=2048, k=3))
def bloom_membership_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate (operators/membership.py): build the
    bitmap from the first half of the corpus, probe every doc.  m=2048
    is deliberately undersized so the oracle also value-checks the
    false-POSITIVE path, not just the no-false-negative invariant (at
    sf0.01 that is ~7 FP rows whose exact identity both engines must
    agree on bit-for-bit).  Build: one bit_or groupBy of longs; probe:
    broadcast single-row bitmap map + forall lambda — no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    bloom = bloom_build(docs.where("doc_id < 250"), "text", m_bits=2048, k=3)
    return (
        bloom_maybe_seen(docs, bloom, "text", m_bits=2048, k=3)
        .select("doc_id", "maybe_seen")
        .orderBy("doc_id")
    )
