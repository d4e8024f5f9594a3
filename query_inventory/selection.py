"""Scoring and selection queries over ``documents``: DSIR, classifiers
(NB, logistic regression) and their calibration, n-gram LM perplexity,
BM25 search, sampling, splits, sharding, domain caps and mixture
weights.

Each query's DuckDB twin is the ``@oracle`` SQL right above it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.functions.perplexity import (
    lm_train_tables,
    perplexity_with_tables,
)
from deidentify_spark.operators.classifier import (
    logreg_oracle_sql,
    logreg_score,
    logreg_train,
    nb_oracle_sql,
    nb_score,
    nb_train,
)
from deidentify_spark.operators.curation import (
    domain_cap,
    group_disjoint_split,
    mixture_weights,
    rebalance_mixture,
    sample_exact_k,
    sample_weighted_exact_k,
    stratified_sample,
)
from deidentify_spark.operators.dsir import dsir_oracle_sql, dsir_select
from deidentify_spark.operators.lm import kn_oracle_sql, kn_perplexity
from deidentify_spark.operators.scan import (
    auc_oracle_sql,
    calibration_oracle_sql,
    rank_auc,
    score_calibration,
)
from deidentify_spark.operators.search import (
    bm25_multi_oracle_sql,
    bm25_oracle_sql,
    bm25_topk,
    bm25_topk_multi,
)
from deidentify_spark.operators.sharding import assign_shards, shards_oracle_sql
from query_inventory._base import _golden_values_sql, _t, oracle


@oracle(
    dsir_oracle_sql(
        "documents",
        "lang = 'en' AND source IN ('src1', 'src2', 'src3')",
        k=100,
        seed=0,
    )
)
def dsir_selection_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023; operators/dsir.py):
    score every doc with the hashed-uni+bigram log-likelihood ratio of a
    target-domain model (en docs from src1-3) vs the raw-corpus model,
    then mark the Gumbel-top-100 weighted sample — distributed weighted
    sampling WITHOUT replacement, hash-seeded so the oracle twin
    replays the exact same draw. One feature aggregation + one
    broadcast-scored groupBy(id); threshold via TakeOrdered top-k."""
    docs = _t(spark, sf_dir, "documents")
    flagged = docs.withColumn(
        "_is_target",
        (F.col("lang") == "en") & F.col("source").isin("src1", "src2", "src3"),
    )
    return (
        dsir_select(flagged, "_is_target", k=100, seed=0)
        .select(
            "doc_id",
            F.round("dsir_logw", 4).alias("dsir_logw"),
            "dsir_selected",
        )
        .orderBy("doc_id")
    )


@oracle(
    auc_oracle_sql(
        "SELECT d.lang, s.nb_score FROM documents d JOIN ("
        + nb_oracle_sql("documents", "doc_id < 250", "lang = 'en'")
        + ") s USING (doc_id)",
        label_expr="lang = 'en'",
        score_expr="nb_score",
    )
)
def quality_auc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC (operators/scan.py rank_auc: grouped
    Mann-Whitney over a quantile-bucketed prefix scan — no
    single-partition window at any size) of the NB quality classifier's
    score against the language label, same train split as
    nb_classifier_documents. The oracle twin recomputes the ENTIRE
    train+score+AUC chain in SQL."""
    docs = _t(spark, sf_dir, "documents")
    docs_l = docs.withColumn("is_en", F.col("lang") == "en")
    w, b = nb_train(docs_l.where("doc_id < 250"), "is_en")
    scored = nb_score(docs_l, w, b).withColumn(
        "nb_score_r", F.round("nb_score", 4)
    )
    return rank_auc(scored, "is_en", "nb_score_r").select(
        F.round("auc", 6).alias("auc")
    )


@oracle(
    calibration_oracle_sql(
        "SELECT d.lang, s.nb_score FROM documents d JOIN ("
        + nb_oracle_sql("documents", "doc_id < 250", "lang = 'en'")
        + ") s USING (doc_id)",
        label_expr="lang = 'en'",
        score_expr="ROUND(nb_score, 4)",
        n_bins=10,
    )
)
def nb_calibration_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table (operators/scan.py score_calibration) of the NB
    quality classifier's score vs the language label — the calibration
    companion to quality_auc_documents (same train split): 10 fixed-width
    score bins with exact integer pos counts. Order-independent outputs
    only (counts + min/max), bit-stable across engines; the oracle twin
    recomputes the ENTIRE train+score+bin chain in SQL."""
    docs = _t(spark, sf_dir, "documents")
    docs_l = docs.withColumn("is_en", F.col("lang") == "en")
    w, b = nb_train(docs_l.where("doc_id < 250"), "is_en")
    scored = nb_score(docs_l, w, b).withColumn(
        "nb_score_r", F.round("nb_score", 4)
    )
    return score_calibration(scored, "is_en", "nb_score_r", n_bins=10).orderBy(
        "bin"
    )


@oracle(kn_oracle_sql("documents", "doc_id < 250", discount=0.75, round_to=4))
def kn_perplexity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity, trained AND scored in
    the engine (operators/lm.py — the KenLM-standard smoothing CCNet
    uses for its quality LM, vs lm_perplexity_documents' add-alpha
    hashed twin): fit on docs with doc_id < 250, score every doc with
    >= 1 bigram via three model-table equi-joins + one broadcast scalar
    row. The DuckDB oracle replays the ENTIRE chain — counts,
    discounting, continuation smoothing, OOV backoff — in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return kn_perplexity(
        docs, docs.where("doc_id < 250"), discount=0.75, round_to=4
    ).orderBy("doc_id")


@oracle(
    lambda: _golden_values_sql(
        "lm_perplexity_golden.json",
        [("doc_id", "BIGINT"), ("lm_ppl", "DOUBLE")],
    )
)
def lm_perplexity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine LM training + scoring (functions/perplexity.py
    lm_train_tables — the CCNet posture): fit the hashed bigram LM on
    the even-id half of the corpus, score EVERY doc against it with a
    vectorized Arrow UDF. Training is a map-side-combined (kind, slot)
    count with an O(table) driver collect; scoring is one Arrow pass.
    Deterministic (integer counts + fixed per-doc accumulation order);
    oracle is a frozen golden (crc32 hashing is not expressible in
    DuckDB — same class as the langid/ANN goldens)."""
    from pyspark.sql.types import DoubleType

    docs = _t(spark, sf_dir, "documents")
    uni, bi = lm_train_tables(docs.where(F.col("doc_id") % 2 == 0))

    @F.pandas_udf(DoubleType())
    def score(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None
            if t is None
            else perplexity_with_tables(t, uni, bi)
        )

    return docs.select(
        "doc_id", F.round(score("text"), 4).alias("lm_ppl")
    ).orderBy("doc_id")


@oracle(shards_oracle_sql("documents", n_shards=8, seed=42))
def shard_assignment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment (operators/sharding.py):
    hash-seeded corpus shuffle into 8 shards + within-shard position —
    the replayable terminal sharding step of a training-data pipeline.
    Map-only shard key (uniform by md5), one shard shuffle for the
    position window."""
    docs = _t(spark, sf_dir, "documents")
    return (
        assign_shards(docs, n_shards=8, seed=42)
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")
    )


@oracle(bm25_oracle_sql("documents", ["hash", "join", "vector"], k=15))
def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 keyword retrieval (Robertson & Zaragoza 2009, Lucene
    idf; operators/search.py) for the query {hash, join, vector} — the
    lexical audit-search companion to the embedding ANN queries. Plan:
    explode->filter to the 3 query terms immediately, one (doc,term,tf)
    shuffle, broadcast idf + corpus stats, TakeOrdered top-k."""
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "join", "vector"], k=15)


BM25_MULTI_QUERIES = {
    "q_hash": ["hash", "table"],
    "q_join": ["join", "merge"],
    "q_vector": ["vector", "cosine", "index"],
}


@oracle(bm25_multi_oracle_sql("documents", BM25_MULTI_QUERIES, k=10))
def bm25_multi_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 (operators/search.py bm25_topk_multi): three queries'
    top-10 from ONE corpus pass — the tf aggregate materializes once
    for all queries, the (query_id, term) table broadcasts, and the
    per-query top-k is the salted two-level ranking (no hot-query
    single-task window). The audit-search workload shape: hundreds of
    queries against one persisted scan instead of hundreds of scans."""
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk_multi(docs, BM25_MULTI_QUERIES, k=10)


@oracle("""
            SELECT doc_id, source
            FROM documents
            WHERE (('0x'||substr(md5('42:'||doc_id::VARCHAR),1,8))::BIGINT)
                      ::DOUBLE / 4294967296.0
                  < CASE WHEN source IN ('src0','src1','src2')
                         THEN 0.8 ELSE 0.25 END
            ORDER BY doc_id
        """)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing sample: keep 80% of src0-2, 25% of the
    rest, decided by u32(md5(seed:doc_id)) — a zero-shuffle map-only
    filter, reproducible across retries/cluster sizes (the resume-safe
    sampling primitive; operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs,
        rates={"src0": 0.8, "src1": 0.8, "src2": 0.8},
        default_rate=0.25,
        seed=42,
    )
    return kept.select("doc_id", "source").orderBy("doc_id")


@oracle("""
            SELECT doc_id, source
            FROM documents
            ORDER BY md5('42:'||doc_id::VARCHAR), doc_id
            LIMIT 40
        """)
def exact_k_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-40 global sample by md5(seed:id) rank — the
    eval-carve-out primitive (TakeOrderedAndProject: per-partition
    heaps, no global sort; operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    return sample_exact_k(docs, k=40, seed=42).select(
        "doc_id", "source"
    )


@oracle("""
            WITH d AS (
                SELECT 'h' || (doc_id % 37)::VARCHAR AS host FROM documents
            ), s AS (
                SELECT host,
                       CASE WHEN ((('0x'||substr(md5('split:5:'||host),1,15))::BIGINT
                                   % 1099511627776) + 0.5) / 1099511627776.0 < 0.25
                            THEN 'test' ELSE 'train' END AS split
                FROM d
            )
            SELECT host, split, COUNT(*) AS n_docs
            FROM s GROUP BY host, split
            ORDER BY host, split
        """)
def group_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUP-DISJOINT train/test split
    (operators/curation.py group_disjoint_split): every document of a
    host lands in the same split — assignment is a pure map-side
    function of (seed, host), zero shuffles before the verification
    rollup. Hosts derived deterministically (doc_id % 37) so both
    engines see the identical grouping; output (host, split, n_docs)
    proves disjointness — one row per host."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string"))
    )
    return (
        group_disjoint_split(docs, "host", test_frac=0.25, seed=5)
        .groupBy("host", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("host", "split")
    )


# identical Gumbel key construction as dsir_selection's oracle
# (hash60 -> uniform -> -ln(-ln(u))), with logw = ln(n_chars)
@oracle("""
            SELECT doc_id, n_chars
            FROM documents
            WHERE n_chars > 0
            ORDER BY ln(n_chars)
                     + (-ln(-ln(((('0x'||substr(md5('gumbel:7:'||doc_id::VARCHAR),1,15))::BIGINT
                                  % 1099511627776) + 0.5) / 1099511627776.0)))
                     DESC, doc_id
            LIMIT 60
        """)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-60 WEIGHTED sample without replacement, P proportional to
    n_chars (Efraimidis-Spirakis via hash-seeded Gumbel top-k;
    operators/curation.py sample_weighted_exact_k). Deterministic in
    (seed, id, weight); TakeOrderedAndProject plan, no global sort. The
    oracle replays the identical Gumbel keys in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return sample_weighted_exact_k(docs, k=60, weight_col="n_chars", seed=7).select(
        "doc_id", "n_chars"
    )


# rate = (budget*target)/mass in the SAME double-op order as the
# Spark plan; mass sums integer-valued doubles (exact < 2^53),
# so the md5-threshold keep decision is bit-identical
@oracle("""
            WITH mass AS (
                SELECT lang, SUM(n_chars::DOUBLE) AS m
                FROM documents GROUP BY 1
            ), rates AS (
                SELECT lang,
                       LEAST(1.0, (80000.0 * CASE lang
                                   WHEN 'en' THEN 0.4
                                   WHEN 'de' THEN 0.3
                                   WHEN 'zh' THEN 0.3 END) / m) AS rate
                FROM mass
                WHERE lang IN ('en', 'de', 'zh')
            )
            SELECT doc_id, lang, n_chars
            FROM documents JOIN rates USING (lang)
            WHERE (('0x'||substr(md5('42:'||doc_id::VARCHAR),1,8)))
                      ::BIGINT::DOUBLE / 4294967296.0 < rate
            ORDER BY doc_id
        """)
def rebalance_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture rebalancing by CHAR MASS (operators/curation.py
    rebalance_mixture): sample the corpus so expected n_chars mass per
    lang is budget*target — the DoReMi/Pile domain-weight application
    step. Rates computed IN-PLAN from a groupBy(lang) mass aggregate
    joined back (O(n_strata) rows, AQE-broadcast); keep decision is the
    deterministic md5 threshold (replayable across retries/engines);
    strata absent from the target map are dropped (the mixture IS the
    whitelist). de/zh rates cap at 1.0, exercising the
    cannot-oversample contract."""
    docs = _t(spark, sf_dir, "documents")
    kept = rebalance_mixture(
        docs,
        targets={"en": 0.4, "de": 0.3, "zh": 0.3},
        budget=80000,
        strata_col="lang",
        weight_col="n_chars",
        id_col="doc_id",
        seed=42,
    )
    return kept.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@oracle("""
            SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('42:'||doc_id::VARCHAR), doc_id
                   ) AS INT) AS group_rank
            FROM documents
            QUALIFY group_rank <= 10
            ORDER BY source, group_rank
        """)
def domain_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (FineWeb 'no host dominates' pass): keep at most
    10 docs per source, deterministic md5 priority, two-phase bucketed
    ranking — never one sort task per host (operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    out = domain_cap(docs, max_per_group=10, seed=42, group_col="source")
    return out.select("doc_id", "source", "group_rank").orderBy(
        "source", "group_rank"
    )


@oracle("""
            WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
                 z AS (SELECT SUM(POW(n_docs, 0.5)) AS z FROM c)
            SELECT source, n_docs,
                   ROUND(POW(n_docs, 0.5) / z.z, 6) AS weight,
                   ROUND(LEAST(1.0, 300.0 * (POW(n_docs, 0.5) / z.z) / n_docs), 6) AS rate
            FROM c, z ORDER BY source
        """)
def mixture_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixing weights (operators/curation.py):
    per-source n_docs, normalized n^alpha weight, and the capped
    Bernoulli rate for a 300-doc target — the recipe that feeds
    stratified_sample.  One aggregate + broadcast scalar."""
    docs = _t(spark, sf_dir, "documents")
    return (
        mixture_weights(docs, alpha=0.5, target_total=300)
        .select(
            "source",
            "n_docs",
            F.round("weight", 6).alias("weight"),
            F.round("rate", 6).alias("rate"),
        )
        .orderBy("source")
    )


@oracle(nb_oracle_sql("documents", "doc_id < 250", "lang = 'en'"))
def nb_classifier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed trained-classifier operator (operators/classifier.py):
    multinomial NB over hashed word uni+bigrams, trained IN the query on
    the first half of the corpus (label: lang='en') and scored over all
    docs.  The DuckDB oracle replicates the entire train+score closed
    form — tokenization, hashing, Laplace weights, bias — so this value-
    checks distributed model TRAINING, not just scoring: all 500 scores
    must match to 4 decimals.  (The testdata lang tag is uncorrelated
    with its shared-vocabulary text, so the learned model correctly
    defaults to the prior — the oracle exercises the math; actual
    quality-classification performance on a learnable label is pinned in
    tests/test_classifier.py: ~0.85 held-out accuracy on the golden
    keep/drop QUALITY label, and 0.918 AUC / 1.000 lexical-subset AUC on
    an unseen generator seed — the DCLM/FineWeb quality-filter posture.)
    Score rounded to 4 to absorb summation order."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_is_en", F.col("lang") == F.lit("en")
    )
    weights, bias = nb_train(docs.where("doc_id < 250"), "_is_en")
    return (
        nb_score(docs, weights, bias)
        .select(
            "doc_id",
            F.round("nb_score", 4).alias("nb_score"),
            F.col("nb_score_pred").alias("nb_pred"),
        )
        .orderBy("doc_id")
    )


@oracle(
    logreg_oracle_sql(
        "documents", "doc_id < 250", "lang = 'en'", n_iters=5
    )
)
def logreg_classifier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ITERATIVE model training IN the engine
    (operators/classifier.py): full-batch logistic regression over the
    same hashed uni+bigram features as nb_classifier — NBSVM-style
    scaled NB init + 5 Böhning-Lindsay majorize-minimize updates
    (monotone train-loss descent by construction; measured 0.923
    held-out accuracy vs 0.851 for NB alone on the golden quality
    label) — trained on the first half of the corpus (label:
    lang='en'), scored over all docs. The DuckDB oracle unrolls the
    ENTIRE loop — margins, clamped sigmoid residuals, per-feature
    gradients, preconditioned weight/bias updates — as CTE chains with
    the identical float-op ordering, so this value-checks iterative
    distributed optimization end-to-end: all 500 scores must match to
    4 decimals after 5 rounds of gradient feedback. Complements the
    closed-form NB trainer: the iterate-until-converged aggregation
    loop is the shape every other in-engine model (and the fastText
    reference filter itself) actually trains with."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_is_en", F.col("lang") == F.lit("en")
    )
    weights, bias = logreg_train(docs.where("doc_id < 250"), "_is_en", n_iters=5)
    return (
        logreg_score(docs, weights, bias)
        .select(
            "doc_id",
            F.round("lr_score", 4).alias("lr_score"),
            F.col("lr_score_pred").alias("lr_pred"),
        )
        .orderBy("doc_id")
    )
