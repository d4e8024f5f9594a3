"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023, "Data Selection for Language Models via Importance
Resampling"): pick the raw web documents whose hashed-n-gram
distribution most resembles a small target corpus, by scoring every
raw doc with the log-likelihood ratio of two smoothed bag-of-ngrams
models and then sampling WITHOUT replacement via deterministic
Gumbel top-k (Vieira 2014's "Gumbel-max trick" order-statistics
formulation — perturb each log-weight with Gumbel noise and take the
top k, which is exactly weighted sampling without replacement).

No counterpart in the reference (aliengiraffe/deidentify is a PII
scrubber); this is §2.G training-data-pipeline surface — the
published data-selection method behind several LLM pretraining
corpora, and the natural companion to the trained quality classifier
(operators/classifier.py): the classifier *ranks* by a learned
decision boundary, DSIR *matches a distribution* with no labels on
the negative side.

Feature space is deliberately the classifier's: hashed word
uni+bigrams mod ``DEFAULT_BUCKETS`` (classifier._features), which is
also the paper's feature space. Both the target and raw unigram models
use the classifier's Laplace ``ALPHA`` smoothing over the same bucket
space, so the per-feature log-ratio is finite everywhere.

Scale posture
-------------
Training the two hashed models is ONE feature-count aggregation
(explode -> groupBy(feature), map-side combinable) over the corpus;
the ratio table is at most ``DEFAULT_BUCKETS`` (2^15) rows, 256 KB,
and is BROADCAST into the scoring join, so scoring is
explode -> broadcast-join -> one partial-aggregated groupBy(id) sum
— identical shape to nb_score, linear in corpus tokens, nothing
driver-side. Gumbel keys are pure column expressions (hash-seeded,
no RNG state), and the top-k threshold is a TakeOrderedAndProject
(distributed heap top-k, NO global sort) over a PERSISTED slim
(id, logw, key) projection, reduced to a driver scalar — the
explicit two-phase materialization every global top-k needs (see
dsir_select for the measured 2x branch-recompute defect it fixes).
At 10^12 docs the only O(corpus) costs are the feature explode and
the (id, logw) shuffle, both unavoidable and both map-side combined.

Feature-hash micro-optimization, measured and REJECTED: swapping the
oracle-parity md5 bucketing (_hash60) for JVM-intrinsic xxhash64
changed nothing outside this box's noise band (50k pages / 8 cores:
score-only 62.1s md5 vs 57.3s xxhash64; select 52.3s vs 62.2s) —
the cost lives in shingle materialization + explode volume, not the
hash — so the md5 twin-checkable form stays, with no extra knob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deidentify_spark.operators.classifier import (
    ALPHA,
    DEFAULT_BUCKETS,
    SCORE_DECIMALS,
    _features,
)
from deidentify_spark.operators.dedup import _seeded_md5
from deidentify_spark.runtime import tracked_persist

__all__ = ["dsir_log_weights", "dsir_select", "gumbel_key"]

# 2^40: the hash-to-uniform modulus. Wide enough that the (m+0.5)/M
# uniform has ~1e-12 granularity (Gumbel keys never collide in
# practice), small enough that the bigint->double conversion is exact
# (2^40 << 2^53) in BOTH Spark and the DuckDB oracle twin.
GUMBEL_M = 1 << 40


def _dsir_sums(
    df: DataFrame,
    target_col: str,
    text_col: str,
    id_col: str,
    out_col: str,
) -> DataFrame:
    """(id, out_col) log-weight sums — only ids that emitted at least
    one feature appear (consumers left-join + coalesce to 0.0).

    The target flag rides the feature explode (_features extra_cols):
    the earlier per-doc (id, flag) join carried an unconditional
    broadcast hint on an O(n_docs) table, which at the module's stated
    10^12-doc posture exceeds Spark's broadcast limit outright."""
    feats = _features(
        df.withColumn("_t", F.col(target_col).cast("boolean")),
        text_col,
        id_col,
        DEFAULT_BUCKETS,
        extra_cols=("_t",),
    )
    counts = feats.groupBy("feature").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    # No dense bucket completion needed (unlike nb_train): every
    # feature a scored doc can emit is by construction present in the
    # raw counts, so the ratio table covers all lookups.
    totals = counts.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    alpha, n_buckets = ALPHA, DEFAULT_BUCKETS
    ratio = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "feature",
            (
                F.log((F.col("ct") + alpha) / (F.col("nt") + alpha * n_buckets))
                - F.log((F.col("cr") + alpha) / (F.col("nr") + alpha * n_buckets))
            ).alias("_llr"),
        )
        # lazy lineage cut (<= n_buckets rows, stays distributed): the
        # ratio model is broadcast-rebuilt by every consumer action
        # (dsir_select runs two: the top-k threshold and the output) —
        # without the cut each rebuild re-ran the corpus feature
        # aggregate; same posture as nb_train's checkpointed weights
        .localCheckpoint(eager=False)
    )
    return (
        feats.join(F.broadcast(ratio), "feature")
        .groupBy(id_col)
        .agg(F.sum("_llr").alias(out_col))
    )


def dsir_log_weights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "dsir_logw",
) -> DataFrame:
    """All input columns plus ``out_col``: the DSIR importance
    log-weight  sum_f c_doc(f) * [log p_target(f) - log p_raw(f)]
    over hashed uni+bigram features, where ``target_col`` is a boolean
    column marking the target-domain rows and the raw model is fit on
    ALL rows (the standard DSIR setup: the target is a small slice of,
    or alongside, the raw pool being filtered).

    Featureless docs (shorter than one word) get log-weight 0.0 (the
    empty sum), mirrored in the oracle twin's COALESCE.
    """
    sums = _dsir_sums(df, target_col, text_col, id_col, out_col)
    return df.join(sums, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0.0))
    )


def gumbel_key(id_col: str, logw_col: str, seed: int = 0) -> Column:
    """``logw + Gumbel(0,1)`` with the Gumbel drawn DETERMINISTICALLY
    from a hash of the doc id: u = (hash60(seed:id) mod M + 0.5) / M,
    g = -ln(-ln(u)). Top-k of this key over the corpus IS weighted
    sampling without replacement with probabilities proportional to
    exp(logw) (Gumbel-max); hash-seeding makes it replayable and
    oracle-checkable — no RNG state, no driver involvement.
    """
    u = (
        F.pmod(
            _seeded_md5(f"gumbel:{seed}", F.col(id_col), 15), F.lit(GUMBEL_M)
        )
        + F.lit(0.5)
    ) / F.lit(float(GUMBEL_M))
    return F.col(logw_col) + (-F.log(-F.log(u)))


def dsir_select(
    df: DataFrame,
    target_col: str,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """``dsir_log_weights`` plus a boolean ``dsir_selected`` marking
    the Gumbel-top-``k`` sample (weighted sampling without
    replacement, temperature 1).

    Two-phase global top-k with EXPLICIT materialization: a slim
    ``(id, logw, key)`` projection (~24 B/row) is persisted, the k-th
    largest key is computed EAGERLY from it (TakeOrderedAndProject —
    distributed per-partition heaps, no global sort — reduced to a
    scalar), and ``selected = key >= kth`` joins the slim table back
    to the input. Deriving the threshold lazily from the same lineage
    instead (the first-cut design) re-executed the ENTIRE scoring
    subplan: Catalyst prunes the two branches differently, so AQE's
    ReusedExchange never matches, and a 50k-page rehearsal measured
    exactly 2x the score-only wall (117.8s vs 59.5s; fixed: 52.3s).
    The persisted projection is the price of running the feature
    explode once; it is O(n) x 24 B — 24 GB per 10^12 docs, spilled
    to disk by MEMORY_AND_DISK — and stays cached for the output's
    consumption. It is registered with runtime.tracked_persist, so
    callers batching many selections release it with
    runtime.release_tracked() once each output is materialized (the
    operator cannot unpersist it itself — the returned DataFrame still
    reads the cache lazily). Hash-distinct keys make >k ties a
    measure-zero event
    (documented, not guarded). If ``k >= n`` every row is selected.
    """
    sums = _dsir_sums(df, target_col, text_col, id_col, "dsir_logw")
    slim = (
        df.select(id_col)
        .join(sums, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("dsir_logw"), F.lit(0.0)).alias("dsir_logw"),
        )
        .withColumn("_dsir_key", gumbel_key(id_col, "dsir_logw", seed))
    )
    slim = tracked_persist(slim)
    kth = (
        slim.select("_dsir_key")
        .orderBy(F.desc("_dsir_key"))
        .limit(k)
        .agg(F.min("_dsir_key"))
        .first()[0]
    )
    selected = (
        F.lit(False) if kth is None  # empty input
        else F.col("_dsir_key") >= F.lit(float(kth))
    )
    flagged = slim.withColumn("dsir_selected", selected).drop("_dsir_key")
    return df.join(flagged, id_col)


def dsir_oracle_sql(
    table: str,
    target_expr: str,
    k: int,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of dsir_select: same tokenization/hashing (the
    nb_oracle_sql idiom), same smoothing, same hash-seeded Gumbel keys
    and top-k threshold. Output (id, dsir_logw rounded, dsir_selected)
    — the selection flag is computed on UNROUNDED keys exactly like
    the Spark side; the log-weight is rounded only for display, to
    absorb summation-order float noise.
    """
    n_buckets, alpha = DEFAULT_BUCKETS, ALPHA
    words = (
        f"regexp_split_to_array(lower(trim({text_col}, ' ')), '[ \\t\\n\\f\\r]+')"
    )
    shingle = {1: "w[i]", 2: "w[i] || ' ' || w[i+1]"}
    grams = "\nUNION ALL\n".join(
        f"""
        SELECT {id_col}, y,
               unnest([('0x'||substr(md5({shingle[n]}),1,15))::BIGINT % {n_buckets}
                       for i in generate_series(1, len(w) - {n - 1})]) AS feature
        FROM (SELECT {id_col}, ({target_expr}) AS y, {words} AS w FROM {table}) t
        """
        for n in (1, 2)
    )
    m = GUMBEL_M
    return f"""
        WITH feats AS ({grams}),
        counts AS (
            SELECT feature,
                   COUNT(*) FILTER (WHERE y) AS ct,
                   COUNT(*) AS cr
            FROM feats GROUP BY feature
        ),
        tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
        llr AS (
            SELECT feature,
                   ln((ct + {alpha}) / (nt + {alpha} * {n_buckets}))
                 - ln((cr + {alpha}) / (nr + {alpha} * {n_buckets})) AS llr
            FROM counts, tot
        ),
        sums AS (
            SELECT f.{id_col}, SUM(l.llr) AS logw
            FROM feats f JOIN llr l USING (feature)
            GROUP BY f.{id_col}
        ),
        scored AS (
            SELECT d.{id_col},
                   COALESCE(s.logw, 0.0) AS logw,
                   COALESCE(s.logw, 0.0)
                   + (-ln(-ln(((('0x'||substr(md5('gumbel:{seed}:'||d.{id_col}),1,15))::BIGINT
                                % {m}) + 0.5) / {m}.0))) AS key
            FROM {table} d LEFT JOIN sums s USING ({id_col})
        ),
        kth AS (
            SELECT MIN(key) AS kth
            FROM (SELECT key FROM scored ORDER BY key DESC LIMIT {k})
        )
        SELECT {id_col},
               ROUND(logw, {SCORE_DECIMALS}) AS dsir_logw,
               key >= kth AS dsir_selected
        FROM scored, kth
        ORDER BY {id_col}
    """
