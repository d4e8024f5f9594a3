"""Trained NB quality classifier (operators/classifier.py).

Measured behavior this suite pins: held-out accuracy ~0.85 overall on
the synthetic label, with the LEXICAL defect classes (non-English,
lorem, policy, bullet/symbol spam) at ~1.0 and the STRUCTURAL classes
(too-short/too-long, duplicate lines, scrambled-word perplexity) near 0
— a bag-of-ngrams model cannot see length or line structure, which is
exactly why the pipeline keeps the heuristic rules alongside it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deidentify_spark.operators.classifier import nb_score, nb_train

LEXICAL = (
    "non_english", "lorem_ipsum", "policy_phrase", "bullet_lines", "symbol_ratio",
)


@pytest.fixture(scope="module")
def pages(spark):
    from deidentify_spark.sources.pages import generate_pages

    return (
        generate_pages(spark, 4000, seed=51, partitions=8)
        .select("doc_id", "text", F.col("expected_keep").alias("y"),
                "expected_drop_reason")
        .persist()
    )


def test_heldout_accuracy_and_class_profile(spark, pages):
    w, b = nb_train(pages.where("doc_id < 3000"), "y")
    w = w.persist()
    scored = nb_score(pages.where("doc_id >= 3000"), w, b)
    hit = (F.col("nb_score_pred") == F.col("y")).cast("double")
    overall = scored.agg(F.avg(hit).alias("a")).collect()[0].a
    assert overall >= 0.80, overall
    per = {
        r.expected_drop_reason: r.acc
        for r in scored.groupBy("expected_drop_reason")
        .agg(F.avg(hit).alias("acc"))
        .collect()
    }
    assert per[None] >= 0.95  # clean docs kept
    for cls in LEXICAL:
        assert per[cls] >= 0.9, (cls, per[cls])


def test_unseen_seed_quality_auc(spark, pages):
    """DCLM/FineWeb posture: the classifier is a QUALITY filter, graded
    threshold-free on a corpus from a DIFFERENT generator seed than it
    was trained on. Measured (deterministic — seeded generator +
    closed-form training): AUC 0.9179 (seed 99) / 0.9185 (seed 123),
    lexical-defect-subset AUC 1.000 — the model ranks every lexical
    drop (non-English, lorem, policy, bullet/symbol spam) below every
    keep; the residual gap to 1.0 is the structural classes a
    bag-of-ngrams model cannot see (length, line structure)."""
    import numpy as np

    from deidentify_spark.sources.pages import generate_pages

    w, b = nb_train(pages, "y")  # all 4000 seed-51 docs
    test = generate_pages(spark, 2000, seed=99, partitions=8).select(
        "doc_id", "text", F.col("expected_keep").alias("y"),
        "expected_drop_reason",
    )
    rows = nb_score(test, w, b).select(
        "y", "nb_score", "expected_drop_reason"
    ).collect()
    y = np.array([r.y for r in rows])
    s = np.array([r.nb_score for r in rows])

    def rank_auc(y, s):
        uniq, inv = np.unique(s, return_inverse=True)
        r = np.argsort(np.argsort(s)) + 1.0
        avg = np.zeros(len(uniq))
        cnt = np.zeros(len(uniq))
        np.add.at(avg, inv, r)
        np.add.at(cnt, inv, 1)
        rt = (avg / cnt)[inv]
        npos, nneg = y.sum(), (~y).sum()
        return (rt[y].sum() - npos * (npos + 1) / 2) / (npos * nneg)

    assert rank_auc(y, s) >= 0.9
    lex = set(LEXICAL) | {None}
    m = np.array([r.expected_drop_reason in lex for r in rows])
    assert rank_auc(y[m], s[m]) >= 0.99


def test_training_is_deterministic_across_partitioning(spark, pages):
    train = pages.where("doc_id < 2000")
    w1, _ = nb_train(train, "y")
    w2, _ = nb_train(train.repartition(13), "y")
    assert w1.exceptAll(w2).count() == 0
    assert w2.exceptAll(w1).count() == 0


def test_single_class_training_set_finite_bias(spark, pages):
    """All-positive (or all-negative) training data must yield a finite
    bias and non-NULL scores — the smoothed prior, not ±Inf/NULL."""
    import math

    w, b = nb_train(pages.where("doc_id < 1000 AND y"), "y")
    bias = b.collect()[0][0]
    assert bias is not None and math.isfinite(bias)
    got = nb_score(pages.where("doc_id >= 3000").limit(20), w, b)
    vals = [r.nb_score for r in got.collect()]
    assert all(v is not None and math.isfinite(v) for v in vals)


def test_featureless_doc_scores_bias(spark, pages):
    # null text yields ZERO feature rows (split(null) -> null array), so
    # the left-join fallback must surface bias alone, not null/NaN
    w, b = nb_train(pages.where("doc_id < 1000"), "y")
    one = spark.createDataFrame([(99_999, None)], "doc_id long, text string")
    got = nb_score(one, w, b).select("nb_score").collect()[0][0]
    bias = b.collect()[0][0]
    assert got == pytest.approx(bias)


def test_null_text_has_no_features_with_ansi_off(spark):
    # size(NULL) is -1 with ANSI off; unguarded, sequence(0, n_grams - 1)
    # stepped downward and emitted NULL-feature rows for the NULL doc
    from deidentify_spark.operators.classifier import _features

    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    docs = s.createDataFrame([(1, None), (2, "a b")], "doc_id long, text string")
    got = _features(docs, "text", "doc_id", 64, count_col="n").collect()
    assert sorted(r.doc_id for r in got) == [2, 2, 2]
    assert all(r.feature is not None and r.n == 3 for r in got)


# ---------------------------------------------------------------- logreg


def test_logreg_heldout_quality(spark, pages):
    """NBSVM-init + Böhning-Lindsay MM logreg beats the NB closed form
    on the learnable quality label (measured: 0.923 held-out vs 0.851
    NB; deterministic generator, float-order noise only)."""
    from deidentify_spark.operators.classifier import logreg_score, logreg_train

    w, b = logreg_train(pages.where("doc_id < 3000"), "y", n_iters=5)
    w = w.persist()
    scored = logreg_score(pages.where("doc_id >= 3000"), w, b)
    hit = (F.col("lr_score_pred") == F.col("y")).cast("double")
    overall = scored.agg(F.avg(hit).alias("a")).collect()[0].a
    assert overall >= 0.90, overall
    per = {
        r.expected_drop_reason: r.acc
        for r in scored.groupBy("expected_drop_reason")
        .agg(F.avg(hit).alias("acc"))
        .collect()
    }
    assert per[None] >= 0.9  # clean docs kept
    for cls in LEXICAL:
        assert per[cls] >= 0.9, (cls, per[cls])
    w.unpersist()


def test_logreg_loss_monotone_descent(spark, pages):
    """The fixed Böhning-Lindsay majorant guarantees each update
    minimizes a quadratic upper bound of the train log-loss — the loss
    sequence must be strictly decreasing (this is the property that
    died with plain GD and with a current-iterate Hessian, both
    measured diverging to loss ~17)."""
    import math

    from deidentify_spark.operators.classifier import logreg_train

    _, _, losses = logreg_train(
        pages.where("doc_id < 400"), "y", n_buckets=2048, n_iters=4,
        track_loss=True,
    )
    assert len(losses) == 4
    assert all(math.isfinite(x) for x in losses)
    for a, b_ in zip(losses, losses[1:]):
        assert b_ < a, losses


def test_logreg_featureless_doc_scores_bias(spark, pages):
    from deidentify_spark.operators.classifier import logreg_score, logreg_train

    w, b = logreg_train(pages.where("doc_id < 500"), "y", n_buckets=2048)
    one = spark.createDataFrame([(99_999, None)], "doc_id long, text string")
    got = (
        logreg_score(one, w, b, n_buckets=2048)
        .select("lr_score")
        .collect()[0][0]
    )
    assert got == pytest.approx(b)


def test_logreg_training_deterministic_across_partitioning(spark, pages):
    """Same data, different partitioning -> same rounded model (float
    summation order may differ at 1e-15; round to 9 decimals)."""
    from deidentify_spark.operators.classifier import logreg_train

    train = pages.where("doc_id < 600")
    w1, b1 = logreg_train(train, "y", n_buckets=2048, n_iters=2)
    w2, b2 = logreg_train(train.repartition(13), "y", n_buckets=2048, n_iters=2)
    r = lambda w: w.select("feature", F.round("w", 9).alias("w"))
    assert r(w1).exceptAll(r(w2)).count() == 0
    assert b1 == pytest.approx(b2)
