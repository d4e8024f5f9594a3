"""Bloom-filter membership (operators/membership.py): no false
negatives, bounded false positives, associative merge, and a shuffle-free
probe plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deidentify_spark.operators.membership import (
    bloom_build,
    bloom_fp_estimate,
    bloom_maybe_seen,
)

M, K = 1 << 14, 3


@pytest.fixture(scope="module")
def corpus(spark):
    from deidentify_spark.sources.pages import generate_pages

    return (
        generate_pages(spark, 600, seed=37, partitions=4)
        .select(F.monotonically_increasing_id().alias("rid"), "url", "text")
        .persist()
    )


def test_no_false_negatives(spark, corpus):
    build = corpus.where("rid % 2 = 0")
    bloom = bloom_build(build, "text", M, K).persist()
    probed = bloom_maybe_seen(build, bloom, "text", M, K)
    assert probed.where("NOT maybe_seen").count() == 0


def test_false_positive_rate_bounded(spark, corpus):
    build = corpus.where("rid % 2 = 0")
    others = corpus.where("rid % 2 = 1")
    bloom = bloom_build(build, "text", M, K)
    # build-set texts can legitimately collide with probe texts only via
    # identical text (generator dups across ids) — exclude those
    dup_free = others.join(build.select("text"), "text", "left_anti")
    probed = bloom_maybe_seen(dup_free, bloom, "text", M, K)
    n = dup_free.count()
    fp = probed.where("maybe_seen").count()
    est = bloom_fp_estimate(build.select("text").distinct().count(), M, K)
    # generous bound: observed FP rate within 5x estimate + 1 absolute
    assert fp <= max(1, 5 * est * n), (fp, n, est)


def test_merge_is_associative(spark, corpus):
    a = corpus.where("rid % 3 = 0")
    b = corpus.where("rid % 3 != 0")
    whole = bloom_build(corpus, "text", M, K)
    merged = (
        bloom_build(a, "text", M, K)
        .unionByName(bloom_build(b, "text", M, K))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0


def test_null_input_is_null(spark, corpus):
    """NULL text => maybe_seen NULL (membership of NULL is unknown), not
    a confident false."""
    build = corpus.where("rid % 2 = 0")
    bloom = bloom_build(build, "text", M, K).persist()
    with_null = corpus.limit(5).withColumn(
        "text", F.when(F.col("rid") >= 0, F.lit(None).cast("string"))
    )
    a = bloom_maybe_seen(with_null, bloom, "text", M, K)
    assert [r.maybe_seen for r in a.collect()] == [None] * 5


def test_probe_plan_is_shuffle_free(spark, corpus):
    bloom = bloom_build(corpus, "text", M, K).persist()
    bloom.count()  # materialize so the probe plan starts from InMemory
    probed = bloom_maybe_seen(corpus, bloom, "text", M, K)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    probe_side = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning" not in probe_side, probe_side
    assert "BroadcastNestedLoopJoin" in plan  # single-row bitmap build side
