"""End-to-end Spark pipeline tests: keep/drop F1 vs golden labels,
byte-identical scrub vs the scalar oracle, lineage metrics, and
determinism across partition counts."""

import pytest
from pyspark.sql import functions as F

from deidentify_spark.functions.quality import QualityConfig
from deidentify_spark.oracle import Deidentifier
from deidentify_spark.pipeline.lineage import lineage_metrics
from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
from deidentify_spark.sources.pages import generate_pages

N_DOCS = 1500
KEY = "test-secret-key"


@pytest.fixture(scope="module")
def annotated(spark):
    cfg = PipelineConfig(secret_key=KEY, quality=QualityConfig())
    pages = generate_pages(spark, N_DOCS, seed=42, partitions=8)
    out = run_pipeline(pages, cfg)
    labels = pages.select(
        "url", "expected_keep", "expected_drop_reason", "pii_kinds", "pii_values", "text"
    )
    joined = out.join(labels.withColumnRenamed("text", "orig_text"), "url").cache()
    joined.count()
    return joined


def test_every_fused_field_reaches_the_output(annotated):
    # a field the UDF computes and ships through Arrow but run_pipeline
    # never selects is work for nothing
    from deidentify_spark.functions.fused import FUSED_SCHEMA

    assert set(FUSED_SCHEMA.fieldNames()) <= set(annotated.columns)


def test_keep_drop_f1(annotated):
    rows = annotated.select("keep", "expected_keep").collect()
    tp = sum(1 for r in rows if r.keep and r.expected_keep)
    fp = sum(1 for r in rows if r.keep and not r.expected_keep)
    fn = sum(1 for r in rows if not r.keep and r.expected_keep)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (f1, f"tp={tp} fp={fp} fn={fn}")


def test_drop_reasons_match_labels(annotated):
    # Near-exact reason parity for every category except gibberish,
    # where the langid gate may legitimately fire before the perplexity
    # stage. Tolerance 2%: the langid gate runs before the structural
    # rules (it must — the stopword rule is English-specific, so
    # structural-first would misattribute clean non-English docs), and
    # on repeated-single-sentence junk (duplicate_lines) or sub-10-word
    # fragments (too_few_words) char-n-gram evidence is so thin that
    # the widened-register model occasionally calls a close language;
    # the doc is dropped either way (keep/drop F1 has its own 0.99
    # gate above) — only the attribution differs, measured 9/750 at
    # the round-3 model.
    rows = annotated.where(~F.col("expected_keep")).select(
        "drop_reason", "expected_drop_reason"
    ).collect()
    mismatched = [
        r
        for r in rows
        if r.expected_drop_reason != "high_perplexity"
        and r.drop_reason != r.expected_drop_reason
    ]
    assert len(mismatched) / max(len(rows), 1) < 0.02, mismatched[:10]
    # and every such mismatch must still be a DROP on both sides
    assert all(
        r.drop_reason is not None and r.expected_drop_reason is not None
        for r in mismatched
    )
    gib = [r for r in rows if r.expected_drop_reason == "high_perplexity"]
    assert all(
        r.drop_reason in ("high_perplexity", "non_english", "low_lang_conf")
        for r in gib
    )


def test_scrub_byte_identical_to_oracle(annotated):
    kept = annotated.where("keep").select("orig_text", "scrubbed_text").collect()
    assert kept
    d = Deidentifier(KEY)
    for r in kept:
        assert r.scrubbed_text == d.text(r.orig_text)


def test_injected_pii_absent_from_scrubbed(annotated):
    rows = annotated.where("keep").select("scrubbed_text", "pii_values").collect()
    checked = 0
    for r in rows:
        for v in r.pii_values or []:
            checked += 1
            assert v not in r.scrubbed_text, (v, r.scrubbed_text[:200])
    assert checked > 20  # PII docs actually exercised


def test_dropped_docs_not_scrubbed(annotated):
    assert annotated.where("NOT keep AND scrubbed_text IS NOT NULL").count() == 0


def test_lineage_metrics(annotated):
    m = lineage_metrics(annotated).collect()
    assert sum(r.docs_in for r in m) == N_DOCS
    total_out = sum(r.docs_out for r in m)
    assert 0 < total_out < N_DOCS
    # drop reason counts reconcile with per-doc rows
    reason_total = sum(
        sum(r.drop_reason_counts.values()) for r in m if r.drop_reason_counts
    )
    assert reason_total == N_DOCS - total_out
    # PII hits recorded for at least the email/phone classes
    all_hits = {}
    for r in m:
        for k, v in (r.pii_hits or {}).items():
            all_hits[k] = all_hits.get(k, 0) + v
    assert all_hits.get("email", 0) > 0 and all_hits.get("phone", 0) > 0


def test_pipeline_deterministic_across_partitioning(spark):
    cfg = PipelineConfig(secret_key=KEY)
    a = run_pipeline(generate_pages(spark, 300, seed=7, partitions=2), cfg)
    b = run_pipeline(generate_pages(spark, 300, seed=7, partitions=13), cfg)
    # one output schema for every config
    assert a.columns == [
        "url", "warc_ts", "text", "lang", "bucket", "lang_pred", "lang_conf",
        "perplexity", "drop_reason", "keep", "scrubbed_text", "pii_hits",
    ]
    ra = {r.url: (r.keep, r.drop_reason, r.scrubbed_text) for r in a.collect()}
    rb = {r.url: (r.keep, r.drop_reason, r.scrubbed_text) for r in b.collect()}
    assert ra == rb


def test_mapping_audit_table_matches_scalar_oracle(spark):
    """The materialized mapping table (functions/scrub.py
    mapping_audit_table) must contain exactly the (type, original,
    replacement) pairs the scalar oracle produces — replacement purity
    (SURVEY §0) means the distributed distinct equals the reference's
    in-memory mapping cache, including cross-document convergence of
    identical originals."""
    from deidentify_spark.functions.scrub import mapping_audit_table

    df = spark.createDataFrame(
        [
            (1, "Mail a@b.com or call (555) 123-4567"),
            (2, "a@b.com again, plus SSN 123-45-6789"),  # shared email
            (3, None),
        ],
        "id long, text string",
    )
    got = {
        (r.pii_type, r.original, r.replacement)
        for r in mapping_audit_table(df, "text", KEY).collect()
    }
    d = Deidentifier(KEY)
    expected = {
        ("email", "a@b.com", d.deidentify_value("a@b.com", "email", "email")),
        (
            "phone",
            "(555) 123-4567",
            d.deidentify_value("(555) 123-4567", "phone", "phone"),
        ),
        (
            "ssn",
            "123-45-6789",
            d.deidentify_value("123-45-6789", "ssn", "ssn"),
        ),
    }
    assert got == expected
