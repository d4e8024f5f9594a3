"""The staged DataFrame plan around ONE fused Arrow stage (langid gate ->
Gopher/C4 rules -> n-gram repetition -> perplexity -> scrub), per
BASELINE.json north_star ("staged DataFrame plan").

Stage ordering is encoded manually because pandas UDFs are opaque to
Catalyst — it cannot reorder a cheap gate before an expensive model
(SURVEY.md §4.1). All per-doc decision logic lives in one Arrow UDF
(functions/fused.py) that stages its own work, so later models only run
on rows earlier gates kept. Two slower designs were measured and
rejected (details in functions/fused.py): chained masked pandas UDFs
(Catalyst re-inlined shared expressions into every node) and
Column-expression quality rules (re-split text per CASE WHEN branch,
~100x a per-doc Python pass).

Scale posture (for the 1000-executor / 100 TB case):
* ``html`` is dropped immediately after scan -> parquet column pruning
  never materializes it.
* optional explicit ``repartition(n, xxhash64(url))`` redistributes hot
  hosts before the Python stage (north_rule); AQE handles downstream
  shuffle sizing. Skip it when the source is already well-partitioned —
  the pipeline itself is a pure narrow map.
* the only shuffles in the whole run are the optional repartition and
  the metrics groupBy (pipeline/lineage.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deidentify_spark.functions.fused import fused_filter_scrub_udf
from deidentify_spark.functions.quality import QualityConfig


@dataclass(frozen=True)
class PipelineConfig:
    secret_key: str
    target_lang: str = "en"
    # Conf gate sits below the observed clean-English minimum (~0.45) and
    # above ambiguous-garbage scores; no non-English doc scores as 'en' at
    # any confidence in calibration (tests/test_functions.py). Low
    # confidence alone defers to quality/perplexity and is only the drop
    # reason when nothing more specific fires.
    min_lang_conf: float = 0.35
    max_perplexity: float = 1500.0
    quality: QualityConfig = field(default_factory=QualityConfig)
    n_buckets: int = 64  # url-hash lineage buckets (deterministic, not
    # spark_partition_id, so metrics are stable across cluster sizes)
    repartition: int | None = None  # explicit url-hash repartition width
    # Opt-in IP detection (EXTENSION: the reference has no IP detector;
    # enabling this intentionally departs from reference byte-parity —
    # see oracle/extensions.py).
    detect_ips: bool = False
    # Opt-in toxicity gate + mask (functions/toxicity.py), the
    # 'toxicity' half of the north-star PII/toxicity scrub. Empty tuple
    # = stage off (default, preserving reference byte-parity goldens).
    # Production: the full public LDNOOBW-style list for target_lang.
    toxicity_blocklist: tuple = ()
    toxicity_max_frac: float = 0.02
    toxicity_max_hits: int = 10
    toxicity_mask: bool = True
    # Opt-in ingestion stage: populate ``text`` by extracting it from the
    # raw ``html`` column (functions/htmlx.py) — the WARC-ingestion
    # posture where no pre-extracted text exists. Default off: the
    # BASELINE input already carries text, and the default plan must
    # never read html (pinned by tests/test_plans.py
    # test_pipeline_never_reads_html).
    extract_from_html: bool = False

    def __post_init__(self):
        if self.n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {self.n_buckets}")


def bucket_of_url(n_buckets: int) -> Column:
    """The url-hash lineage bucket of a row. The one spelling of it: the
    checkpoint's wave filter must pick exactly the docs whose ``bucket``
    column lands in the wave, or waves drop or repeat docs."""
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def run_pipeline(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Annotate pages with the full filter + scrub decision surface.

    Returns one row per input doc with: bucket, lang_pred, lang_conf,
    perplexity, drop_reason (null = kept), keep, scrubbed_text, pii_hits.
    """
    if cfg.extract_from_html:
        from deidentify_spark.functions.htmlx import extract_text_column

        # Ingestion mode: text is derived from html in the same narrow
        # scan-side stage (one extra Arrow node, still no shuffle); html
        # is dropped immediately after.
        df = pages.select(
            "url", "warc_ts", extract_text_column("html").alias("text"), "lang"
        )
    else:
        df = pages.select(
            "url", "warc_ts", "text", "lang"
        )  # html pruned at scan — never read

    if cfg.repartition:
        df = df.repartition(cfg.repartition, F.xxhash64("url"))

    df = df.withColumn("bucket", bucket_of_url(cfg.n_buckets))

    # Optional toxicity gate FIRST: it is pure JVM column work, so per
    # the stage-ordering doctrine the cheap gate runs before the
    # expensive Arrow model stage — gated rows reach the fused UDF as
    # '' and fall out of its first (cheapest) check, then get their
    # drop_reason overridden to 'toxic' below.
    if cfg.toxicity_blocklist:
        from deidentify_spark.functions.toxicity import (
            toxicity_filter,
            toxicity_mask_expr,
        )

        df = toxicity_filter(
            df,
            cfg.toxicity_blocklist,
            max_frac=cfg.toxicity_max_frac,
            max_hits=cfg.toxicity_max_hits,
        )
        fused_input = F.when(F.col("toxic_keep"), F.col("text")).otherwise(
            F.lit("")
        )
    else:
        fused_input = F.col("text")

    # Single fused Arrow stage: langid -> Gopher/C4 rules -> repetition
    # -> perplexity -> scrub, staged internally (functions/fused.py
    # explains why this beats JVM rule expressions + chained UDFs ~4x).
    fused = fused_filter_scrub_udf(
        cfg.secret_key,
        target_lang=cfg.target_lang,
        min_lang_conf=cfg.min_lang_conf,
        max_perplexity=cfg.max_perplexity,
        quality=cfg.quality,
        detect_ips=cfg.detect_ips,
    )
    df = df.withColumn("_r", fused(fused_input))

    drop_reason = F.col("_r.drop_reason")
    keep = F.col("_r.keep")
    scrubbed = F.col("_r.scrubbed_text")
    extra_cols: list = []
    if cfg.toxicity_blocklist:
        drop_reason = F.when(~F.col("toxic_keep"), F.lit("toxic")).otherwise(
            drop_reason
        )
        keep = F.col("toxic_keep") & keep
        if cfg.toxicity_mask:
            scrubbed = F.when(
                keep, toxicity_mask_expr(scrubbed, cfg.toxicity_blocklist)
            )
        extra_cols = ["toxic_hits", "toxic_frac"]

    return df.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        "bucket",
        F.col("_r.lang_pred").alias("lang_pred"),
        F.col("_r.lang_conf").alias("lang_conf"),
        F.col("_r.perplexity").alias("perplexity"),
        drop_reason.alias("drop_reason"),
        keep.alias("keep"),
        scrubbed.alias("scrubbed_text"),
        F.col("_r.pii_hits").alias("pii_hits"),
        *extra_cols,
    )
