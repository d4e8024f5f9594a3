"""spark-submit entrypoint for the quality-filter + scrub pipeline.

Launch (local or cluster — the job only talks to the SparkSession):

    cd /root/repo && zip -qr /tmp/deidentify_spark.zip deidentify_spark
    spark-submit --master local[32] \\
        --py-files /tmp/deidentify_spark.zip \\
        jobs/run_pipeline_job.py \\
        --input  /path/to/pages_parquet \\
        --output /path/to/run_output \\
        --secret-key "$SECRET_KEY" [--n-waves 8] [--detect-ips] \\
        [--repartition 4096]

Writes scrubbed pages (parquet, partitioned by lineage bucket) and the
per-bucket metrics table under --output, checkpointed wave-by-wave so a
re-submit resumes where the previous run stopped. Exactly one source:
--input (pages parquet), --input-warc '/crawl/*.warc.gz' (text derived
from html) or --synthesize N (N deterministic synthetic pages, for smoke
runs / benchmarks). Prints a one-line JSON summary on success.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    source = p.add_mutually_exclusive_group(required=True)
    source.add_argument("--input", help="input pages parquet/Iceberg path")
    source.add_argument(
        "--input-warc",
        help="input .warc.gz glob (Common-Crawl layout); text is derived "
        "from html by the extraction stage",
    )
    source.add_argument("--synthesize", type=int, metavar="N")
    p.add_argument("--output", required=True)
    p.add_argument("--secret-key", required=True)
    p.add_argument("--n-waves", type=int, default=8)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--repartition", type=int, default=None)
    p.add_argument("--detect-ips", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from deidentify_spark.pipeline.checkpoint import run_checkpointed
    from deidentify_spark.pipeline.stages import PipelineConfig
    from deidentify_spark.runtime import session_builder

    builder = session_builder().appName("deidentify-pipeline")
    if args.input_warc:
        # Arrow batches carry the html binary column into the extraction
        # UDF in WARC mode — size them in bytes, not the 10k-row default
        # (SCALE.md "Memory & spill posture": measured direct-memory OOM)
        builder = builder.config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "1000"
        )
    spark = builder.getOrCreate()
    cfg = PipelineConfig(
        secret_key=args.secret_key,
        n_buckets=args.n_buckets,
        repartition=args.repartition,
        detect_ips=args.detect_ips,
        extract_from_html=bool(args.input_warc),
    )

    if args.synthesize is not None:
        from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages

        pages = generate_pages(
            spark, args.synthesize, seed=42, include_html=False
        ).select(*PAGE_COLUMNS)
    elif args.input_warc:
        from deidentify_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input_warc).select(
            "url",
            "warc_ts",
            "html",
            F.lit(None).cast("string").alias("text"),
            F.lit("und").alias("lang"),
        )
    else:
        pages = spark.read.parquet(args.input)

    t0 = time.time()
    manifest = run_checkpointed(pages, args.output, cfg, n_waves=args.n_waves)
    seconds = round(time.time() - t0, 1)  # the run, not the summary
    # totals from the lineage table the run just wrote (one row per
    # bucket), not a re-scan of the scrubbed output: the summary's
    # docs_out counts every written row (the table's docs_in), docs_kept
    # the kept ones (the table's docs_out)
    written, kept = (
        spark.read.parquet(f"{args.output}/metrics")
        .agg(F.sum("docs_in"), F.sum("docs_out"))
        .head()
    )
    summary = {
        "status": "ok",
        "seconds": seconds,
        "docs_out": written or 0,
        "docs_kept": kept or 0,
        "buckets_done": len(manifest["done_buckets"]),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
