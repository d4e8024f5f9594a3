"""Volume rehearsal of the WARC ingestion chain: synthetic pages ->
.warc.gz shards -> read_warc -> HTML extraction -> full filter+scrub
pipeline. Reports per-stage wall + docs/sec as one JSON line.

This is the ingestion-path counterpart of the 1M-doc checkpoint
rehearsal (BASELINE.md): it exercises the round-4 surfaces (WARC
codec, extraction parser) at enough volume to surface per-doc cost
landmines that 300-doc tests cannot (the k-gram re-split bug class).

Usage: python scripts/ingest_rehearsal.py [--docs 250000] [--cores 32]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=250_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
    from deidentify_spark.runtime import session_builder
    from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages
    from deidentify_spark.sources.warc import read_warc, write_warc

    spark = (
        session_builder(args.cores)
        # Arrow batches must be sized in BYTES when a binary column rides
        # them: 10k default records x ~2KB html x 32 tasks x both
        # directions blew the 1 GiB netty direct pool (measured; see
        # SCALE.md "Memory & spill posture")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .appName("ingest-rehearsal")
        .getOrCreate()
    )
    work = pathlib.Path(tempfile.gettempdir()) / "ingest_rehearsal"
    shutil.rmtree(work, ignore_errors=True)
    warc_dir = str(work / "warc")

    t0 = time.time()
    pages = generate_pages(
        spark, args.docs, seed=42, partitions=args.cores * 4
    ).select(*PAGE_COLUMNS)
    manifest = write_warc(pages, warc_dir).collect()
    t_write = time.time() - t0
    n_rec = sum(r.n_records for r in manifest)
    n_bytes = sum(r.n_bytes for r in manifest)

    t0 = time.time()
    captured = read_warc(spark, os.path.join(warc_dir, "*.warc.gz")).select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("und").alias("lang"),
    )
    out = run_pipeline(
        captured, PipelineConfig(secret_key="rehearsal-key", extract_from_html=True)
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    ).collect()[0]
    t_ingest = time.time() - t0

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    print(
        json.dumps(
            {
                "docs": args.docs,
                "cores": args.cores,
                "warc_records": n_rec,
                "warc_gz_bytes": n_bytes,
                "gen_plus_write_s": round(t_write, 1),
                "read_extract_pipeline_s": round(t_ingest, 1),
                "ingest_docs_per_sec": round(args.docs / t_ingest, 1),
                "rows_out": agg.n,
                "kept": agg.kept,
            }
        )
    )


if __name__ == "__main__":
    main()
