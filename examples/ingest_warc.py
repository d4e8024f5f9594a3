"""Full Common-Crawl-style ingestion chain: synthetic pages -> WARC
files -> WARC source -> HTML extraction -> quality-filter + scrub.

Run: python examples/ingest_warc.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
from deidentify_spark.runtime import session_builder
from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages
from deidentify_spark.sources.warc import read_warc, write_warc

spark = session_builder(8).getOrCreate()

warc_dir = os.path.join(tempfile.gettempdir(), "example_warc")

# 1. crawl capture: write pages as .warc.gz shards (per-record gzip
#    members — the Common Crawl layout)
pages = generate_pages(spark, 1000, seed=42, partitions=8).select(*PAGE_COLUMNS)
manifest = write_warc(pages, warc_dir)
manifest.show(truncate=False)

# 2. ingest: WARC records -> (url, warc_ts, html); text is derived from
#    html by the extraction stage inside the pipeline
captured = read_warc(spark, os.path.join(warc_dir, "*.warc.gz")).select(
    "url",
    "warc_ts",
    "html",
    F.lit(None).cast("string").alias("text"),
    F.lit("und").alias("lang"),
)

out = run_pipeline(
    captured,
    PipelineConfig(secret_key="example-key", extract_from_html=True),
).cache()

out.groupBy("drop_reason").count().orderBy("count", ascending=False).show(truncate=False)
out.where("keep").select("url", "scrubbed_text").show(3, truncate=80)
spark.stop()
