"""End-to-end quality-filter + scrub pipeline over synthetic pages.

Run: python examples/pipeline.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deidentify_spark.pipeline.lineage import lineage_metrics
from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
from deidentify_spark.runtime import session_builder
from deidentify_spark.sources.pages import generate_pages

spark = session_builder(8).getOrCreate()

pages = generate_pages(spark, 2000, seed=42, partitions=16)
out = run_pipeline(pages, PipelineConfig(secret_key="example-key", detect_ips=True)).cache()

out.groupBy("drop_reason").count().orderBy("count", ascending=False).show(truncate=False)
out.where("keep").select("url", "scrubbed_text").show(3, truncate=80)
lineage_metrics(out).show(5, truncate=40)
spark.stop()
