"""Per-bucket lineage/metrics rollup.

Buckets are deterministic url-hash buckets (pmod(xxhash64(url), n)), not
``spark_partition_id()``, so the metrics table is stable across cluster
sizes, AQE re-plans and resumes (SURVEY.md §2.F).

Output schema: (bucket int, docs_in long, docs_out long,
drop_reason_counts map<string,long>, pii_hits map<string,long>).
One shuffle on the bucket key; drop-reason and PII maps are built with
map-side-combinable aggregates (count/sum over exploded keys, reassembled
with map_from_entries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lineage_metrics(annotated: DataFrame) -> DataFrame:
    """Aggregate the run_pipeline output into the metrics table.

    The result references ``annotated`` in three aggregation subtrees;
    feed it a MATERIALIZED input (a persisted DataFrame, as
    pipeline/checkpoint.py does with each wave, or a written table read
    back) — handing it
    the raw run_pipeline plan would execute the fused Python stage once
    per subtree."""
    base = annotated.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("keep").cast("long")).alias("docs_out"),
    )

    reasons = (
        annotated.where(F.col("drop_reason").isNotNull())
        .groupBy("bucket", "drop_reason")
        .count()
        .groupBy("bucket")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("drop_reason", "count")))
            ).alias("drop_reason_counts")
        )
    )

    hits = (
        # plain explode: it already skips null/empty maps, which is what
        # explode_outer + isNotNull spelled in two operators
        annotated.select("bucket", F.explode("pii_hits").alias("kind", "n"))
        .groupBy("bucket", "kind")
        .agg(F.sum("n").alias("n"))
        .groupBy("bucket")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("kind", "n")))
            ).alias("pii_hits")
        )
    )

    return (
        base.join(reasons, "bucket", "left")
        .join(hits, "bucket", "left")
        .orderBy("bucket")
    )
