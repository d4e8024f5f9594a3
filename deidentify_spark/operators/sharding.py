"""Deterministic corpus shuffle + training-shard assignment — the
terminal step of a training-data pipeline: give every document a
pseudo-random but REPLAYABLE global order, bin it into a fixed number
of shards, and number it within its shard, so the corpus can be
written as `shard=NNN/part-*.parquet` files whose contents and order
are a pure function of (seed, doc ids) — identical across retries,
cluster sizes, and resubmissions (the property random() sampling can
never give a distributed writer).

No counterpart in the reference (aliengiraffe/deidentify is a PII
scrubber); §2.G training-data-pipeline surface. Same determinism
posture as curation.stratified_sample (md5-threshold) and
dsir.gumbel_key (hash-seeded draws).

Scale posture
-------------
shard = pmod(hash60(seed:id), n_shards) is map-only and uniform (no
skew by construction — md5 is uniform over ids regardless of id
distribution). The within-shard position is a bucketed two-level scan
(scan.partitioned_prefix_sum counting 1 per row): quantile buckets on
the shuffle hash bound every sort task to ~n/(n_shards x B) rows and
the bucket offsets fold distributedly, so the operator serializes
NOTHING per shard — unlike the previous row_number-over-shard window,
whose parallelism was capped at n_shards (fine at 10^5 production
shards, a bottleneck for a 16-shard config on a 1000-executor
cluster). The write itself is `df.write.partitionBy("shard")`
downstream; this operator computes the assignment, which is the
oracle-checkable part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deidentify_spark.operators.dedup import _seeded_md5
from deidentify_spark.operators.scan import partitioned_prefix_sum

__all__ = ["assign_shards", "shards_oracle_sql"]


def assign_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """All input columns plus ``shard`` (0..n_shards-1) and
    ``shard_pos`` (1-based position within the shard, in the
    deterministic shuffled order). Order within a shard is by the
    shuffle hash with ``id_col`` as the total-order tie-break, so the
    assignment is a pure function of (seed, ids) — integer-exact,
    independent of the prefix-scan's bucket boundaries."""
    h = _seeded_md5(f"shard:{seed}", F.col(id_col), 15)
    keyed = df.withColumn("_shard_h", h).withColumn(
        "shard", F.pmod(F.col("_shard_h"), F.lit(n_shards)).cast("int")
    )
    # persist_input=False: the scan's quantile/totals passes prune to
    # (_shard_h, shard) — two cheap key-column re-reads of the input
    # lineage instead of caching the corpus' full text rows.
    pos = partitioned_prefix_sum(
        keyed.withColumn("_one", F.lit(1)),
        ["shard"],
        "_shard_h",
        ["_one"],
        tie_cols=[id_col],
        persist_input=False,
    )
    return (
        pos.withColumn("shard_pos", F.col("cum__one").cast("int"))
        .drop("_shard_h", "_one", "cum__one")
    )


def shards_oracle_sql(
    table: str,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of assign_shards (hash, shard, and position are all
    integer-exact — no rounding needed)."""
    h = f"('0x'||substr(md5('shard:{seed}:'||{id_col}),1,15))::BIGINT"
    return f"""
        SELECT {id_col},
               CAST({h} % {n_shards} AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY {h} % {n_shards}
                   ORDER BY {h}, {id_col}
               ) AS INTEGER) AS shard_pos
        FROM {table}
        ORDER BY {id_col}
    """
