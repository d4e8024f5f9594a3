"""Corpus snapshot diff: what changed between two versions of a table.

Incremental curation runs over a moving crawl: each snapshot adds,
drops, and edits documents. Downstream stages (dedup stores, DSIR
scores, shard layouts) only need to process the DELTA — this operator
computes it exactly:

  status = 'added'      id only in the new snapshot
           'removed'    id only in the old snapshot
           'changed'    id in both, content digest differs
           'unchanged'  id in both, content digest equal

Scale shape: content columns are digested MAP-SIDE to one md5 per row
(16 bytes), so document text never rides the diff shuffle — the full
outer join moves only (id, digest) pairs, hash-partitioned on the id
key (uniform by construction for synthetic/uuid ids; url-hash ids in
the pipeline are salted upstream). One shuffle per side, no window, no
driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["snapshot_diff", "diff_oracle_sql"]


def _digest(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in content_cols]
    return df.select(
        F.col(id_col), F.md5(F.concat_ws("\x1f", *parts)).alias("_dg")
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    content_cols: list[str] = ("text",),
    include_unchanged: bool = False,
) -> DataFrame:
    """(id, status) per document across the two snapshots. Content
    equality is md5 over the content columns joined with a 0x1f unit
    separator (NULL encoded distinctly from the empty string), so two
    rows compare equal iff every content column matches."""
    o = _digest(old_df, id_col, list(content_cols)).withColumnRenamed("_dg", "_dgo")
    n = _digest(new_df, id_col, list(content_cols)).withColumnRenamed("_dg", "_dgn")
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_dgo").isNull(), F.lit("added"))
        .when(F.col("_dgn").isNull(), F.lit("removed"))
        .when(F.col("_dgo") == F.col("_dgn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(F.col(id_col), status.alias("status"))
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out


def diff_oracle_sql(
    old_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> str:
    """DuckDB twin. ``old_sql``/``new_sql`` are subqueries yielding the
    two snapshots with the id + content columns."""
    parts = " || chr(31) || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0) || 'null')" for c in content_cols
    )
    return f"""
        WITH o AS (SELECT {id_col}, md5({parts}) AS dgo FROM ({old_sql}) t),
             n AS (SELECT {id_col}, md5({parts}) AS dgn FROM ({new_sql}) t)
        SELECT COALESCE(o.{id_col}, n.{id_col}) AS {id_col},
               CASE WHEN o.dgo IS NULL THEN 'added'
                    WHEN n.dgn IS NULL THEN 'removed'
                    WHEN o.dgo = n.dgn THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n ON o.{id_col} = n.{id_col}
        WHERE (CASE WHEN o.dgo IS NULL THEN 'added'
                    WHEN n.dgn IS NULL THEN 'removed'
                    WHEN o.dgo = n.dgn THEN 'unchanged'
                    ELSE 'changed' END) <> 'unchanged'
        ORDER BY {id_col}
    """
