"""Re-identification-risk audit: k-anonymity and l-diversity.

The reference library (deidentify.go) REPLACES direct identifiers; the
complementary risk on tabular releases is quasi-identifier linkage — a
combination of innocuous columns (nation, segment, zip...) unique
enough to re-identify a row (Sweeney 2002, k-anonymity; Machanavajjhala
2007, l-diversity). This operator measures that property per class, so
a scrubbed table can be released with a stated k.

Definitions over the equivalence classes induced by ``quasi_cols``:
- a table is k-anonymous iff every class has >= k rows;
- a class is l-diverse (distinct-l) iff its sensitive column takes >= l
  distinct values (guards homogeneity attacks: a 10-row class whose
  every member shares one diagnosis re-identifies the attribute even
  when k holds).

Scale shape: ONE map-side-combined groupBy on the quasi columns
(count + count_distinct) — no window, no join, no driver collect; a hot
equivalence class (the normal case: quasi combos are Zipfian) collapses
in the combiner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["k_anonymity_classes", "k_anonymity_oracle_sql"]


def k_anonymity_classes(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l: int = 2,
) -> DataFrame:
    """Per-equivalence-class audit: the quasi columns, ``class_size``,
    ``violates_k``, and (when ``sensitive_col`` is given) ``l_div`` +
    ``violates_l``."""
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.count_distinct(sensitive_col).alias("l_div"))
    out = df.groupBy(*quasi_cols).agg(*aggs)
    out = out.withColumn("violates_k", F.col("class_size") < k)
    if sensitive_col is not None:
        out = out.withColumn("violates_l", F.col("l_div") < l)
    return out


def k_anonymity_oracle_sql(
    table: str,
    quasi_cols: list[str],
    k: int,
    sensitive_expr: str,
    l: int,
) -> str:
    """DuckDB twin of k_anonymity_classes with a sensitive expression."""
    q = ", ".join(quasi_cols)
    return f"""
        SELECT {q},
               COUNT(*) AS class_size,
               COUNT(DISTINCT {sensitive_expr}) AS l_div,
               COUNT(*) < {k} AS violates_k,
               COUNT(DISTINCT {sensitive_expr}) < {l} AS violates_l
        FROM {table}
        GROUP BY {q}
        ORDER BY {q}
    """
