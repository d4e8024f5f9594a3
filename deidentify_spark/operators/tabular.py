"""Tabular de-identification: the reference's Table/Slices API surface on
DataFrames (deidentify.go:171-215), plus skew-safe aggregation helpers.

Semantics preserved from the reference:
* every column has a semantic type (name/email/phone/ssn/credit_card/
  address/generic); generic passes through unchanged
  (deidentify.go:296-299);
* null stays null (deidentify.go:194-197), '' stays ''
  (deidentify.go:689-692);
* replacements are pure in (secret_key, type, value) — the per-column
  scrub is a narrow map, no shuffle, no shared state;
* missing types are inferred from the FIRST 10 rows by regex scoring
  (deidentify.go:488-502, 789-841) — here a driver-side limit(10) on a
  deterministic order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from deidentify_spark.functions.scrub import scrub_column_udf
from deidentify_spark.oracle import Deidentifier


def infer_column_types(
    df: DataFrame, columns: list[str] | None = None, order_by: str | None = None
) -> dict[str, str]:
    """Infer a semantic PII type per column from the first 10 rows.

    The reference samples the FIRST 10 rows; Spark's limit() without an
    order is nondeterministic, so pass ``order_by`` (any unique column)
    for reproducible inference — mirroring SURVEY.md §2.D's fidelity
    note.
    """
    columns = columns or df.columns
    sample_df = df.select(*columns)
    if order_by:
        sample_df = sample_df.orderBy(order_by)
    from deidentify_spark.functions.coerce import go_format_float, go_format_value

    dtypes = dict(df.dtypes)

    def cell(v, c):
        if v is None:
            return ""
        # float columns must stringify with the SAME bits the scrub path
        # uses (32 for FloatType): collect() widens float32 to a Python
        # double, and its 64-bit-shortest form ('0.10000000149011612')
        # has digit runs long enough to mis-infer the column as
        # phone/ssn, which the scrub would then destroy
        if dtypes.get(c) == "float":
            return go_format_float(float(v), bits=32)
        return go_format_value(v)

    rows = sample_df.limit(10).collect()
    data = [[cell(row[c], c) for c in columns] for row in rows]
    oracle = Deidentifier("unused-inference-key")  # inference is key-free
    types = oracle.infer_column_types(data)
    return dict(zip(columns, types))


def deidentify_table(
    df: DataFrame,
    secret_key: str,
    column_types: dict[str, str] | None = None,
) -> DataFrame:
    """Per-column typed scrub of a whole DataFrame (reference Table/Slices).

    Columns absent from ``column_types`` (or typed 'generic') pass
    through untouched — including non-string columns, which are never
    coerced unless they carry a PII type. PII-typed non-string columns
    stringify with Go `%v` semantics (deidentify.go:199) so the hashed
    replacement matches the reference and the scalar oracle byte-for-byte:
    booleans become 'true'/'false' (a Column expression), floats use
    Go's shortest 'g' form via a vectorized pandas UDF (Spark's
    cast(string) of 100000.0 would give '100000.0', Go gives '100000'),
    everything else casts. Without ``column_types`` the types are
    inferred from an unordered sample; pass ``infer_column_types(df,
    order_by=...)`` for reproducible inference.
    """
    if column_types is None:
        column_types = infer_column_types(df)
    dtypes = dict(df.dtypes)
    out_cols = []
    for c in df.columns:
        t = column_types.get(c, "generic")
        if t == "generic":
            out_cols.append(F.col(c))
        else:
            scrub = scrub_column_udf(secret_key, t, c)
            out_cols.append(scrub(_go_str(c, dtypes[c])).alias(c))
    return df.select(*out_cols)


def _go_str(col_name: str, dtype: str):
    """Stringify a column with Go fmt `%v` parity (see functions/coerce)."""
    col = F.col(col_name)
    if dtype == "string":
        return col
    if dtype == "boolean":
        return F.when(col.isNull(), None).otherwise(
            F.when(col, "true").otherwise("false")
        )
    if dtype in ("float", "double"):
        from deidentify_spark.functions.coerce import go_format_float

        bits = 32 if dtype == "float" else 64

        # Route through the JVM string cast first: a float64 pandas
        # series cannot distinguish SQL NULL from a NaN VALUE (Arrow
        # hands both over as NaN), but Java's toString keeps them apart
        # (null vs 'NaN') — and the reference hashes NaN cells as the
        # Go %v string 'NaN', it does not null them out. The cast string
        # is round-trip-unique, so re-parsing recovers the exact value
        # before Go-shortest formatting.
        @F.pandas_udf(StringType())
        def fmt(v: pd.Series) -> pd.Series:
            # float('NaN'/'Infinity'/'-Infinity') all parse, and
            # go_format_float maps them to Go's 'NaN'/'+Inf'/'-Inf'
            return v.map(
                lambda s: None if s is None else go_format_float(float(s), bits)
            )

        return fmt(col.cast("string"))
    return col.cast("string")


def group_quality_profile(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group value profile via applyInPandas (grouped-map Arrow UDF):
    exact interpolated quartiles + mean/count computed with numpy inside
    each group's batch. The grouped-map pattern for per-entity custom
    logic that built-in aggregates can't express; here the profile itself
    is chosen to be DuckDB-replicable (quantile_cont) so the driver can
    value-check the plumbing."""
    import numpy as np
    import pandas as pd

    schema = (
        f"{group_col} string, n_rows long, mean_value double, "
        "p25 double, p50 double, p75 double"
    )

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].to_numpy(dtype="float64")
        # SQL NULLs arrive as NaN: drop them like SQL aggregates do —
        # np.percentile/mean would otherwise return NaN for the whole
        # group, guaranteed to mismatch the DuckDB quantile_cont check
        v = v[~np.isnan(v)]
        if v.size == 0:
            return pd.DataFrame(
                {
                    group_col: [pdf[group_col].iloc[0]],
                    "n_rows": [len(pdf)],
                    "mean_value": [None],
                    "p25": [None],
                    "p50": [None],
                    "p75": [None],
                }
            )
        q25, q50, q75 = np.percentile(v, [25, 50, 75], method="linear")
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "n_rows": [len(pdf)],  # COUNT(*): all rows incl. nulls
                "mean_value": [round(float(v.mean()), 4)],
                "p25": [round(float(q25), 4)],
                "p50": [round(float(q50), 4)],
                "p75": [round(float(q75), 4)],
            }
        )

    return df.select(group_col, value_col).groupBy(group_col).applyInPandas(
        profile, schema
    )


def salted_group_count(
    df: DataFrame,
    key_col: str,
    n_salts: int = 16,
    agg_col: str | None = None,
    salt_key_col: str | None = None,
) -> DataFrame:
    """Two-phase (salted) aggregation for skewed keys.

    Phase 1 pre-aggregates on (key, salt) — the hot key's rows spread
    over ``n_salts`` reducers — phase 2 merges the partials. Results are
    identical to a plain groupBy (count/sum are associative); only the
    shuffle layout changes, which is the point at 100 TB with Zipf-hot
    hosts. AQE's skew handling covers joins; this covers aggregations.

    The salt derives from ``salt_key_col`` (any stable per-row key, e.g.
    the doc id) when given, else from a hash of every column — never from
    ``monotonically_increasing_id``, whose value depends on partition
    layout and would make the physical shuffle sizes nondeterministic
    across runs/AQE replans.

    Caveat of the content-hash default: byte-identical projected rows all
    hash to ONE salt (no deterministic pure function of content can
    spread identical rows), so a hot key whose rows are duplicates stays
    hot. Always pass ``salt_key_col`` (a unique id column) when the
    projection can contain duplicate rows — results are identical either
    way; only the shuffle spread differs.
    """
    if salt_key_col is not None:
        salt_src = F.xxhash64(salt_key_col)
    else:
        salt_src = F.xxhash64(*[F.col(c) for c in df.columns])
    salt = F.pmod(salt_src, F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key_col, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            *(
                [F.sum(agg_col).alias("_sum")]
                if agg_col
                else []
            ),
        )
    )
    aggs = [F.sum("_cnt").alias("n_rows")]
    if agg_col:
        # cast before rounding: DuckDB's ROUND(SUM(BIGINT), 2) is DOUBLE,
        # Spark's round(sum(long), 2) stays long — align on double
        aggs.append(
            F.round(F.sum("_sum").cast("double"), 2).alias(f"sum_{agg_col}")
        )
    return partial.groupBy(key_col).agg(*aggs)
