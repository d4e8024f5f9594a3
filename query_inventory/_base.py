"""What every query family shares: the table reader, the secret key of
the scrub queries, the ``@oracle`` decorator that attaches a query's
DuckDB twin, and the frozen-golden twin renderer."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SECRET_KEY = "test-secret-key"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Every query path passes through here, and the caller of
    # ``queries()`` builds its own session (not runtime.session_builder):
    # pin the cached-plan-AQE conf deterministically so a query's cache
    # partitioning never depends on which queries ran earlier in the
    # session.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def oracle(sql: str | Callable[[], str]) -> Callable:
    """Attach the query's DuckDB twin as ``query.oracle_sql()``, which
    ``__spark_entry__.oracle_sql()`` calls. A twin that reads a file (a
    frozen golden) is passed as a callable, so the file is read when
    the twin is asked for, not when the module is imported."""
    twin = sql if callable(sql) else lambda: sql

    def attach(query: Callable) -> Callable:
        query.oracle_sql = twin
        return query

    return attach


def _golden_values_sql(fixture_name: str, cols: list[tuple[str, str]]) -> str:
    """Render a frozen-golden oracle: a VALUES table from a committed
    fixture JSON (list of row dicts).

    Used for deterministic-but-not-SQL-expressible operators (the fused
    langid/perplexity/scrub pipeline): the Spark side computes fresh, the
    oracle pins the expected output byte-for-byte. The fixture is
    regenerated only by an intentional pipeline-semantics change
    (tests/test_pipeline_spark.py guards the same values)."""
    import json

    with open(os.path.join(_REPO, "fixtures", fixture_name)) as f:
        rows = json.load(f)

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    values = ",\n                ".join(
        "(" + ", ".join(lit(r[c]) for c, _ in cols) + ")" for r in rows
    )
    decls = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
    names = ", ".join(c for c, _ in cols)
    return f"""
            SELECT {decls}
            FROM (VALUES
                {values}
            ) AS t({names})
            ORDER BY {cols[0][0]}
    """


def _golden_union_arm(fixture_name: str, cols: list[tuple[str, str]]) -> str:
    """A frozen-golden SELECT usable as a UNION ALL arm (no ORDER BY),
    for queries whose oracle mixes SQL-computed and golden-pinned rows."""
    sql = _golden_values_sql(fixture_name, cols)
    return sql.rsplit("ORDER BY", 1)[0]
