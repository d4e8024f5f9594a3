"""Driver-contract rehearsal: run every queries() entry on Spark at
sf0.01 and compare row-count + order-insensitive values against the
DuckDB oracle_sql() — the same shape of check the driver performs."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # absorb float repr noise beyond the query-level rounding
        return f"{v:.6g}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLE = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_duckdb(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.sql(ORACLE[name])
    duck_cols = res.columns
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    sset = _rowset([c.lower() for c in spark_cols], spark_rows)
    dset = _rowset([c.lower() for c in duck_cols], duck_rows)
    mismatches = [(a, b) for a, b in zip(sset, dset) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLE))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "url",
        "lang_pred",
        "lang_conf",
        "drop_reason",
        "keep",
        "scrubbed_text",
    }


def test_registry_top_block_is_exactly_driver_cap():
    """The driver's correctness sweep records only the FIRST 50
    registered queries; the registry is deliberately ordered so each
    operator family's best representative sits in that window. Guard
    the count so an insertion without a matching demotion can't
    silently push a query out of the driver's view."""
    import inspect
    import re

    src = inspect.getsource(entry_mod.queries)
    top = src.split("# ---- tail")[0]
    names = re.findall(r'"([a-z0-9_]+)":', top)
    assert len(names) == 50, (len(names), names[-3:])
    # and every registered name resolves + (almost) all have oracles
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert set(q) - set(o) == {"scrub_documents"}  # the rows-only one


def test_contract_imports_from_foreign_cwd(tmp_path):
    """The contract file must load by path from any working directory,
    with the repo on neither ``sys.path`` nor ``PYTHONPATH``: its own
    path set-up has to reach the query modules it imports."""
    import pathlib
    import subprocess
    import sys

    entry_file = pathlib.Path(entry_mod.__file__).resolve()
    probe = (
        "import runpy\n"
        f"ns = runpy.run_path({str(entry_file)!r})\n"
        "q, o = ns['queries'](), ns['oracle_sql']()\n"
        "assert len(q) == 121, len(q)\n"
        "assert set(o) <= set(q), sorted(set(o) - set(q))\n"
        "assert all(callable(f) for f in q.values())\n"
        "print('ok')\n"
    )
    env = {
        k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYTHONSTARTUP")
    }
    r = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr[-2000:]
