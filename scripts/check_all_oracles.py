"""Driver-style correctness sweep: run every registered query on Spark
and its oracle SQL on DuckDB at sf0.01, compare rows/schema/values.

Usage: python scripts/check_all_oracles.py [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    from deidentify_spark.runtime import session_builder

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = session_builder(8).getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    names = sys.argv[1:] or list(e.queries())
    full_sweep = not sys.argv[1:]
    results: dict[str, dict] = {}
    # oracle_sql() eagerly renders every golden fixture; a single missing
    # fixture must fail the affected queries, not abort the whole sweep
    try:
        oracles = e.oracle_sql()
        oracle_err = None
    except Exception as ex:  # noqa: BLE001
        oracles, oracle_err = {}, ex
        print(f"WARNING: oracle_sql() failed ({ex}); all queries run rows-only")
    failed = []
    for name in names:
        try:
            sdf = e.queries()[name](spark, sf).toPandas()
            if name not in oracles:
                results[name] = {"mode": "rows_only", "rows": len(sdf),
                                 "ok": True}
                print(f"{name}: rows-only ({len(sdf)} rows)")
                continue
            odf = con.execute(oracles[name]).df()
            cols = sorted(sdf.columns)
            assert cols == sorted(odf.columns), (cols, sorted(odf.columns))
            s = sdf[cols].sort_values(cols).reset_index(drop=True)
            o = odf[cols].sort_values(cols).reset_index(drop=True)
            assert len(s) == len(o), (len(s), len(o))
            pd.testing.assert_frame_equal(s, o, check_dtype=False)
            # The driver's value-hash is REPRESENTATION-sensitive: round
            # 2's only red row had identical values but Spark int64 vs
            # DuckDB HUGEINT->float64 (73327 vs 73327.0 hash apart).
            # check_dtype=False above would silently pass that, so pin
            # the numeric KIND per column too (int vs float vs other).
            kind_mismatch = [
                (c, s[c].dtype, o[c].dtype)
                for c in cols
                if s[c].dtype.kind != o[c].dtype.kind
                and {s[c].dtype.kind, o[c].dtype.kind} <= {"i", "u", "f"}
            ]
            assert not kind_mismatch, f"dtype-kind (driver hash) {kind_mismatch}"
            results[name] = {"mode": "value_checked", "rows": len(s),
                             "ok": True}
            print(f"{name}: OK ({len(s)} rows)")
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            results[name] = {"mode": "value_checked", "ok": False,
                             "err": f"{type(ex).__name__}: {str(ex)[:300]}"}
            print(f"{name}: FAIL {type(ex).__name__}: {str(ex)[:300]}")
    spark.stop()
    if full_sweep:
        # committed artifact covering the FULL registry — the driver's
        # own sweep records only the first 50 queries
        import json

        out_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_LOCAL.json",
        )
        with open(out_path, "w") as f:
            json.dump({"sf_dir": sf, "n_queries": len(names),
                       "n_green": len(names) - len(failed),
                       "queries": results}, f, indent=1)
        print(f"wrote {out_path}")
    print(f"\n{len(names) - len(failed)}/{len(names)} green; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
