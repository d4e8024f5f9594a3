"""Volume rehearsal for the exact fuzzy join (PassJoin blocking).

Two legs:

* ENTROPIC leg — N unique high-entropy strings (md5-derived, 8-16
  chars) with N/40 planted perturbed twins at edit distance 1-2: the
  realistic entity-resolution shape (names/titles have natural
  entropy, so segment buckets stay tiny). Reports wall, candidate and
  match counts, and the LOSSLESSNESS invariant: every planted pair
  must be recovered (the blocking is provably exact; this drives the
  proof at volume).
* TEMPLATE leg — N/4 strings sharing a hot template prefix
  ("user#<digits>"): the documented degenerate shape where shared
  segments make candidates quadratic. Run CAPPED (max_bucket_size) to
  show the cap bounds the work, reporting the wall and the match count
  vs the uncapped DuckDB ground truth at a small slice.

One JSON line. Usage:
    spark-submit --master local[32] --driver-memory 8g \
        --py-files /tmp/pkg.zip scripts/fuzzy_rehearsal.py [--n 200000]
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--cap", type=int, default=200)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.fuzzy import fuzzy_self_join
    from deidentify_spark.runtime import session_builder

    spark = (
        session_builder(args.cores)
        .appName("fuzzy-rehearsal")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {"n": args.n, "cores": args.cores}

    # ---- entropic leg: unique strings + planted near-dup twins
    n_base = args.n
    n_plant = n_base // 40
    base = spark.range(n_base).select(
        F.col("id"),
        # 8-16 chars of md5 hex: high entropy, realistic name-ish length
        F.substring(
            F.md5(F.concat(F.lit("fz:"), F.col("id").cast("string"))),
            1,
            (8 + F.pmod(F.col("id"), F.lit(9))).cast("int"),
        ).alias("name"),
    )
    # twin of row i = name(i) with 1-2 chars replaced (distance <= 2)
    plant = base.where(F.col("id") < n_plant).select(
        (F.col("id") + n_base).alias("id"),
        F.concat(
            F.lit("zz"), F.substring(F.col("name"), 3, 99)
        ).alias("name"),
    )
    data = base.unionByName(plant)
    data.write.mode("overwrite").parquet("/tmp/fuzzy_rehearsal_data")
    data = spark.read.parquet("/tmp/fuzzy_rehearsal_data")
    n_rows = data.count()

    t0 = time.time()
    matches = fuzzy_self_join(data, 2, col="name", id_col="id").persist()
    n_match = matches.count()
    wall = round(time.time() - t0, 1)
    # losslessness: every planted twin pair (i, i+n_base) recovered
    planted_found = (
        matches.where(
            (F.col("id_b") - F.col("id_a") == n_base)
            & (F.col("id_a") < n_plant)
        ).count()
    )
    matches.unpersist()
    out["entropic"] = {
        "rows": n_rows,
        "wall_s": wall,
        "rows_per_sec": round(n_rows / wall) if wall else None,
        "n_matches": n_match,
        "planted": n_plant,
        "planted_found": planted_found,
        "lossless_ok": planted_found == n_plant,
    }

    # ---- template leg: hot shared-prefix strings, capped
    n_t = args.n // 4
    tdata = spark.range(n_t).select(
        F.col("id"),
        F.concat(
            F.lit("user#"), F.lpad(F.col("id").cast("string"), 7, "0")
        ).alias("name"),
    )
    t0 = time.time()
    n_capped = fuzzy_self_join(
        tdata, 2, col="name", id_col="id", max_bucket_size=args.cap
    ).count()
    wall_t = round(time.time() - t0, 1)
    # ground truth on a small slice (uncapped = exact by theorem): shows
    # what recall the cap trades away on template data, where EVERY
    # segment key is hot and the right tool is an upstream exact block
    slice_n = 2000
    tslice = tdata.where(F.col("id") < slice_n)
    t0 = time.time()
    n_true_slice = fuzzy_self_join(tslice, 2, col="name", id_col="id").count()
    wall_slice = round(time.time() - t0, 1)
    n_capped_slice = fuzzy_self_join(
        tslice, 2, col="name", id_col="id", max_bucket_size=args.cap
    ).count()
    out["template"] = {
        "rows": n_t,
        "cap": args.cap,
        "capped_wall_s": wall_t,
        "capped_matches": n_capped,
        "slice_rows": slice_n,
        "slice_true_matches": n_true_slice,
        "slice_true_wall_s": wall_slice,
        "slice_capped_matches": n_capped_slice,
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
