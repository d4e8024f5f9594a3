"""Volume rehearsal of the round-5 selection/search operators: DSIR
importance-resampling selection and BM25 top-k over a generated corpus
large enough to surface per-doc cost landmines that 500-doc tests
cannot (the ingest_rehearsal posture). Reports wall + docs/sec as one
JSON line.

DSIR target = the generator's golden keep label (the quality-target
posture: "select raw docs resembling the kept set"); BM25 query = three
mid-frequency corpus terms.

Usage: python scripts/dsir_rehearsal.py [--docs 500000] [--cores 32]
"""

from __future__ import annotations

import argparse
import json
import pathlib
import shutil
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--k", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.dsir import dsir_select
    from deidentify_spark.operators.search import bm25_topk
    from deidentify_spark.runtime import session_builder
    from deidentify_spark.sources.pages import generate_pages

    spark = (
        session_builder(args.cores)
        # pages ride Arrow out of generate_pages: batches must be sized
        # in BYTES or 32 concurrent tasks blow the 1 GiB netty direct
        # pool (same landmine ingest_rehearsal documents; SCALE.md
        # "Memory & spill posture")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        # 256-word pages x 32 tasks x word-array/gram expansion do not
        # fit the 1 GiB default heap (measured OOM at 500k docs); the
        # bench's do-not-raise-driver-memory note is about TIMING bias
        # on small legs, irrelevant to a does-it-survive volume drill
        .config("spark.driver.memory", "8g")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .appName("dsir-rehearsal")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.k is None:
        args.k = args.docs // 10

    # corpus goes to parquet, not a heap persist: 500k pages
    # deserialized are ~3-4x their 750 MB text in java objects and OOM
    # the 1 GiB default heap (measured); a parquet round-trip is the
    # ingest_rehearsal posture and matches how a real corpus arrives
    import tempfile

    tmp = tempfile.mkdtemp(prefix="dsir-rehearsal-")
    corpus_path = f"{tmp}/corpus"
    (
        generate_pages(spark, args.docs, seed=77, partitions=args.cores * 2)
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            "text",
            F.col("expected_keep").alias("is_target"),
        )
        .write.mode("overwrite")
        .parquet(corpus_path)
    )
    docs = spark.read.parquet(corpus_path)
    n = docs.count()  # materialize the input outside the timed region

    n_tokens = docs.select(
        F.sum(F.size(F.split(F.trim("text"), "[ \\t\\n\\f\\r]+")))
    ).first()[0]
    out = {"n_docs": n, "n_tokens": int(n_tokens), "cores": args.cores}

    from deidentify_spark.operators.dsir import dsir_log_weights

    # one-pass scoring alone, to attribute the select's two-branch cost
    t0 = time.monotonic()
    dsir_log_weights(docs, "is_target").select(
        F.sum("dsir_logw")
    ).first()
    dt = time.monotonic() - t0
    out["dsir_score_only"] = {
        "wall_s": round(dt, 1),
        "tokens_per_sec": round(n_tokens / dt, 1),
    }

    t0 = time.monotonic()
    sel = dsir_select(docs, "is_target", k=args.k)
    n_sel = sel.where("dsir_selected").count()
    dt = time.monotonic() - t0
    out["dsir"] = {
        "k": args.k,
        "n_selected": n_sel,
        "wall_s": round(dt, 1),
        "docs_per_sec": round(n / dt, 1),
        "tokens_per_sec": round(n_tokens / dt, 1),
    }

    t0 = time.monotonic()
    top = bm25_topk(docs, ["harbor", "museum", "debate"], k=20)
    rows = top.collect()
    dt = time.monotonic() - t0
    out["bm25"] = {
        "top_k": len(rows),
        "wall_s": round(dt, 1),
        "docs_per_sec": round(n / dt, 1),
    }

    print(json.dumps(out))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
