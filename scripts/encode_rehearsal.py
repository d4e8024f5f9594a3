"""Volume rehearsal for the map-side text-prep operators — the shapes
that must stay shuffle-free at corpus scale:

* vocab build (groupBy(term) count -> TakeOrdered top-k) at 500k pages;
* encode_token_ids: O(V) vocab collect + ONE Arrow projection over the
  corpus — throughput in tokens/sec is the number a tokenizer-feed
  stage is budgeted by;
* chunk_text: sliding-window chunking as a pure array transform —
  chunk rows out per second.

Invariants: total encoded tokens == direct whitespace token count
(nothing dropped by the dict path), and chunk reconstruction volume
matches the closed-form chunk count. One JSON line.

Usage: python scripts/encode_rehearsal.py [--docs 500000] [--cores 32]
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
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--vocab-k", type=int, default=4096)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.curation import chunk_text
    from deidentify_spark.operators.vocab import encode_token_ids, vocab_topk
    from deidentify_spark.runtime import session_builder
    from deidentify_spark.sources.pages import generate_pages

    spark = (
        session_builder(args.cores)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.driver.memory", "8g")  # word arrays at 500k pages
        # OOM the 1g default heap in the 32-way parquet text read (same
        # posture as skew_rehearsal; the no-8g bench note is about
        # TIMING bias on small legs, not survival drills)
        .appName("encode-rehearsal")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {"docs": args.docs, "cores": args.cores}

    docs = generate_pages(
        spark, args.docs, seed=5, partitions=args.cores * 2
    ).select(F.xxhash64("url").alias("doc_id"), "text")
    docs.write.mode("overwrite").parquet("/tmp/encode_rehearsal_docs")
    docs = spark.read.parquet("/tmp/encode_rehearsal_docs")
    n = docs.count()

    t0 = time.time()
    vocab = vocab_topk(docs, k=args.vocab_k).select(
        "term", (F.col("rank") - 1).cast("bigint").alias("token_id")
    )
    enc = encode_token_ids(docs, vocab, n_oov_buckets=65536)
    stats = enc.agg(
        F.sum(F.size("token_ids")).alias("tok"),
        F.sum(
            F.size(
                F.filter(
                    "token_ids", lambda x: x >= F.lit(args.vocab_k)
                )
            )
        ).alias("oov"),
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    direct = docs.agg(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda w: w != F.lit("")))
        ).alias("t")
    ).collect()[0].t
    assert stats.tok == direct, (stats.tok, direct)
    out["encode_token_ids"] = {
        "wall_s": wall,
        "docs_per_sec": round(n / wall),
        "tokens_per_sec": round(stats.tok / wall),
        "total_tokens": stats.tok,
        "oov_tokens": stats.oov,
        "vocab_k": args.vocab_k,
    }

    t0 = time.time()
    ch = chunk_text(docs, window=128, stride=96)
    agg = ch.agg(
        F.count(F.lit(1)).alias("chunks"), F.sum("n_tokens").alias("tok")
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    # closed form: ceil-div chunk count per doc over the token counts
    expect = docs.agg(
        F.sum(
            F.when(
                F.size(F.filter(F.split("text", " "), lambda w: w != F.lit("")))
                > 0,
                (
                    (
                        F.size(
                            F.filter(
                                F.split("text", " "), lambda w: w != F.lit("")
                            )
                        )
                        - 1
                    )
                    / 96
                ).cast("bigint")
                + 1,
            ).otherwise(0)
        ).alias("c")
    ).collect()[0].c
    assert agg.chunks == expect, (agg.chunks, expect)
    out["chunk_text"] = {
        "wall_s": wall,
        "docs_per_sec": round(n / wall),
        "chunks": agg.chunks,
        "chunk_tokens": agg.tok,
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
