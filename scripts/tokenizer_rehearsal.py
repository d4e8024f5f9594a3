"""Volume rehearsal for the tokenizer-training / clustering operators:

* bpe_merges at 200k pages: the corpus collapses into the word-frequency
  table first, so each of the 30 merge ranks costs O(|vocab|) — the
  per-rank wall must be flat (vocab-bounded), NOT corpus-bounded;
* bpe_encode over the same 200k pages with the learned merges — one
  map-only Arrow pass; tokens/sec is the budget number;
* kmeans_cluster_stats at 500k synthetic 64-d embeddings, k=64: per
  iteration one corpus pass + a k x d driver collect; inertia must be
  monotone non-increasing in iterations (Lloyd's invariant).

Invariants: every encoded word ends in exactly one '</w>'-bearing
subword (subword-with-marker count == whitespace word count); k-means
cluster sizes sum to n. One JSON line.

Usage: python scripts/tokenizer_rehearsal.py [--docs 200000] [--vecs 500000]
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
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--vecs", type=int, default=500_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--merges", type=int, default=30)
    ap.add_argument("--k", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.bpe import bpe_encode, bpe_merges
    from deidentify_spark.operators.clustering import kmeans_cluster_stats
    from deidentify_spark.runtime import session_builder
    from deidentify_spark.sources.pages import generate_pages

    spark = (
        session_builder(args.cores)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.driver.memory", "8g")  # word-gram explode posture
        .appName("tokenizer-rehearsal")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"docs": args.docs, "vecs": args.vecs, "cores": args.cores}

    docs = generate_pages(
        spark, args.docs, seed=11, partitions=args.cores * 2
    ).select(F.xxhash64("url").alias("doc_id"), "text")
    docs.write.mode("overwrite").parquet("/tmp/tok_rehearsal_docs")
    docs = spark.read.parquet("/tmp/tok_rehearsal_docs")
    n = docs.count()

    t0 = time.time()
    merges = bpe_merges(docs, num_merges=args.merges)
    mrows = merges.collect()
    wall = round(time.time() - t0, 1)
    out["bpe_merges"] = {
        "wall_s": wall,
        "merges": len(mrows),
        "sec_per_rank": round(wall / max(len(mrows), 1), 2),
        "top_pair_count": int(mrows[0]["pair_count"]) if mrows else 0,
    }

    t0 = time.time()
    enc = bpe_encode(docs, [(r["lhs"], r["rhs"]) for r in mrows])
    stats = enc.agg(
        F.sum(F.size("bpe_tokens")).alias("tok"),
        F.sum(
            F.size(F.filter("bpe_tokens", lambda s: s.contains("</w>")))
        ).alias("words_enc"),
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    words = docs.agg(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda w: w != F.lit("")))
        ).alias("w")
    ).collect()[0].w
    assert stats.words_enc == words, (stats.words_enc, words)
    out["bpe_encode"] = {
        "wall_s": wall,
        "docs_per_sec": round(n / wall),
        "subwords_per_sec": round(stats.tok / wall),
        "subwords": int(stats.tok),
        "subwords_per_word": round(stats.tok / words, 3),
    }

    # synthetic embeddings: deterministic-enough JVM-side rand columns
    emb = (
        spark.range(args.vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                *[F.rand(seed=100 + i) for i in range(64)]
            ).cast("array<float>").alias("embedding"),
        )
    )
    emb.write.mode("overwrite").parquet("/tmp/tok_rehearsal_emb")
    emb = spark.read.parquet("/tmp/tok_rehearsal_emb")

    t0 = time.time()
    s3 = kmeans_cluster_stats(emb, k=args.k, n_iter=3).collect()
    wall3 = round(time.time() - t0, 1)
    spark.catalog.clearCache()
    t0 = time.time()
    s1 = kmeans_cluster_stats(emb, k=args.k, n_iter=1).collect()
    wall1 = round(time.time() - t0, 1)
    spark.catalog.clearCache()
    n3 = sum(r["n"] for r in s3)
    i3 = sum(r["inertia"] for r in s3)
    i1 = sum(r["inertia"] for r in s1)
    assert n3 == args.vecs, (n3, args.vecs)
    assert i3 <= i1 + 1e-6, (i3, i1)  # Lloyd's monotone improvement
    out["kmeans"] = {
        "wall_s_3iter": wall3,
        "wall_s_1iter": wall1,
        "sec_per_iter": round((wall3 - wall1) / 2, 1),
        "k": args.k,
        "clusters_nonempty": len(s3),
        "inertia_1iter": round(i1, 1),
        "inertia_3iter": round(i3, 1),
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
