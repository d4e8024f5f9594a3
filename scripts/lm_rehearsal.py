"""Volume rehearsal for the round-6 late additions with corpus-shaped
cost: Kneser-Ney LM (train + score) and LSH-candidate verification.

* kn_perplexity over N generated pages, trained on a 10% slice — the
  scale hazard is the hot-context join ("the" as w1 appears in a large
  fraction of all bigram rows). Reports wall, docs/sec, the max
  single-task runtime of the scoring stages (the skew symptom), and
  the invariant scored_docs == docs with >= 2 tokens.
* verify_candidate_pairs over the minhash-LSH candidates of a
  template-heavy corpus (guaranteed non-trivial pair volume): reports
  wall, pairs verified/sec, and the confirm/reject split.

One JSON line. Usage:
    python scripts/lm_rehearsal.py [--docs 200000] [--cores 32]
(spark-submit with --driver-memory 8g for the word-gram volume, per
the repo's measured local[32] heap rule.)
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from skew_rehearsal import _max_task_ms  # noqa: E402  (same harness)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.dedup import (
        minhash_lsh_candidates,
        verify_candidate_pairs,
    )
    from deidentify_spark.operators.lm import kn_perplexity
    from deidentify_spark.runtime import session_builder
    from deidentify_spark.sources.pages import generate_pages

    spark = (
        session_builder(args.cores)
        .config("spark.ui.enabled", "true")  # REST API for stage counters
        .appName("lm-rehearsal")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    ui_port = int(
        spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        if spark.sparkContext.uiWebUrl
        else 4040
    )
    stage_mark = -1

    out: dict[str, object] = {"docs": args.docs, "cores": args.cores}

    docs = (
        generate_pages(spark, args.docs, seed=11, partitions=args.cores * 2)
        .select(F.xxhash64("url").alias("doc_id"), "text")
    )
    docs.write.mode("overwrite").parquet("/tmp/lm_rehearsal_docs")
    docs = spark.read.parquet("/tmp/lm_rehearsal_docs")
    n = docs.count()
    _, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)

    # ---- leg 1: KN LM, train on ~10%, score everything
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    t0 = time.time()
    scored = kn_perplexity(docs, train)
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(F.avg("kn_ppl"), 2).alias("mean_ppl"),
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    mx, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    # invariant: every doc with >= 2 tokens (tokenizer's [a-z']+) scores
    n_eligible = docs.where(
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z']+"), F.lit(0))
        )
        >= 2
    ).count()
    _, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    out["kn_perplexity"] = {
        "wall_s": wall,
        "docs_per_sec": round(n / wall),
        "n_scored": agg.n_scored,
        "n_eligible": n_eligible,
        "invariant_ok": agg.n_scored == n_eligible,
        "mean_ppl": agg.mean_ppl,
        "max_task_ms": mx,
    }

    # ---- leg 2: verify the corpus's LSH candidates at the PRODUCTION
    # threshold (0.8) — this exercises the banded-Levenshtein + length
    # pre-gate fast path; min_sim=0.0 would force the full O(len^2)
    # distance on every pair, a shape no real dedup pass runs.
    pairs = minhash_lsh_candidates(
        docs, n=3, k=8, bands=4, max_bucket_size=512
    ).persist()
    n_pairs = pairs.count()
    _, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    t0 = time.time()
    ver = verify_candidate_pairs(docs, pairs, prefix_len=500, min_sim=0.8)
    n_confirmed = ver.count()
    wall = round(time.time() - t0, 1)
    mx, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    pairs.unpersist()
    out["verify_candidates"] = {
        "wall_s": wall,
        "n_pairs": n_pairs,
        "pairs_per_sec": round(n_pairs / wall) if wall else None,
        "n_confirmed_at_0.8": n_confirmed,
        "max_task_ms": mx,
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
