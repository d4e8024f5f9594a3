"""spark-submit entrypoint for the post-filter CURATION chain — the
second half of a training-data pipeline, composing the round-4/5
operators end-to-end on the quality-filter output:

    filter+scrub (run_pipeline, kept docs only)  ->  exact dedup
    (md5 canonical)  ->  fuzzy dedup (MinHash-LSH candidates ->
    connected components -> canonical keep; min-id by default,
    LONGEST member with --keep-best; NOTE the synthetic
    generator corpus is template-heavy BY DESIGN, so this stage drops
    aggressively there)  ->  [opt-in --max-per-host: FineWeb-style
    per-host cap, deterministic md5 priority]  ->  [opt-in --mixture
    "en=0.7,de=0.3" --mixture-budget CHARS: rebalance the pool to a
    target language mixture by char MASS over lang_pred]  ->  DSIR
    selection (importance-resample the
    deduped pool toward its lowest-perplexity quartile, Gumbel-top-k
    draw)  ->  deterministic shard assignment  ->  parquet partitioned
    by shard  ->  [opt-in --tokenize N: train an N-merge BPE tokenizer
    ON the curated corpus, encode every shard to subword sequences,
    write tokens/ partitioned by shard]  ->  per-stage lineage JSON.

Launch (local or cluster — the job only talks to the SparkSession):

    cd /root/repo && zip -qr /tmp/deidentify_spark.zip deidentify_spark
    spark-submit --master local[32] --driver-memory 8g \\
        --py-files /tmp/deidentify_spark.zip \\
        jobs/run_curation_job.py \\
        --output /path/to/run_output --secret-key k \\
        [--synthesize N | --input /path/to/pages_parquet] \\
        [--select-frac 0.5] [--n-shards 64] [--seed 0]

Every stage is deterministic (md5/xxhash keys, hash-seeded Gumbel
draw), so a re-run reproduces the same shards byte-for-byte — and the
job is RESUMABLE: each parquet barrier (filtered/, deduped/, shards/,
tokens/) commits with the pipeline/checkpoint.py protocol (overwrite
write, then an atomic _manifest.json — a crash between the two simply
re-runs that stage and overwrites), and the manifest carries a
fingerprint of every argument that feeds the stage, so a re-submit
skips completed stages (full re-submit after success is a
seconds-scale no-op) while ANY relevant argument change invalidates
the stage and everything downstream. Prints one JSON line: per-stage
doc counts + wall seconds (+ resumed flags).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time


def _resume(path: str, fp: str) -> dict | None:
    """The stage's committed manifest, or None if absent or committed
    under another fingerprint: the stage then re-runs (its overwrite
    write replaces the stale output)."""
    from deidentify_spark.pipeline.checkpoint import read_manifest

    m = read_manifest(path)
    return m if m is not None and m.get("fingerprint") == fp else None


def _maybe_tokenize(spark, args, fp3: str, stages: dict) -> None:
    """Opt-in terminal stage: train --tokenize BPE merges on the
    curated shards, encode them to subword sequences, write tokens/
    partitioned by shard. Resumable like every other stage; the
    learned merge table rides in the manifest (the tokenizer is a
    committed artifact of the run)."""
    if not args.tokenize:
        return
    from pyspark.sql import functions as F

    from deidentify_spark.pipeline.checkpoint import (
        commit_manifest,
        fingerprint,
    )

    fp4 = fingerprint({"up": fp3, "tokenize": args.tokenize})
    m4 = _resume(f"{args.output}/tokens", fp4)
    if m4 is not None:
        stages["tokenize"] = {
            "docs": m4["docs"],
            "subwords": m4.get("subwords"),
            "resumed": True,
        }
        return
    from deidentify_spark.operators.bpe import bpe_encode, bpe_merges

    t0 = time.time()
    # the shards barrier is the stage input (underscore-prefixed
    # manifest files are invisible to the parquet reader)
    sharded = spark.read.parquet(f"{args.output}/shards")
    mrows = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(sharded, num_merges=args.tokenize)
        .orderBy("rank")
        .collect()
    ]
    enc = bpe_encode(sharded, mrows).withColumn(
        "n_subwords", F.size("bpe_tokens")
    )
    enc.write.mode("overwrite").partitionBy("shard").parquet(
        f"{args.output}/tokens"
    )
    toks = spark.read.parquet(f"{args.output}/tokens")
    agg = toks.agg(
        F.count(F.lit(1)).alias("d"), F.sum("n_subwords").alias("s")
    ).collect()[0]
    stages["tokenize"] = {
        "docs": int(agg["d"]),
        "wall_s": round(time.time() - t0, 1),
        "subwords": int(agg["s"]),
        "merges": len(mrows),
    }
    commit_manifest(
        f"{args.output}/tokens",
        {
            "fingerprint": fp4,
            "docs": int(agg["d"]),
            "subwords": int(agg["s"]),
            "merge_table": mrows,
        },
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    source = p.add_mutually_exclusive_group(required=True)
    source.add_argument("--input")
    source.add_argument("--synthesize", type=int)
    p.add_argument("--output", required=True)
    p.add_argument("--secret-key", default="curation-job-key")
    p.add_argument("--select-frac", type=float, default=0.5)
    p.add_argument("--n-shards", type=int, default=64)
    p.add_argument("--seed", type=int, default=0)
    # Opt-in FineWeb-style per-host cap between dedup and DSIR (0 = off,
    # the default — keeps recorded drill numbers comparable): no single
    # host contributes more than N docs to the selection pool, decided
    # by the deterministic md5 priority (operators/curation.domain_cap,
    # two-phase bucketed ranking — a mega-host never sorts in one task).
    p.add_argument("--max-per-host", type=int, default=0)
    # Opt-in terminal tokenize stage (0 = off, the default): learn an
    # N-merge BPE tokenizer FROM the curated shards (the realistic
    # flow — the tokenizer should reflect the corpus that survived
    # curation, not the raw crawl) and encode every shard to subword
    # sequences under tokens/. The learned merge table is committed in
    # the stage manifest so the tokenizer itself is an artifact.
    p.add_argument("--tokenize", type=int, default=0)
    # Opt-in quality-aware fuzzy canonical (off = min-id, the round-4
    # default): keep the LONGEST member of each duplicate cluster —
    # the FineWeb/Dolma posture when near-dup copies differ in
    # rendering quality (operators/components.keep_best_per_cluster,
    # map-side max_by; a mega-cluster never assembles in one task).
    p.add_argument("--keep-best", action="store_true")
    # Opt-in language-mixture rebalancing between dedup and DSIR:
    # --mixture "en=0.7,de=0.3" --mixture-budget CHARS samples the pool
    # so expected char mass per lang_pred stratum is budget*target
    # (operators/curation.rebalance_mixture — in-plan rates, md5 keep;
    # langs absent from the map are DROPPED: the mixture is the
    # whitelist).
    p.add_argument("--mixture", default="")
    p.add_argument("--mixture-budget", type=int, default=0)
    args = p.parse_args(argv)
    if bool(args.mixture) != bool(args.mixture_budget):
        p.error("--mixture and --mixture-budget go together")

    from pyspark.sql import functions as F

    from deidentify_spark.operators.components import (
        fuzzy_dedup_keep,
        keep_best_per_cluster,
    )
    from deidentify_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_candidates,
    )
    from deidentify_spark.operators.dsir import dsir_select
    from deidentify_spark.operators.sharding import assign_shards
    from deidentify_spark.pipeline.checkpoint import (
        commit_manifest,
        fingerprint,
    )
    from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
    from deidentify_spark.runtime import session_builder

    spark = session_builder().appName("curation-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    stages: dict[str, dict] = {}

    def tick(name: str, df, t0: float) -> int:
        n = df.count()
        stages[name] = {"docs": n, "wall_s": round(time.time() - t0, 1)}
        return n

    # per-stage fingerprints: every argument that feeds the stage (or
    # any upstream stage) participates, so a changed argument
    # invalidates exactly the stages it can affect
    fp1 = fingerprint(
        {
            "v": 2,  # filtered barrier schema (v2 carries lang_pred)
            "input": args.input,
            "synthesize": args.synthesize,
            "seed": args.seed,
            "key": hashlib.sha256(args.secret_key.encode()).hexdigest(),
        }
    )
    fp2 = fingerprint({"up": fp1, "dedup": 1, "keep_best": args.keep_best})
    fp3 = fingerprint(
        {
            "up": fp2,
            "select_frac": args.select_frac,
            "n_shards": args.n_shards,
            "seed": args.seed,
            "max_per_host": args.max_per_host,
            "mixture": args.mixture,
            "mixture_budget": args.mixture_budget,
        }
    )

    t0 = time.time()
    m1 = _resume(f"{args.output}/filtered", fp1)
    if m1 is not None:
        docs = spark.read.parquet(f"{args.output}/filtered")
        n_in = m1["docs"]
        stages["filter_scrub"] = {"docs": n_in, "resumed": True}
    else:
        if args.synthesize is not None:
            from deidentify_spark.sources.pages import (
                PAGE_COLUMNS,
                generate_pages,
            )

            pages = generate_pages(
                spark,
                args.synthesize,
                seed=args.seed or 1,
                partitions=spark.sparkContext.defaultParallelism * 2,
            ).select(*PAGE_COLUMNS)
        else:
            pages = spark.read.parquet(args.input)

        # Stage 1: quality filter + scrub; only KEPT docs continue
        # (dropped docs have no scrubbed text — carrying them forward
        # as "" would make them all exact duplicates of each other, a
        # bug the first smoke run of this job caught: 20k docs
        # "deduped" to 10k because every dropped doc collapsed onto the
        # empty string). Perplexity rides along as the DSIR target
        # signal.
        filtered = run_pipeline(
            pages, PipelineConfig(secret_key=args.secret_key)
        )
        # doc_id = xxhash64(url) MUST be unique before the chain:
        # duplicate urls in a real --input (or a 64-bit collision at
        # scale) would multiply rows through dsir_select's doc_id join
        # and corrupt shard_pos. dropDuplicates keeps one arbitrary row
        # per id — a duplicate url is the same page crawled twice
        # (exact dedup would collapse it anyway), and a true hash
        # collision drops one doc in 2^64 — both acceptable, neither
        # silent row multiplication.
        docs = (
            filtered.where("keep")
            .select(
                F.xxhash64("url").alias("doc_id"),
                "url",
                F.col("scrubbed_text").alias("text"),
                "perplexity",
                "lang_pred",
            )
            .dropDuplicates(["doc_id"])
        )
        # parquet barrier: every downstream stage re-reads this slice
        # instead of re-running the Arrow filter+scrub chain
        docs.write.mode("overwrite").parquet(f"{args.output}/filtered")
        docs = spark.read.parquet(f"{args.output}/filtered")
        n_in = tick("filter_scrub", docs, t0)
        commit_manifest(
            f"{args.output}/filtered", {"fingerprint": fp1, "docs": n_in}
        )

    m2 = _resume(f"{args.output}/deduped", fp2)
    if m2 is not None:
        docs = spark.read.parquet(f"{args.output}/deduped")
        n_exact, n_fuzzy = m2["n_exact"], m2["docs"]
        stages["exact_dedup"] = {"docs": n_exact, "resumed": True}
        stages["fuzzy_dedup"] = {"docs": n_fuzzy, "resumed": True}
    else:
        t0 = time.time()
        docs = exact_dedup(docs)
        n_exact = tick("exact_dedup", docs, t0)

        t0 = time.time()
        pairs = minhash_lsh_candidates(docs)
        if args.keep_best:
            docs = keep_best_per_cluster(
                docs.withColumn("_len", F.length("text")), pairs, "_len"
            ).drop("_len")
        else:
            docs = fuzzy_dedup_keep(docs, pairs)
        docs.write.mode("overwrite").parquet(f"{args.output}/deduped")
        docs = spark.read.parquet(f"{args.output}/deduped")
        n_fuzzy = tick("fuzzy_dedup", docs, t0)
        commit_manifest(
            f"{args.output}/deduped",
            {"fingerprint": fp2, "docs": n_fuzzy, "n_exact": n_exact},
        )

    m3 = _resume(f"{args.output}/shards", fp3)
    if m3 is not None:
        n_sel = m3["docs"]
        stages["dsir_select"] = {"docs": n_sel, "resumed": True}
        stages["shard_write"] = {"docs": n_sel, "resumed": True}
        _maybe_tokenize(spark, args, fp3, stages)
        print(
            json.dumps(
                {
                    "n_input": n_in,
                    "n_after_exact": n_exact,
                    "n_after_fuzzy": n_fuzzy,
                    "n_selected": n_sel,
                    "n_shards": args.n_shards,
                    "stages": stages,
                }
            )
        )
        return 0

    if args.max_per_host:
        from deidentify_spark.functions.urls import url_host
        from deidentify_spark.operators.curation import domain_cap

        t0 = time.time()
        docs = domain_cap(
            docs.withColumn("host", url_host(F.col("url"))),
            max_per_group=args.max_per_host,
            seed=args.seed,
            group_col="host",
        ).drop("host", "group_rank")
        n_fuzzy = tick("domain_cap", docs, t0)

    if args.mixture:
        from deidentify_spark.operators.curation import rebalance_mixture

        t0 = time.time()
        targets = {
            kv.split("=")[0]: float(kv.split("=")[1])
            for kv in args.mixture.split(",")
        }
        docs = rebalance_mixture(
            docs.withColumn("_n_chars", F.length("text")),
            targets,
            args.mixture_budget,
            strata_col="lang_pred",
            weight_col="_n_chars",
            id_col="doc_id",
            seed=args.seed,
        ).drop("_n_chars")
        n_fuzzy = tick("mixture_rebalance", docs, t0)

    # Stage 4: DSIR — resample the deduped pool toward its own
    # best-quality slice: target = lowest-perplexity quartile (one
    # O(1) approxQuantile driver call), so selection pulls the corpus
    # distribution toward fluent text while the Gumbel draw keeps it a
    # sample, not a hard cut. A production run would point target_col
    # at a curated seed corpus instead.
    t0 = time.time()
    (p25,) = docs.approxQuantile("perplexity", [0.25], 0.001)
    docs = docs.withColumn("_target", F.col("perplexity") <= F.lit(p25))
    k = max(1, int(n_fuzzy * args.select_frac))
    selected = dsir_select(docs, "_target", k=k, seed=args.seed).where(
        "dsir_selected"
    )
    n_sel = tick("dsir_select", selected, t0)

    t0 = time.time()
    sharded = assign_shards(
        selected.drop("dsir_logw", "dsir_selected", "_target"),
        n_shards=args.n_shards,
        seed=args.seed,
    )
    sharded.write.mode("overwrite").partitionBy("shard").parquet(
        f"{args.output}/shards"
    )
    stages["shard_write"] = {
        "docs": n_sel,
        "wall_s": round(time.time() - t0, 1),
    }
    commit_manifest(
        f"{args.output}/shards", {"fingerprint": fp3, "docs": n_sel}
    )
    # every consumer of dsir_select's slim-projection cache (the count
    # above AND the shard write, which reads `selected` again) is done —
    # release the operator-registered caches (runtime.py) so a composed
    # caller running many selections doesn't accumulate them
    from deidentify_spark.runtime import release_tracked

    release_tracked()
    _maybe_tokenize(spark, args, fp3, stages)

    print(
        json.dumps(
            {
                "n_input": n_in,
                "n_after_exact": n_exact,
                "n_after_fuzzy": n_fuzzy,
                "n_selected": n_sel,
                "n_shards": args.n_shards,
                "stages": stages,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
