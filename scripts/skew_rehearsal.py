"""Skew rehearsal for the round-6 plan rewrites — drives each operator
at volume with the ADVERSARIAL key distribution its old shape died on:

* line_dedup over docs where ONE boilerplate line appears in 30% of the
  corpus (the round-5 verdict's scenario: a cookie banner as the hot
  key). Old shape: count-over-Window.partitionBy(lh) buffered every
  occurrence of that line in one task. New shape: codegen
  groupBy(lh).count() + join back.
* pack_sequences where ONE stratum is the entire corpus (the "web is
  90% of the mix" case). Old shape: Window.partitionBy(stratum) running
  sum = the whole corpus sorted in one task. New shape:
  partitioned_prefix_sum (quantile buckets bound each sort task).
* assign_shards with n_shards=4 at volume (the small-shard-count config
  whose old row_number form capped parallelism at 4).
* domain_cap where ONE mega-host holds 50% of the corpus (the
  "everyone links to the same CDN mirror" host skew). Naive shape:
  Window.partitionBy(host) row_number sorts the mega-host's every row
  in one task. Shipped shape: two-phase bucketed ranking.

Each leg reports wall seconds, the max single-task duration of the
heaviest stage (the skew symptom the rewrite exists to remove — read
from the Spark status API), and an output invariant. One JSON line.

Usage: python scripts/skew_rehearsal.py [--docs 200000] [--cores 32]
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _max_task_ms(app_id: str, port: int, since_stage: int) -> tuple[int, int]:
    """(max_single_task_runtime_ms, last_stage_id) over completed stages
    with id > since_stage, via the UI REST API — the skew symptom the
    rewrites exist to remove: one task holding a hot key's entire
    volume shows up as a task-runtime outlier even when total wall
    looks fine at rehearsal scale."""
    import urllib.request

    base = f"http://localhost:{port}/api/v1/applications/{app_id}/stages"
    stages = json.load(
        urllib.request.urlopen(f"{base}?status=complete", timeout=10)
    )
    mx, last = 0, since_stage
    for s in stages:
        sid = s["stageId"]
        last = max(last, sid)
        if sid <= since_stage:
            continue
        try:
            summ = json.load(
                urllib.request.urlopen(
                    f"{base}/{sid}/{s['attemptId']}/taskSummary?quantiles=1.0",
                    timeout=10,
                )
            )
            mx = max(mx, int(summ["executorRunTime"][0]))
        except Exception:  # stage evicted from the store — skip
            pass
    return mx, last


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.curation import line_dedup, pack_sequences
    from deidentify_spark.operators.sharding import assign_shards
    from deidentify_spark.runtime import release_tracked, session_builder
    from deidentify_spark.sources.pages import generate_pages

    spark = (
        session_builder(args.cores)
        .config("spark.ui.enabled", "true")  # status API for task maxima
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.driver.memory", "8g")
        .appName("skew-rehearsal")
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

    out: dict[str, dict] = {"docs": args.docs, "cores": args.cores}

    pages = (
        generate_pages(
            spark, args.docs, seed=7, partitions=args.cores * 2
        )
        .select("url", "text")
        .withColumn("doc_id", F.xxhash64("url"))
    )
    hot = F.when(
        F.pmod(F.col("doc_id"), F.lit(10)) < 3,
        F.lit("\nsubscribe to our newsletter for daily updates"),
    ).otherwise(F.lit(""))
    docs = pages.withColumn("text", F.concat("text", hot))
    docs.write.mode("overwrite").parquet("/tmp/skew_rehearsal_docs")
    docs = spark.read.parquet("/tmp/skew_rehearsal_docs")
    n = docs.count()
    _, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)  # setup done

    # ---- leg 1: line_dedup with a 30%-hot boilerplate line
    t0 = time.time()
    ld = line_dedup(docs, min_dup=2)
    stats = ld.agg(
        F.sum(F.when(F.col("n_lines_removed") > 0, 1).otherwise(0)).alias(
            "docs_touched"
        ),
        F.sum("n_lines_removed").alias("lines_removed"),
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    # invariant: every doc carrying the hot line (>= 30% of corpus,
    # plus generator-template duplicate lines) was rewritten
    n_hot = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) < 3).count()
    assert stats.docs_touched >= n_hot, (stats.docs_touched, n_hot)
    mx, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    out["line_dedup"] = {
        "wall_s": wall,
        "max_task_ms": mx,
        "docs_per_sec": round(n / wall),
        "hot_docs": n_hot,
        "docs_touched": stats.docs_touched,
        "lines_removed": stats.lines_removed,
    }

    # ---- leg 2: pack_sequences with ONE stratum = the whole corpus
    one = docs.withColumn("source", F.lit("web"))
    t0 = time.time()
    packed = pack_sequences(one, budget=512)
    agg = packed.agg(
        F.count(F.lit(1)).alias("chunks"), F.sum("n_tokens").alias("tok")
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    mx_pack, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    release_tracked()
    # invariant: total tokens identical to a direct count (offsets are a
    # permutation-free running sum — nothing dropped or double-counted)
    from deidentify_spark.functions.text_stats import RE2_WS_CLASS

    direct = one.select(
        F.sum(
            F.when(F.trim("text") == "", 0).otherwise(
                F.size(F.split(F.lower(F.trim("text")), RE2_WS_CLASS + "+"))
            )
        ).alias("tok")
    ).collect()[0].tok
    assert agg.tok == direct, (agg.tok, direct)
    out["pack_sequences_one_stratum"] = {
        "wall_s": wall,
        "max_task_ms": mx_pack,
        "docs_per_sec": round(n / wall),
        "chunks": agg.chunks,
        "tokens": agg.tok,
    }

    # ---- leg 3: assign_shards at a small shard count
    t0 = time.time()
    sh = assign_shards(docs.select("doc_id", "url"), n_shards=4, seed=1)
    chk = sh.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("shard").alias("shards"),
        F.sum("shard_pos").alias("pos_sum"),
        F.max("shard_pos").alias("max_pos"),
    ).collect()[0]
    wall = round(time.time() - t0, 1)
    mx_sh, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    release_tracked()
    # invariant: within each shard positions are exactly 1..count —
    # sum(shard_pos) == sum over shards of c*(c+1)/2
    per = {
        r.shard: r.c
        for r in sh.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    want = sum(c * (c + 1) // 2 for c in per.values())
    assert chk.pos_sum == want, (chk.pos_sum, want)
    out["assign_shards_4"] = {
        "wall_s": wall,
        "max_task_ms": mx_sh,
        "docs_per_sec": round(n / wall),
        "n_shards": chk.shards,
        "max_pos": chk.max_pos,
    }

    # ---- leg 4: domain_cap with ONE mega-host holding 50% of the corpus
    from deidentify_spark.operators.curation import domain_cap

    hosts = docs.select("doc_id").withColumn(
        "host",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.lit("mega.example.com")
        ).otherwise(
            F.concat(
                F.lit("host-"),
                F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"),
            )
        ),
    )
    t0 = time.time()
    capped = domain_cap(hosts, max_per_group=1000, group_col="host")
    kept = {
        r.host: (r.c, r.mr)
        for r in capped.groupBy("host")
        .agg(F.count(F.lit(1)).alias("c"), F.max("group_rank").alias("mr"))
        .collect()
    }
    wall = round(time.time() - t0, 1)
    mx_cap, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    # invariant: every host keeps exactly min(n_host, cap) docs with
    # dense ranks — the mega-host is cut to the cap, small hosts pass
    # through whole
    truth = {
        r.host: r.c
        for r in hosts.groupBy("host").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for h, c in truth.items():
        want = min(c, 1000)
        assert kept[h] == (want, want), (h, kept[h], want)
    out["domain_cap_mega_host"] = {
        "wall_s": wall,
        "max_task_ms": mx_cap,
        "docs_per_sec": round(n / wall),
        "mega_host_docs": truth["mega.example.com"],
        "mega_host_kept": kept["mega.example.com"][0],
        "n_hosts": len(truth),
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
