"""Volume rehearsal for the round-6 additions — drives each new
operator at volume with the adversarial distribution its plan shape is
claimed to survive:

* rebalance_mixture over 10M rows where ONE stratum is 90% of the
  corpus (the "web is most of the mix" case): the rate table is
  O(n_strata) and the keep filter map-only, so the dominant stratum
  must cost nothing beyond the scan. Invariant: kept char mass per
  stratum within Bernoulli tolerance of budget*target.
* mad_outliers over 10M rows with the same 90% group AND a hot value
  (a quarter of the dominant group at one exact length — the combiner
  case): statistics must come out exact vs DuckDB on the identical
  rows, flags consistent.
* keep_best_per_cluster over 500k docs where one duplicate cluster has
  150k members (a boilerplate mega-cluster): the max_by aggregate must
  partial-combine, not buffer the cluster in one task. Invariants:
  exact kept count and the mega-cluster's survivor equals the
  python-computed argmax(score, tie -> min id).

Each leg reports wall seconds plus the max single-task runtime of its
stages (the skew symptom; Spark status API). One JSON line.

Usage: python scripts/curation_ops_rehearsal.py [--rows 10000000]
       [--docs 500000] [--cores 32]
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
        except Exception:
            pass
    return mx, last


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.components import keep_best_per_cluster
    from deidentify_spark.operators.curation import rebalance_mixture
    from deidentify_spark.operators.scan import mad_outliers
    from deidentify_spark.runtime import session_builder

    spark = (
        session_builder(args.cores)
        .config("spark.ui.enabled", "true")  # REST API for stage counters
        .appName("curation-ops-rehearsal")
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
    out: dict[str, dict] = {"rows": args.rows, "docs": args.docs,
                            "cores": args.cores}

    # deterministic skewed corpus: 90% 'web', the rest split over 9
    # strata; doc length a hash-derived 50..2049 with a HOT value
    # (exactly 512) for a quarter of the 'web' stratum
    h = F.abs(F.xxhash64(F.col("id").cast("string")))
    rows = (
        spark.range(args.rows)
        .withColumn(
            "lang",
            F.when(F.pmod("id", F.lit(10)) < 9, F.lit("web")).otherwise(
                F.concat(F.lit("s"), F.pmod("id", F.lit(9)))
            ),
        )
        .withColumn(
            "n_chars",
            F.when(
                (F.col("lang") == "web") & (F.pmod("id", F.lit(4)) == 0),
                F.lit(512),
            ).otherwise(F.pmod(h, F.lit(2000)) + F.lit(50)),
        )
        .withColumnRenamed("id", "doc_id")
    )
    rows.write.mode("overwrite").parquet("/tmp/curation_ops_rows")
    rows = spark.read.parquet("/tmp/curation_ops_rows")
    _, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)

    # ---- leg 1: rebalance_mixture, 90%-dominant stratum
    targets = {"web": 0.5, "s0": 0.25, "s1": 0.25}
    t0 = time.time()
    kept = rebalance_mixture(rows, targets, budget=2_000_000_000,
                             strata_col="lang")
    got = {
        r.lang: r.m
        for r in kept.groupBy("lang")
        .agg(F.sum("n_chars").alias("m"))
        .collect()
    }
    wall = round(time.time() - t0, 1)
    mx, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    for s, t in targets.items():
        want = 2_000_000_000 * t
        mass = spark.read.parquet("/tmp/curation_ops_rows").where(
            F.col("lang") == s
        ).agg(F.sum("n_chars")).collect()[0][0]
        want = min(want, mass)
        assert abs(got[s] - want) / want < 0.02, (s, got[s], want)
    out["rebalance_mixture"] = {
        "wall_s": wall,
        "max_task_ms": mx,
        "rows_per_sec": round(args.rows / wall),
        "kept_mass": {k: int(v) for k, v in sorted(got.items())},
    }

    # ---- leg 2: mad_outliers, dominant group + hot value
    t0 = time.time()
    flagged = mad_outliers(rows, "n_chars", group_cols=["lang"], k=3.0)
    agg = (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_out"),
            F.first("group_median").alias("med"),
            F.first("group_mad").alias("mad"),
        )
        .collect()
    )
    wall = round(time.time() - t0, 1)
    mx, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    import duckdb

    ref = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            """
            WITH c AS (SELECT lang, n_chars AS v, COUNT(*) c
                       FROM read_parquet('/tmp/curation_ops_rows/*.parquet')
                       GROUP BY 1,2),
            cum AS (SELECT lang, v,
                           SUM(c) OVER (PARTITION BY lang ORDER BY v) cc,
                           SUM(c) OVER (PARTITION BY lang) n FROM c)
            SELECT lang, MIN(CASE WHEN cc >= CEIL(0.5*n) THEN v END) med,
                   COUNT(*) FROM cum GROUP BY lang
            """
        ).fetchall()
    }
    for r in agg:
        assert r.med == ref[r.lang][0], (r.lang, r.med, ref[r.lang])
    out["mad_outliers"] = {
        "wall_s": wall,
        "max_task_ms": mx,
        "rows_per_sec": round(args.rows / wall),
        "web_median": int(next(r.med for r in agg if r.lang == "web")),
        "web_mad": int(next(r.mad for r in agg if r.lang == "web")),
        "web_outliers": int(next(r.n_out for r in agg if r.lang == "web")),
    }

    # ---- leg 3: keep_best_per_cluster with a 150k-member mega-cluster
    big = args.docs * 3 // 10  # 30% of docs in ONE cluster
    docs = (
        spark.range(args.docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "score", F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000))
        )
    )
    # star edges 0--i for the mega-cluster, plus disjoint 2-cliques
    star = spark.range(1, big).select(
        F.lit(0).alias("doc_a"), F.col("id").alias("doc_b")
    )
    lo = args.docs * 6 // 10
    twos = (
        spark.range(lo, args.docs - 1, 2)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    pairs = star.unionByName(twos)
    n_two = twos.count()
    t0 = time.time()
    kept = keep_best_per_cluster(docs, pairs, "score", id_col="doc_id")
    n_kept = kept.count()
    wall = round(time.time() - t0, 1)
    mx, stage_mark = _max_task_ms(app_id, ui_port, stage_mark)
    # exact kept count: mega-cluster keeps 1 of `big`; each 2-clique 1 of 2
    assert n_kept == args.docs - (big - 1) - n_two, (n_kept, big, n_two)
    best = max(range(big), key=lambda i: ((i * 2654435761) % 1000, -i))
    survivor = (
        kept.where(F.col("doc_id") < big).select("doc_id").collect()
    )
    assert [r.doc_id for r in survivor] == [best], (survivor, best)
    out["keep_best_per_cluster"] = {
        "wall_s": wall,
        "max_task_ms": mx,
        "mega_cluster": big,
        "kept": n_kept,
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
