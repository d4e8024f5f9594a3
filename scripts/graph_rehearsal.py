"""PageRank volume + skew rehearsal — drives operators/graph.py at a
scale-shaped graph the sandbox can hold:

* a power-law host graph (n_nodes hosts, ~10 out-links each, targets
  drawn with a quadratic skew so a few hub hosts receive a large share
  of in-links — the "everyone links to wikipedia.org" distribution the
  groupBy(dst) partial aggregation must absorb);
* one hub receiving ~20% of ALL edges (the adversarial in-degree key);
* a dangling-node share (hosts with no out-links) exercising the
  dangling-mass fold at volume.

Reports wall seconds per leg, the max single-task runtime of the
iteration stages (the skew symptom: a hot dst key buffered in one
task), and the invariants (rank sum == 1, hub outranks everything).
One JSON line.

Usage: python scripts/graph_rehearsal.py [--nodes 500000] [--deg 10]
                                         [--iters 4] [--cores 32]
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=500_000)
    ap.add_argument("--deg", type=int, default=10)
    ap.add_argument("--iters", type=int, default=4)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from deidentify_spark.operators.graph import pagerank
    from deidentify_spark.runtime import session_builder

    spark = (
        session_builder(args.cores)
        .appName("graph-rehearsal")
        # 5M cached edge rows + per-round rank checkpoints live in the
        # JVM here (same heap posture as jobs/run_curation_job.py); the
        # 1 GiB default fails the broadcast build at this volume.
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "true")  # REST API for stage counters
        .config("spark.ui.port", "4097")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n, deg = args.nodes, args.deg

    # Deterministic generator, no data files: node i emits `deg` edges.
    # Target skew: half the edges go to xxhash-spread targets squared
    # down toward low ids (power-law-ish in-degree); 20% go straight to
    # hub node 0; 10% of nodes emit nothing (dangling).
    src = spark.range(n).withColumnRenamed("id", "s")
    src = src.where(F.xxhash64("s") % 10 != 0)  # dangling share
    edges = (
        src.select(
            "s", F.explode(F.sequence(F.lit(1), F.lit(deg))).alias("k")
        )
        .select(
            F.col("s").alias("src"),
            F.when(F.xxhash64("s", "k") % 5 == 0, F.lit(0))  # 20% -> hub
            .otherwise(
                (
                    F.pow(
                        (F.abs(F.xxhash64("s", "k", F.lit(7))) % 1_000_000)
                        / 1_000_000.0,
                        2.0,
                    )
                    * n
                ).cast("long")
                % n
            )
            .alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )

    t0 = time.time()
    ranks = pagerank(edges, n_iter=args.iters)
    agg = ranks.agg(
        F.sum("rank").alias("total"),
        F.max("rank").alias("mx"),
        F.count("*").alias("n_nodes"),
    ).collect()[0]
    hub = ranks.where(F.col("node") == 0).collect()[0]["rank"]
    wall = time.time() - t0

    # max single-task runtime across all completed stages (REST UI)
    import urllib.request

    app_id = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(
            f"http://localhost:4097/api/v1/applications/{app_id}/stages"
            "?status=complete",
            timeout=10,
        )
    )
    max_task_ms = 0
    for s in stages:
        det = json.load(
            urllib.request.urlopen(
                f"http://localhost:4097/api/v1/applications/{app_id}/stages/"
                f"{s['stageId']}?details=false&withSummaries=true",
                timeout=10,
            )
        )
        for att in det if isinstance(det, list) else [det]:
            q = (att.get("taskMetricsDistributions") or {}).get(
                "executorRunTime"
            )
            if q:
                max_task_ms = max(max_task_ms, int(q[-1]))

    n_edges = edges.count()
    out = {
        "nodes": int(agg["n_nodes"]),
        "edges": int(n_edges),
        "iters": args.iters,
        "wall_s": round(wall, 1),
        "max_task_s": round(max_task_ms / 1000, 2),
        "rank_sum": round(float(agg["total"]), 9),
        "hub_rank": round(float(hub), 6),
        "hub_is_max": bool(abs(float(agg["mx"]) - float(hub)) < 1e-12),
    }
    print(json.dumps(out))
    ok = abs(out["rank_sum"] - 1.0) < 1e-6 and out["hub_is_max"]
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
