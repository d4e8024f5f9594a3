"""Round-7 optimization harness — NOT the frozen bench.py.

Per-query isolation with the noop sink (guide §1.4), identical session
settings to bench.py's per-query loop, plus instrumentation bench.py
does not carry: per-query Spark JOB counts and cumulative task time via
the UI REST API, and ``.explain("formatted")`` capture for the plan
artifacts in plans/r07/.

Usage:
    python bench_extra.py q1 q2 ...          # time + jobs for named queries
    python bench_extra.py --all              # every bench.py query
    python bench_extra.py --plans OUTDIR SUFFIX q1 q2 ...
                                             # also write OUTDIR/<q>_SUFFIX.txt
"""

from __future__ import annotations

import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
UI_PORT = int(os.environ.get("SPARK_GRAFT_BENCH_UI_PORT", "4067"))


def _session():
    from deidentify_spark.runtime import session_builder

    return (
        session_builder(CPUS)
        .appName("bench-extra")
        # UI on: its REST API is where the job counts and task time come from
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.retainedStages", "5000")
        .config("spark.ui.retainedJobs", "5000")
        .getOrCreate()
    )


def _rest(app_id: str, path: str):
    import urllib.request

    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/{path}"
    return json.load(urllib.request.urlopen(url, timeout=10))


def main() -> None:
    import bench as bench_mod
    import __spark_entry__ as entry_mod

    args = sys.argv[1:]
    plans_dir = suffix = None
    if args and args[0] == "--plans":
        plans_dir, suffix, args = args[1], args[2], args[3:]
        os.makedirs(plans_dir, exist_ok=True)
    names = bench_mod.BENCH_QUERIES if args == ["--all"] else args

    queries = entry_mod.queries()
    spark = _session()
    app_id = spark.sparkContext.applicationId
    from deidentify_spark.runtime import release_tracked

    out: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        best = float("inf")
        for run in range(2):
            spark.catalog.clearCache()
            release_tracked()
            jobs_before = len(_rest(app_id, "jobs"))
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            best = min(best, dt)
            if run == 1:
                n_jobs = len(_rest(app_id, "jobs")) - jobs_before
        if plans_dir:
            spark.catalog.clearCache()
            release_tracked()
            pdf = fn(spark, SF_DIR)
            txt = pdf._sc._jvm.PythonSQLUtils.explainString(
                pdf._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(txt)
        out[name] = {"sec": round(best, 3), "jobs_run2": n_jobs}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
