"""Per-task fixed cost of a Spark Python task, read as a slope.

Runs each leg at 32 and at 128 Python tasks on one ``local[4]`` session
and prints, per extra task, ``(cost at 128 - cost at 32) / 96``: the wall
time, the process-tree CPU (``perfbench.procstat.tree_cpu_s``: this
driver, the JVM, the pyspark daemon and its workers) and the Python-worker
CPU (the daemon's subtree alone). Legs:

* ``trivial``: ``x + 1`` as a pandas UDF over ``spark.range(12800)``. Its
  body imports ``deidentify_spark`` first, as unpickling any package UDF
  does, so the worker runs the package's start-up (``_worker.install``).
* ``fused``: ``run_pipeline`` over the 8,000 ``web_mix`` pages
  (``generate_pages`` seed 1, text only, cached) at ``repartition(n)``,
  noop sink.

Each leg is warmed once at 128 tasks, then timed ``RUNS`` times per
task count in alternating order; medians are reported. One JSON line per
leg. Usage, from the repository root:

    python3 scripts/task_cost_probe.py
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time
from statistics import median

import pandas as pd

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

CORES = 4
TASKS = (32, 128)
RUNS = 5


def _daemon_pids() -> list[int]:
    """The pyspark daemons under this process: its forked workers share
    the daemon's command line, so keep only processes whose parent is
    not a daemon too."""
    from perfbench.procstat import _stat_fields, tree_pids

    ppid, daemons = {}, set()
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is None:  # ended since the listing
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        ppid[pid] = int(fields[1])
        if b"pyspark.daemon" in cmd:
            daemons.add(pid)
    return [pid for pid in daemons if ppid[pid] not in daemons]


def _measure(run) -> dict[str, float]:
    from perfbench.procstat import tree_cpu_s

    def python_cpu() -> float:
        return sum(tree_cpu_s(pid) for pid in _daemon_pids())

    cpu0, py0, t0 = tree_cpu_s(), python_cpu(), time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "cpu_s": tree_cpu_s() - cpu0, "python_cpu_s": python_cpu() - py0}


def _leg(name: str, make_run) -> dict:
    make_run(TASKS[-1])()  # starts the workers and compiles the plan
    samples: dict[int, list[dict[str, float]]] = {n: [] for n in TASKS}
    for r in range(RUNS):
        for n in TASKS if r % 2 == 0 else TASKS[::-1]:
            samples[n].append(_measure(make_run(n)))
    med = {n: {k: median(s[k] for s in samples[n]) for k in samples[n][0]} for n in TASKS}
    extra = TASKS[-1] - TASKS[0]
    return {
        "leg": name,
        "runs": RUNS,
        **{f"tasks_{n}": {k: round(v, 3) for k, v in med[n].items()} for n in TASKS},
        "per_extra_task_ms": {
            k: round((med[TASKS[-1]][k] - med[TASKS[0]][k]) / extra * 1e3, 2)
            for k in med[TASKS[0]]
        },
    }


def main() -> None:
    # what the workers inherit: this checkout on their path, one BLAS thread
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )

    from pyspark.sql import functions as F

    from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
    from deidentify_spark.runtime import session_builder
    from deidentify_spark.sources.pages import generate_pages

    spark = (
        session_builder(CORES)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    try:

        @F.pandas_udf("long")
        def plus_one(x: pd.Series) -> pd.Series:
            import deidentify_spark  # noqa: F401

            return x + 1

        def noop(df):
            return lambda: df.write.mode("overwrite").format("noop").save()

        def trivial(n: int):
            return noop(spark.range(0, 12800, numPartitions=n).select(plus_one("id")))

        pages = generate_pages(
            spark, 8000, seed=1, partitions=CORES * 2, include_html=False
        ).select("url", "warc_ts", "text", "lang").cache()
        pages.count()

        def fused(n: int):
            cfg = PipelineConfig(secret_key="task-cost-probe", repartition=n)
            return noop(run_pipeline(pages, cfg))

        for name, make_run in (("trivial", trivial), ("fused", fused)):
            print(json.dumps(_leg(name, make_run)), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
