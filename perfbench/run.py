"""deidentify_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 10 --trace 0

Runs from the repository root in a Spark ``local[k]`` session (k = the
usable cores, at most 4) driven from this one process, and prints one
JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` list of BENCHMARK.json, with
``--trace 1`` the ``per_layer`` list (a metric that does not apply to
the workload reads 0). The line before it is a human summary with the
check results. Workloads, sizes and the layer map: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SETUPS = 3
MAX_CORES = 4
SPAN_BATCH = 256


def _prepare_env(work: str) -> None:
    """Everything the JVM and the Python workers inherit; set before
    pyspark is imported."""
    # one BLAS thread per worker: k workers x k threads thrashes the box
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the environment's SPARK_LOCAL_DIRS would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Session:
    """Fresh Spark sessions on one JVM, with bench.py's confs: AQE and
    Arrow on, no driver-memory override; every scratch path inside the
    run's work directory."""

    def __init__(self, cores: int, work: str) -> None:
        self.cores, self.work = cores, work
        self.spark = None
        self.ui_port = None

    def start(self, ui: bool = False):
        from pyspark.sql import SparkSession

        self.stop()
        tmp = os.environ["TMPDIR"]
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(max(self.cores * 2, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            # every pass re-plans the same queries; with the default 100
            # entries the generated-class cache evicts some of them in one
            # JVM and not in the next, and a recompiled class is also new
            # code for the JIT, so pass times would differ by JVM
            .config("spark.sql.codegen.cache.maxEntries", "2000")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        )
        if ui:
            self.ui_port = _free_port()
            b = (
                b.config("spark.ui.enabled", "true")
                .config("spark.ui.port", str(self.ui_port))
                .config("spark.port.maxRetries", "0")
                .config("spark.ui.retainedJobs", "100000")
                .config("spark.ui.retainedStages", "100000")
                .config("spark.sql.ui.retainedExecutions", "100000")
            )
        else:
            self.ui_port = None
            b = b.config("spark.ui.enabled", "false")
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        from perfbench.procstat import tree_pids

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while len(tree_pids()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)


def warm_up(wl, spark) -> float:
    """The first execution, then ``wl.warm_passes`` untimed passes;
    returns their wall seconds."""
    t0 = time.perf_counter()
    wl.warm(spark)
    for j in range(-2, -2 - wl.warm_passes, -1):
        wl.prepare_pass(j)
        wl.run_pass(spark, j)
    return time.perf_counter() - t0


def measure(wl, spark, seconds: float):
    """Timed passes until ``seconds`` have gone by (at least
    ``wl.min_passes``); each pass records wall, tree CPU and docs. Also
    returns the tree's peak RSS once the passes are done."""
    from perfbench.procstat import tree_cpu_s, tree_peak_rss_bytes

    passes, errors = [], 0
    deadline = time.perf_counter() + seconds
    i = 0
    while len(passes) < wl.min_passes or time.perf_counter() < deadline:
        wl.prepare_pass(i)
        spark.sparkContext.setJobGroup(f"pass-{i}", wl.name)
        try:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            docs = wl.run_pass(spark, i)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
        except Exception:
            traceback.print_exc()
            errors += 1
            if errors >= 3:
                break
            continue
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            i += 1
        passes.append({"wall_s": wall, "cpu_s": cpu, "docs": docs, "group": f"pass-{i - 1}",
                       **wl.pass_detail})
    return passes, errors, tree_peak_rss_bytes()


def _check(wl) -> dict:
    try:
        return wl.check()
    except Exception:
        traceback.print_exc()
        return {"keep_f1": 0.0, "wrong_outputs": -1, "ok": False}


def _tally(passes, errors, chk) -> dict:
    attempted = len(passes) + errors
    # a failed check condemns every pass: they ran one plan on one input
    failed = attempted if not chk["ok"] else errors
    return {"correct": chk["ok"] and errors == 0, "attempted": attempted, "failed": failed}


def run_untraced(wl, sess: Session, seconds: float) -> tuple[dict, dict]:
    setups = []
    for _ in range(N_SETUPS):
        t0 = time.perf_counter()
        spark = sess.start()
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    # the first execution heats the JVM, which every later session
    # shares, so it runs once, after the last set-up
    warm_s = warm_up(wl, spark)
    passes, errors, peak = measure(wl, spark, seconds)
    if not passes:
        raise RuntimeError("every timed pass failed")
    chk = _check(wl)
    wall, cpu = wl.totals(passes)
    metrics = {
        "docs_per_s": passes[0]["docs"] / wall,
        "wall_s": wall,
        "cpu_s": cpu,
        "setup_s": median(setups) + warm_s,
        "peak_rss_mb": peak / 2**20,
        "keep_f1": chk["keep_f1"],
    }
    summary = {"pass_wall_s": [p["wall_s"] for p in passes],
               "pass_cpu_s": [p["cpu_s"] for p in passes],
               "setups_s": setups, "warm_s": warm_s, "wrong_outputs": chk["wrong_outputs"]}
    return {**_tally(passes, errors, chk), "metrics": metrics}, summary


def fused_layers(wl, spark_wall_s: float, spark_docs: int, cores: int, spans_path: str) -> dict:
    """Per-stage self times and counts of the fused UDF's Python function
    on seeded batches, and the Spark-vs-bare comparison."""
    import pandas as pd

    from deidentify_spark.functions.fused import fused_filter_scrub_udf
    from perfbench.tracing import STAGES, FusedTracer

    cfg = wl.cfg
    func = fused_filter_scrub_udf(
        cfg.secret_key,
        target_lang=cfg.target_lang,
        min_lang_conf=cfg.min_lang_conf,
        max_perplexity=cfg.max_perplexity,
        quality=cfg.quality,
        detect_ips=cfg.detect_ips,
    ).func
    texts = wl.doc_texts(wl.span_docs)
    batches = [texts[i : i + SPAN_BATCH] for i in range(0, len(texts), SPAN_BATCH)]
    n = len(texts)

    def plain() -> float:
        t0 = time.perf_counter()
        for b in batches:
            func(pd.Series(b))
        return time.perf_counter() - t0

    plain()  # load the models
    untraced_s = plain()
    tracer = FusedTracer(cfg.quality.max_top_2gram_frac, cfg.max_perplexity, cfg.target_lang)
    with tracer.installed():
        traced_s = tracer.run(func, batches)
    tracer.dump(spans_path)

    self_s = tracer.self_times()
    c = tracer.counts
    out: dict[str, float] = {}
    for s in STAGES:
        docs = c[f"{s}.docs"]
        out[f"{s}.us_per_doc"] = self_s[s] / docs * 1e6 if docs else 0.0
        out[f"{s}.docs"] = docs
    for s in ("quality_pre", "top2gram", "quality_post", "perplexity"):
        out[f"{s}.drops"] = c[f"{s}.drops"]
    out["langid.non_en_docs"] = c["langid.non_en_docs"]
    out["scrub.pii_hits"] = c["scrub.pii_hits"]
    out["scrub.us_per_kchar"] = self_s["scrub"] / (c["scrub.chars"] / 1e3) * 1e6 if c["scrub.chars"] else 0.0
    bare_us = sum(self_s[s] for s in STAGES) / n * 1e6
    spark_us = spark_wall_s * cores / spark_docs * 1e6
    out["fused.us_per_doc"] = untraced_s / n * 1e6
    out["fused.overhead_us_per_doc"] = self_s["fused"] / n * 1e6
    out["bare.us_per_doc"] = bare_us
    out["framework_eff"] = bare_us / spark_us
    out["trace.span_overhead"] = traced_s / untraced_s - 1
    return out


def run_traced(wl, sess: Session, seconds: float, declared: list[str]) -> tuple[dict, dict]:
    from perfbench.tracing import SparkRest

    # untraced leg (UI off), then the same work with the UI on; half the
    # time each, so a traced run costs about what an untraced one does
    spark = sess.start()
    wl.setup(spark)
    warm_up(wl, spark)
    plain, _, _ = measure(wl, spark, seconds / 2)
    spark = sess.start(ui=True)
    wl.setup(spark)
    warm_up(wl, spark)
    passes, errors, _ = measure(wl, spark, seconds / 2)
    if not passes or not plain:
        raise RuntimeError("every timed pass failed")
    rest = SparkRest(spark, sess.ui_port)
    layer: dict[str, float] = {}
    if wl.pipeline:
        per_pass = [rest.group_totals(p["group"]) for p in passes]
        layer.update({k: median([t[k] for t in per_pass]) for k in per_pass[0]})
    layer.update(wl.trace(spark, rest))
    chk = _check(wl)
    sess.stop()

    plain_wall = wl.totals(plain)[0]
    traced_wall = wl.totals(passes)[0]
    layer["trace.spark_overhead"] = traced_wall / plain_wall - 1
    layer["gen.us_per_doc"] = wl.gen_us_per_doc()
    if wl.pipeline:
        results = os.path.join(ROOT, "perfbench", ".results")
        os.makedirs(results, exist_ok=True)
        spans = os.path.join(results, f"spans-{wl.name}-seed{wl.seed}.json")
        layer.update(fused_layers(wl, plain_wall, plain[0]["docs"], sess.cores, spans))
    unknown = sorted(set(layer) - set(declared))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json per_layer: {unknown}")
    metrics = {k: float(layer.get(k, 0.0)) for k in declared}
    summary = {"passes": len(passes), "wrong_outputs": chk["wrong_outputs"],
               "untraced_wall_s": plain_wall, "traced_wall_s": traced_wall}
    return {**_tally(passes, errors, chk), "metrics": metrics}, summary


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (the self-test runs tiny inputs)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deidentify_spark", "__init__.py")):
        print(f"perfbench: no deidentify_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        cls = WORKLOADS[args.workload]
        cores = min(len(os.sched_getaffinity(0)), MAX_CORES, cls.max_cores)
        wl = cls(args.seed, cores, work, args.scale)
        sess = Session(cores, work)
        try:
            if args.trace:
                declared = [m["name"] for m in spec["per_layer"]]
                result, summary = run_traced(wl, sess, args.seconds, declared)
            else:
                result, summary = run_untraced(wl, sess, args.seconds)
        finally:
            sess.shutdown()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metric_specs = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in metric_specs}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps({"workload": wl.name, "seed": args.seed, "cores": cores, **summary}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
