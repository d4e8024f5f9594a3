"""The workloads. Each builds its inputs from the seed in ``setup``, runs
one untimed first execution in ``warm`` (it heats the JVM and the Python
workers, and its output is what ``check`` examines), one timed unit of
work per ``run_pass``, and in a traced run adds its own per-layer numbers
in ``trace``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import replace
from statistics import median

from perfbench import checks, inputs

SECRET_KEY = "perfbench-key"


def _noop(df) -> None:
    # a noop write materialises every column; count() would let Catalyst
    # prune the fused UDF away
    df.write.mode("overwrite").format("noop").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def checkpoint_layers(spark, pages, out_path: str, cfg, n_waves: int) -> dict[str, float]:
    """Per-layer numbers of a finished ``run_checkpointed`` output: what
    it wrote, a resume over it, and the lineage rollup of its rows."""
    from deidentify_spark.pipeline.checkpoint import run_checkpointed
    from deidentify_spark.pipeline.lineage import lineage_metrics

    files = written = 0
    for root, _dirs, names in os.walk(out_path):
        for n in names:
            files += 1
            written += os.path.getsize(os.path.join(root, n))
    scrubbed = spark.read.parquet(os.path.join(out_path, "scrubbed"))
    return {
        "checkpoint.bytes_written": float(written),
        "checkpoint.files_written": float(files),
        # a re-submit over a finished output only reads the manifest
        "checkpoint.resume_s": median(
            _timed(lambda: run_checkpointed(pages, out_path, cfg, n_waves=n_waves))
            for _ in range(3)
        ),
        "lineage.s": median(_timed(lambda: _noop(lineage_metrics(scrubbed))) for _ in range(3)),
    }


class Workload:
    name: str
    n_docs: int
    min_passes = 3
    # untimed passes after the first execution: pass times fall while the
    # JVM compiles the plan's hot paths, most steeply in the first pass;
    # a second warm pass would cost each run 4 s of its time budget
    warm_passes = 1
    pipeline = True  # runs the fused UDF, so the traced run times its stages
    max_cores = 4
    # extra per-pass numbers ``run_pass`` leaves for ``totals``
    pass_detail: dict = {}

    def prepare_pass(self, i: int) -> None:
        """Untimed work before pass ``i``."""

    def totals(self, passes: list[dict]) -> tuple[float, float]:
        """Wall and CPU seconds of one pass: the medians over ``passes``."""
        return median(p["wall_s"] for p in passes), median(p["cpu_s"] for p in passes)


class _Pipeline(Workload):
    """Shared body of the fused-pipeline workloads."""

    span_docs: int

    def __init__(self, seed: int, cores: int, work: str, scale: float = 1.0) -> None:
        from deidentify_spark.pipeline.stages import PipelineConfig

        self.seed, self.cores, self.work = seed, cores, work
        self.n_docs = max(int(self.n_docs * scale), 64)
        self.span_docs = max(int(self.span_docs * scale), 64)
        self.parts = cores * 8  # >= 8 waves of tasks, as bench.py
        self.cfg = PipelineConfig(secret_key=SECRET_KEY, repartition=self.parts)

    def make_pages(self, spark, seed: int, n_docs: int, partitions: int):
        raise NotImplementedError

    def doc_texts(self, n_docs: int) -> list[str]:
        """The first ``n_docs`` texts, generated in this process."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        # generation width only shapes set-up: the plan repartitions anyway
        self.full = self.make_pages(spark, self.seed, self.n_docs, self.cores * 2).cache()
        self.full.count()
        self.pages = self.full.select(*inputs.PAGE_COLUMNS)

    def warm(self, spark) -> None:
        from deidentify_spark.pipeline.stages import run_pipeline

        out = run_pipeline(self.pages, self.cfg).select("url", "text", "keep", "scrubbed_text")
        self.rows = out.join(self.full.select("url", "expected_keep"), "url").toPandas()

    def run_pass(self, spark, i: int) -> int:
        from deidentify_spark.pipeline.stages import run_pipeline

        _noop(run_pipeline(self.pages, self.cfg))
        return self.n_docs

    def gen_us_per_doc(self) -> float:
        n = max(self.span_docs // 4, 1)
        return _timed(lambda: self.doc_texts(n)) / n * 1e6

    def check(self) -> dict:
        rows = self.rows
        kept = rows[rows["keep"]]
        wrong = checks.scrub_mismatches(kept, SECRET_KEY, self.seed)
        wrong += int(rows["scrubbed_text"][~rows["keep"]].notna().sum())
        wrong += len(rows) != self.n_docs
        f1 = checks.keep_f1(rows["keep"], rows["expected_keep"])
        return {"keep_f1": f1, "wrong_outputs": wrong, "ok": wrong == 0 and f1 >= checks.MIN_KEEP_F1}

    def trace(self, spark, rest) -> dict[str, float]:
        from pyspark.sql import functions as F

        scan_s = median(_timed(lambda: _noop(self.pages)) for _ in range(3))
        shuffled = self.pages.repartition(self.parts, F.xxhash64("url"))
        rep_s = median(_timed(lambda: _noop(shuffled)) for _ in range(3))
        return {"spark.scan_s": scan_s, "spark.repartition_s": max(rep_s - scan_s, 0.0)}


class WebMix(_Pipeline):
    name = "web_mix"
    n_docs = 8_000
    span_docs = 2_048

    def make_pages(self, spark, seed, n_docs, partitions):
        return inputs.web_pages(spark, seed, n_docs, partitions)

    def trace(self, spark, rest):
        """Also the checkpoint and lineage layers: one checkpointed job
        (``CheckpointedJob``'s plan) over the same pages."""
        from deidentify_spark.pipeline.checkpoint import run_checkpointed

        out = super().trace(spark, rest)
        cfg = replace(self.cfg, repartition=None, n_buckets=CheckpointedJob.n_buckets)
        path = os.path.join(self.work, "checkpoint-trace")
        run_checkpointed(self.pages, path, cfg, n_waves=CheckpointedJob.n_waves)
        out.update(checkpoint_layers(spark, self.pages, path, cfg, CheckpointedJob.n_waves))
        shutil.rmtree(path)
        return out

    def doc_texts(self, n_docs):
        from deidentify_spark.functions.quality import QualityConfig
        from deidentify_spark.sources.pages import make_doc

        cfg = QualityConfig()
        return [make_doc(self.seed, i, cfg, include_html=False)["text"] for i in range(n_docs)]


class PiiDense(_Pipeline):
    name = "pii_dense"
    n_docs = 1_000
    span_docs = 512

    def make_pages(self, spark, seed, n_docs, partitions):
        return inputs.pii_dense_pages(spark, seed, n_docs, partitions)

    def doc_texts(self, n_docs):
        from deidentify_spark.functions.quality import QualityConfig

        cfg = QualityConfig()
        return [inputs.pii_dense_doc(self.seed, i, cfg)["text"] for i in range(n_docs)]

    def trace(self, spark, rest):
        """Also the operator layer: one pass of the leaves after their
        first execution, in this session, its outputs checked too."""
        out = super().trace(spark, rest)
        leaves = OperatorLeaves(self.seed, self.cores, os.path.join(self.work, "leaves"))
        leaves.setup(spark)
        leaves.warm(spark)
        leaves.run_pass(spark, 0)
        out.update(leaves.trace(spark, rest, with_sums=False))
        self.leaf_check = leaves.check()
        return out

    def check(self):
        res = super().check()
        leaf = getattr(self, "leaf_check", None)
        if leaf is not None:
            res["wrong_outputs"] += leaf["wrong_outputs"]
            res["ok"] = res["ok"] and leaf["ok"]
        return res


class CheckpointedJob(WebMix):
    """``pipeline.checkpoint.run_checkpointed`` over web-mix pages read
    from parquet, into a fresh output directory per pass."""

    name = "checkpointed_job"
    # 16 buckets in 2 waves: every mechanism of the job (wave filter,
    # bucket shuffle, persist, partitioned writes, lineage) at a file
    # count that keeps per-file commit cost from swamping the docs
    n_buckets = 16
    n_waves = 2

    def __init__(self, seed, cores, work, scale=1.0):
        super().__init__(seed, cores, work, scale)
        # the job's default plan: no explicit repartition before the UDF
        self.cfg = replace(self.cfg, repartition=None, n_buckets=self.n_buckets)
        self.pages_path = os.path.join(work, "pages")
        self.out_path = None

    def setup(self, spark) -> None:
        df = self.make_pages(spark, self.seed, self.n_docs, self.cores * 2)
        df.select(*inputs.PAGE_COLUMNS, "expected_keep").write.mode("overwrite").parquet(
            self.pages_path
        )
        self.full = spark.read.parquet(self.pages_path)
        self.pages = self.full.select(*inputs.PAGE_COLUMNS)

    def warm(self, spark) -> None:
        from pyspark.sql import functions as F

        self.prepare_pass(-1)
        self.run_pass(spark, -1)
        scrubbed = spark.read.parquet(os.path.join(self.out_path, "scrubbed"))
        self.rows = (
            scrubbed.select("url", "keep", "scrubbed_text")
            .join(self.full.select("url", "text", "expected_keep"), "url")
            .toPandas()
        )
        self.lineage = spark.read.parquet(os.path.join(self.out_path, "metrics")).agg(
            F.sum("docs_in").alias("docs_in"), F.sum("docs_out").alias("docs_out")
        ).first()
        self.drop_output()

    def prepare_pass(self, i):
        self.drop_output()
        self.out_path = os.path.join(self.work, f"out-{i}")

    def run_pass(self, spark, i):
        from deidentify_spark.pipeline.checkpoint import run_checkpointed

        manifest = run_checkpointed(self.pages, self.out_path, self.cfg, n_waves=self.n_waves)
        if len(manifest["done_buckets"]) != self.cfg.n_buckets:
            raise RuntimeError(f"checkpointed run left buckets undone: {manifest}")
        return self.n_docs

    def drop_output(self) -> None:
        if self.out_path:
            shutil.rmtree(self.out_path, ignore_errors=True)
            self.out_path = None

    def check(self):
        res = super().check()
        # the lineage table must account for every doc and every kept row
        lineage_ok = (self.lineage["docs_in"] == self.n_docs
                      and self.lineage["docs_out"] == int(self.rows["keep"].sum()))
        res["wrong_outputs"] += not lineage_ok
        res["ok"] = res["ok"] and lineage_ok
        return res

    def trace(self, spark, rest):
        out = _Pipeline.trace(self, spark, rest)
        out.update(checkpoint_layers(spark, self.pages, self.out_path, self.cfg, self.n_waves))
        return out


LEAVES = (
    "verified_near_dups_documents",
    "minhash_lsh_candidates_documents",
    "kmeans_clusters_embeddings",
    "html_extract_digest",
)
# its verified pairs decide which docs a dedup keeps (all but the higher
# id of each pair): keep_f1 scores that set against the twin's
KEEP_LEAF = "verified_near_dups_documents"


class OperatorLeaves(Workload):
    """Registered queries through ``__spark_entry__.queries()`` on seeded
    tables; caches are released before every leaf."""

    name = "operator_leaves"
    # the leaves are bound by job count, not rows: small tables buy more
    # passes per run, and the medians of more passes are steadier
    n_docs = 300
    min_passes = 4
    pipeline = False
    # the driver plans and schedules one job at a time: a warm pass takes
    # about as long at local[1] as at local[4], and two task slots leave
    # cores to the JIT's compiler threads
    max_cores = 2

    def __init__(self, seed: int, cores: int, work: str, scale: float = 1.0) -> None:
        self.seed, self.cores, self.work = seed, cores, work
        self.n_docs = max(int(self.n_docs * scale), 300)
        self.tables = os.path.join(work, "tables")
        self.order = list(LEAVES)
        random.Random(seed).shuffle(self.order)
        self.outputs: list[dict] = []
        self.leaf_s: dict[str, list[float]] = {q: [] for q in LEAVES}

    def setup(self, spark) -> None:
        inputs.write_leaf_tables(self.tables, self.seed, self.n_docs)
        for name in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.tables, f"{name}.parquet")).count()

    def gen_us_per_doc(self) -> float:
        return _timed(lambda: inputs.leaf_tables(self.seed, self.n_docs)) / self.n_docs * 1e6

    def warm(self, spark) -> None:
        """The first run of each leaf pays the JVM's code generation."""
        self.run_pass(spark, -1)
        self.leaf_s = {q: [] for q in LEAVES}

    def run_leaf(self, spark, query: str):
        """The leaf's rows, wall seconds and process-tree CPU seconds."""
        import __spark_entry__ as entry

        from deidentify_spark.runtime import release_tracked
        from perfbench.procstat import tree_cpu_s

        spark.catalog.clearCache()
        release_tracked()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        rows = entry.queries()[query](spark, self.tables).toPandas()
        return rows, time.perf_counter() - t0, tree_cpu_s() - c0

    def run_pass(self, spark, i: int) -> int:
        """Run every leaf once, recording each leaf's wall and CPU."""
        out, wall, cpu = {}, {}, {}
        for q in self.order:
            spark.sparkContext.setJobGroup(f"leaf-{q}-{i}", q)
            out[q], wall[q], cpu[q] = self.run_leaf(spark, q)
            self.leaf_s[q].append(wall[q])
        self.pass_detail = {"leaf_s": wall, "leaf_cpu_s": cpu}
        self.outputs.append(out)
        self.last_pass = i
        return self.n_docs

    def totals(self, passes):
        """Sums over the leaves of each leaf's median: a burst on the box
        then spoils one leaf's sample, not a whole pass, and the cache
        releases between leaves stay out."""
        return tuple(
            sum(median(p[key][q] for p in passes) for q in LEAVES)
            for key in ("leaf_s", "leaf_cpu_s")
        )

    def check(self) -> dict:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for name in os.listdir(self.tables):
                path = os.path.join(self.tables, name)
                con.execute(f"CREATE VIEW {name.split('.')[0]} AS SELECT * FROM read_parquet('{path}')")
            twins = {q: con.execute(oracles[q]).df() for q in LEAVES}
        finally:
            con.close()
        wrong = sum(
            not checks.frames_match(out[q], twins[q]) for out in self.outputs for q in LEAVES
        )
        docs = set(range(self.n_docs))

        def kept(pairs):
            return docs - set(pairs["doc_b"].tolist())

        f1 = min(checks.set_f1(kept(out[KEEP_LEAF]), kept(twins[KEEP_LEAF]))
                 for out in self.outputs)
        return {"keep_f1": f1, "wrong_outputs": wrong, "ok": wrong == 0}

    def trace(self, spark, rest, with_sums: bool = True) -> dict[str, float]:
        """Per-leaf Spark counters of the last timed pass, and (with
        ``with_sums``) their sums as the pass's ``spark.*`` totals."""
        out: dict[str, float] = {}
        sums: dict[str, float] = {}
        for q in LEAVES:
            g = rest.group_totals(f"leaf-{q}-{self.last_pass}")
            out[f"leaf.{q}.s"] = self.leaf_s[q][-1]
            out[f"leaf.{q}.jobs"] = g["spark.jobs"]
            out[f"leaf.{q}.executor_cpu_s"] = g["spark.executor_cpu_s"]
            out[f"leaf.{q}.shuffle_bytes"] = (
                g["spark.shuffle_read_bytes"] + g["spark.shuffle_write_bytes"]
            )
            for k, v in g.items():
                merge = max if k == "spark.task_skew" else sum
                sums[k] = merge((sums.get(k, 0.0), v))
        if with_sums:
            out.update(sums)
        return out


WORKLOADS = {w.name: w for w in (WebMix, PiiDense, CheckpointedJob, OperatorLeaves)}
