"""Traced-run instruments: spans around the fused stage's calls, and
Spark counters from the UI REST API.

``FusedTracer`` wraps the public functions the fused UDF calls
(``predict_batch``, the rule functions, ``top_2gram_frac``,
``perplexity`` and ``CountingDeidentifier.text``) from this process, so
the package itself is never edited; the UDF's Python function is then
called on seeded batches. Spans (name, start, end, parent, batch) and
counts are kept in memory and written out when the run ends.

``SparkRest`` reads ``/jobs``, ``/stages`` and ``/sql?details=true`` of
the live application; totals are taken per job group, one group per
timed leg.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd

STAGES = ("langid", "quality_pre", "top2gram", "quality_post", "perplexity", "scrub")


class FusedTracer:
    def __init__(self, max_top_2gram_frac: float, max_perplexity: float, target_lang: str):
        self.max_top_2gram_frac = max_top_2gram_frac
        self.max_perplexity = max_perplexity
        self.target_lang = target_lang
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._open: list[int] = []
        self.batch = -1

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None,
               "batch": self.batch, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def installed(self):
        """Patch the wrapped functions for the duration of the block."""
        import deidentify_spark.functions.fused as fused_mod
        import deidentify_spark.functions.langid as langid_mod
        import deidentify_spark.functions.perplexity as ppl_mod
        import deidentify_spark.functions.scrub as scrub_mod

        tracer = self
        c = self.counts
        predict_batch = langid_mod.predict_batch
        pre, post = fused_mod.quality_pre_reason_py, fused_mod.quality_post_reason_py
        top2, ppl = fused_mod.top_2gram_frac, ppl_mod.perplexity
        base = scrub_mod.CountingDeidentifier

        def t_predict_batch(texts):
            with tracer.span("langid"):
                preds, confs = predict_batch(texts)
            c["langid.docs"] += len(texts)
            c["langid.non_en_docs"] += sum(p != tracer.target_lang for p in preds)
            return preds, confs

        def t_pre(text, cfg):
            with tracer.span("quality_pre"):
                r = pre(text, cfg)
            c["quality_pre.docs"] += 1
            c["quality_pre.drops"] += r is not None
            return r

        def t_top2(text):
            with tracer.span("top2gram"):
                v = top2(text)
            c["top2gram.docs"] += 1
            c["top2gram.drops"] += v > tracer.max_top_2gram_frac
            return v

        def t_post(text, cfg):
            with tracer.span("quality_post"):
                r = post(text, cfg)
            c["quality_post.docs"] += 1
            c["quality_post.drops"] += r is not None
            return r

        def t_ppl(text):
            with tracer.span("perplexity"):
                v = ppl(text)
            c["perplexity.docs"] += 1
            c["perplexity.drops"] += v > tracer.max_perplexity
            return v

        class TracedDeidentifier(base):
            def text(self, text):
                with tracer.span("scrub"):
                    out = super().text(text)
                c["scrub.docs"] += 1
                c["scrub.chars"] += len(text)
                c["scrub.pii_hits"] += sum(self.hits.values())
                return out

        patched = {
            (langid_mod, "predict_batch"): t_predict_batch,
            (fused_mod, "quality_pre_reason_py"): t_pre,
            (fused_mod, "top_2gram_frac"): t_top2,
            (fused_mod, "quality_post_reason_py"): t_post,
            (ppl_mod, "perplexity"): t_ppl,
            (scrub_mod, "CountingDeidentifier"): TracedDeidentifier,
        }
        orig = {(mod, name): getattr(mod, name) for mod, name in patched}
        for (mod, name), fn in patched.items():
            setattr(mod, name, fn)
        try:
            yield self
        finally:
            for (mod, name), fn in orig.items():
                setattr(mod, name, fn)

    def run(self, udf_func, batches: list[list[str]]) -> float:
        """Call the UDF's Python function on each batch inside a ``fused``
        span; returns the wall seconds of all calls."""
        t0 = time.perf_counter()
        for i, batch in enumerate(batches):
            self.batch = i
            with self.span("fused"):
                udf_func(pd.Series(batch))
        return time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


# "12.3 MiB", "450 ms", "1.2 s", "2.0 m", or the same after a
# "total (min, med, max ...)\n" header on multi-task metrics
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")
_SCALE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

PYTHON_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
}


def parse_metric(text: str) -> float:
    """First value of a formatted SQL metric, in bytes or seconds."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class SparkRest:
    def __init__(self, spark, port: int):
        app = spark.sparkContext.applicationId
        self.base = f"http://localhost:{port}/api/v1/applications/{app}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _jobs(self, group: str) -> list[dict]:
        return [j for j in self._get("/jobs") if j.get("jobGroup") == group]

    def _settled_jobs(self, group: str, timeout_s: float = 20.0) -> list[dict]:
        """The group's jobs once the UI listener has caught up with them."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = self._jobs(group)
            state = [(j["jobId"], j["status"]) for j in jobs]
            if state == prev and all(s != "RUNNING" for _, s in state):
                return jobs
            if time.monotonic() > deadline:
                return jobs
            prev = state
            time.sleep(0.2)

    def group_totals(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, executor CPU/GC and shuffle bytes of one
        job group, plus the task skew (max / median task run time) of its
        longest stage and the ArrowEvalPython node metrics."""
        jobs = self._settled_jobs(group)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numTasks"] for s in stages)),
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
            "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "spark.task_skew": 1.0,
        }
        if stages:
            top = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["spark.task_skew"] = q[1] / q[0] if q[0] else 1.0
        out.update(dict.fromkeys(PYTHON_METRICS.values(), 0.0))
        for ex in self._get("/sql?details=true&length=100000"):
            if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                if "ArrowEvalPython" not in node.get("nodeName", ""):
                    continue
                for m in node.get("metrics", []):
                    key = PYTHON_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_metric(m["value"])
        return out
