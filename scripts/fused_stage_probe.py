"""CPU cost of each stage of the fused filter+scrub UDF, per doc.

Runs the stages of ``functions/fused.py`` in the UDF's order and with its
gates, in one process and without Spark, over two corpora:

* ``web``: the generator's default mix (every doc reaches langid);
* ``pii_dense``: ``perfbench.inputs.pii_dense_doc`` texts (four joined
  PII-bearing generator docs, ~5 kchar each, all kept).

``langid`` is ``predict_batch`` over the corpus in Arrow-sized batches,
and ``scrub`` is ``CountingDeidentifier.text`` over the kept docs with a
fresh engine per batch, each timed alone. The four rule/LM stages
(``quality_pre``, ``top2gram``, ``quality_post``, ``perplexity``) share
per-doc work, so they are timed as growing prefixes of the UDF's per-doc
chain, each doc running only the stages its gates let it reach; a
stage's cost is its prefix minus the one before it. The text split the
stages share is thus charged to ``quality_pre``, as in perfbench's
traced run. Figures are process CPU µs per doc of the corpus (a stage
its gate skips costs 0 on that doc): ``min`` and ``median`` of
``REPEATS``, the first repeat warming the per-word memos as a long-lived
worker would. ``rules_sum`` is the whole four-stage chain. One JSON line
per corpus. Usage, from the repository root:

    python3 scripts/fused_stage_probe.py
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time
from statistics import median

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
# one BLAS thread, as in perfbench's Spark workers (set before numpy loads)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

WEB_SEED, WEB_DOCS = 1, 2000
PII_SEED, PII_DOCS = 3, 200
BATCH = 256  # perfbench's traced-run batch
REPEATS = 15
SECRET_KEY = "fused-stage-probe"
RULE_STAGES = ("quality_pre", "top2gram", "quality_post", "perplexity")


def _cpu_s(fn) -> list[float]:
    fn()  # warm the models and the memos
    samples = []
    for _ in range(REPEATS):
        t0 = time.process_time()
        fn()
        samples.append(time.process_time() - t0)
    return samples


def _route(texts, preds, confs, cfg):
    """([(text, number of rule/LM stages the UDF runs on it)] for each doc
    langid passes, [texts the UDF keeps and scrubs])."""
    from deidentify_spark.functions.fused import (
        quality_post_reason_py,
        quality_pre_reason_py,
        top_2gram_frac,
    )
    from deidentify_spark.functions.perplexity import perplexity

    q = cfg.quality
    docs, kept = [], []
    for t, p, c in zip(texts, preds, confs):
        if p != cfg.target_lang:
            continue
        if quality_pre_reason_py(t, q) is not None:
            docs.append((t, 1))
        elif top_2gram_frac(t) > q.max_top_2gram_frac:
            docs.append((t, 2))
        elif quality_post_reason_py(t, q) is not None:
            docs.append((t, 3))
        else:
            docs.append((t, 4))
            if perplexity(t) <= cfg.max_perplexity and c >= cfg.min_lang_conf:
                kept.append(t)
    return docs, kept


def _chain(docs, k: int, cfg):
    """The UDF's per-doc rule/LM chain cut after its ``k``-th stage."""
    from deidentify_spark.functions.fused import (
        quality_post_reason_py,
        quality_pre_reason_py,
        top_2gram_frac,
    )
    from deidentify_spark.functions.perplexity import perplexity

    q = cfg.quality

    def go():
        for t, depth in docs:
            quality_pre_reason_py(t, q)
            if k >= 2 and depth >= 2:
                top_2gram_frac(t)
                if k >= 3 and depth >= 3:
                    quality_post_reason_py(t, q)
                    if k >= 4 and depth >= 4:
                        perplexity(t)

    return go


def _us(samples: list[float], n: int) -> dict:
    return {"min": round(min(samples) / n * 1e6, 1), "median": round(median(samples) / n * 1e6, 1)}


def _probe(name: str, texts: list[str], cfg) -> dict:
    from deidentify_spark.functions.langid import predict_batch
    from deidentify_spark.functions.scrub import CountingDeidentifier

    n = len(texts)
    batches = [texts[i : i + BATCH] for i in range(0, n, BATCH)]
    scored = [predict_batch(b) for b in batches]
    docs, kept = _route(
        texts, [p for s in scored for p in s[0]], [c for s in scored for c in s[1]], cfg
    )
    kept_batches = [kept[i : i + BATCH] for i in range(0, len(kept), BATCH)]

    def langid():
        for b in batches:
            predict_batch(b)

    def scrub():
        for b in kept_batches:
            d = CountingDeidentifier(SECRET_KEY)
            for t in b:
                d.reset_hits()
                d.text(t)

    stage_us: dict[str, dict] = {"langid": _us(_cpu_s(langid), n)}
    prev = [0.0] * REPEATS
    for k, stage in enumerate(RULE_STAGES, start=1):
        cur = _cpu_s(_chain(docs, k, cfg))
        stage_us[stage] = {
            "min": round((min(cur) - min(prev)) / n * 1e6, 1),
            "median": round((median(cur) - median(prev)) / n * 1e6, 1),
        }
        prev = cur
    stage_us["rules_sum"] = _us(prev, n)
    stage_us["scrub"] = _us(_cpu_s(scrub), n)
    return {
        "corpus": name,
        "docs": n,
        "stage_docs": {
            "langid": n,
            **{s: sum(depth >= k for _, depth in docs) for k, s in enumerate(RULE_STAGES, start=1)},
            "scrub": len(kept),
        },
        "kchar_per_doc": round(sum(map(len, texts)) / n / 1e3, 2),
        "us_per_doc": stage_us,
    }


def main() -> None:
    from deidentify_spark.pipeline.stages import PipelineConfig
    from deidentify_spark.sources.pages import make_doc
    from perfbench.inputs import pii_dense_doc

    cfg = PipelineConfig(secret_key=SECRET_KEY)
    web = [make_doc(WEB_SEED, i, cfg.quality, include_html=False)["text"] for i in range(WEB_DOCS)]
    pii = [pii_dense_doc(PII_SEED, i, cfg.quality)["text"] for i in range(PII_DOCS)]
    for name, texts in (("web", web), ("pii_dense", pii)):
        print(json.dumps(_probe(name, texts, cfg)), flush=True)


if __name__ == "__main__":
    main()
