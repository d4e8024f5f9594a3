"""Fused filter+scrub stage: one Arrow pandas UDF for the whole pipeline
decision surface (langid -> Gopher/C4 rules -> n-gram repetition ->
perplexity -> scrub).

Why one UDF instead of a chain of masked UDFs + JVM rule expressions —
both measured on 20k synthetic docs at local[32]:

* chaining four ArrowEvalPython nodes let Catalyst's Project collapse
  re-inline the rule CASE WHEN into every node's input projection and
  added per-node worker/Arrow overhead (~6s per node);
* the Column-expression quality rules re-split the text in every CASE
  WHEN branch (no cross-branch subexpression elimination) and run
  per-word regexp_replace inside lambda filters — ~4-5 ms/doc, ~100x a
  tuned per-doc Python pass (~30-50 us/doc).

The fused plan is: scan -> Project(bucket) -> ArrowEvalPython(this) ->
Project. Staging semantics are preserved INSIDE the batch: every stage
runs only on rows all earlier gates kept, and cheaper stages run first
(the rules before perplexity, and the scrub last, on kept rows only;
langid must see every doc because wrong-language is the
highest-priority drop reason). Per-stage costs are measured, not
quoted here: ``python3 perfbench/run.py --workload web_mix --seed 1
--seconds 16 --trace 1`` reports ``langid``/``quality_pre``/
``top2gram``/``perplexity``/``scrub`` ``.us_per_doc`` for the current
code.

Reason priority: non_english > quality pre-rules > top_ngram_repetition
> C4 phrase rules > high_perplexity > low_lang_conf > keep.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from deidentify_spark.functions.quality import (
    QualityConfig,
    quality_post_reason_py,
    quality_pre_reason_py,
)

FUSED_SCHEMA = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("top_2gram_frac", DoubleType()),
        StructField("perplexity", DoubleType()),
        StructField("drop_reason", StringType()),
        StructField("keep", BooleanType()),
        StructField("scrubbed_text", StringType()),
        StructField("pii_hits", MapType(StringType(), LongType())),
    ]
)


def top_2gram_frac(text: str) -> float:
    """Fraction of word 2-grams taken by the most common 2-gram."""
    words = text.lower().split()
    if len(words) < 2:
        return 0.0
    grams = Counter(zip(words, words[1:]))
    return max(grams.values()) / (len(words) - 1)


def fused_filter_scrub_udf(
    secret_key: str,
    target_lang: str = "en",
    min_lang_conf: float = 0.35,
    max_perplexity: float = 1500.0,
    quality: QualityConfig | None = None,
    detect_ips: bool = False,
):
    qcfg = quality or QualityConfig()

    @F.pandas_udf(FUSED_SCHEMA)
    def fused(text: pd.Series) -> pd.DataFrame:
        from deidentify_spark.functions.langid import predict_batch
        from deidentify_spark.functions.perplexity import perplexity
        from deidentify_spark.functions.scrub import (
            CountingDeidentifier,
            CountingExtendedDeidentifier,
        )

        isnull = text.isna().tolist()
        txt = text.fillna("").tolist()
        n = len(txt)
        preds, confs = predict_batch(txt)

        top2 = [None] * n
        ppl = [None] * n
        reason: list[str | None] = [None] * n
        for i in range(n):
            if isnull[i]:
                # missing input is its own lineage category — attributing
                # it to the langid gate ('non_english' for an empty
                # string) would misreport data-quality nulls as language
                # filtering in drop_reason_counts
                reason[i] = "null_text"
                preds[i] = None
                confs[i] = None
                continue
            if preds[i] != target_lang:
                reason[i] = "non_english"
                continue
            t = txt[i]
            r = quality_pre_reason_py(t, qcfg)
            if r is None:
                top2[i] = top_2gram_frac(t)
                if top2[i] > qcfg.max_top_2gram_frac:
                    r = "top_ngram_repetition"
                else:
                    r = quality_post_reason_py(t, qcfg)
            if r is None:
                ppl[i] = perplexity(t)
                if ppl[i] > max_perplexity:
                    r = "high_perplexity"
            if r is None and confs[i] < min_lang_conf:
                r = "low_lang_conf"
            reason[i] = r

        engine = CountingExtendedDeidentifier if detect_ips else CountingDeidentifier
        d = engine(secret_key)
        scrubbed: list[str | None] = [None] * n
        hits: list[dict | None] = [None] * n
        for i in range(n):
            if reason[i] is None:
                d.reset_hits()
                scrubbed[i] = d.text(txt[i])
                hits[i] = dict(d.hits)

        return pd.DataFrame(
            {
                "lang_pred": preds,
                "lang_conf": pd.array(confs, dtype="float64"),
                "top_2gram_frac": pd.array(top2, dtype="float64"),
                "perplexity": pd.array(ppl, dtype="float64"),
                "drop_reason": reason,
                "keep": [r is None for r in reason],
                "scrubbed_text": scrubbed,
                "pii_hits": hits,
            },
            index=text.index,
        )

    return fused
