"""Seeded workload inputs: every row is a pure function of ``--seed``.

* ``web_pages``: the default ``sources.pages.generate_pages`` mix, text
  only, plus the generator's ``expected_keep`` label for the F1 check.
* ``pii_dense_pages``: every doc joins four PII-bearing clean English
  docs of the same generator (about 5 kchar, all labelled keep).
* ``leaf_tables``: the tables the operator leaves read (documents and
  embeddings), shaped like the repository's test data and written as
  parquet next to the run.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from deidentify_spark.functions.quality import QualityConfig
from deidentify_spark.sources.pages import generate_pages, make_doc

PAGE_COLUMNS = ["url", "warc_ts", "text", "lang"]
PII_DOCS_JOINED = 4


def web_pages(spark, seed: int, n_docs: int, partitions: int):
    """``url, warc_ts, text, lang, expected_keep`` for the web mix."""
    return generate_pages(
        spark, n_docs, seed=seed, partitions=partitions, include_html=False
    ).select(*PAGE_COLUMNS, "expected_keep")


def pii_dense_doc(seed: int, doc_id: int, cfg: QualityConfig) -> dict:
    """Join the first four PII-bearing clean docs at or after ``doc_id * 40``
    in the generator stream of ``seed``."""
    texts = []
    i = doc_id * 40
    while len(texts) < PII_DOCS_JOINED:
        d = make_doc(seed, i, cfg, include_html=False)
        if d["expected_keep"] and d["pii_values"]:
            texts.append(d["text"])
        i += 1
    return {
        "url": f"https://pii{doc_id % 50:03d}.example/doc/{doc_id:012d}",
        "warc_ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=doc_id * 37),
        "text": " ".join(texts),
        "lang": "en",
        "expected_keep": True,
    }


_PII_SCHEMA = "url string, warc_ts timestamp, text string, lang string, expected_keep boolean"


def pii_dense_pages(spark, seed: int, n_docs: int, partitions: int):
    cfg = QualityConfig()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([pii_dense_doc(seed, int(i), cfg) for i in pdf["id"]])

    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(gen, _PII_SCHEMA)


_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EMB_DIM = 64


def leaf_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """Documents (5% near-duplicates: an earlier doc plus " dup") and
    10-cluster unit embeddings."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n)))
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n_vec = n_docs // 2
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, _EMB_DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vec, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_leaf_tables(path: str, seed: int, n_docs: int) -> None:
    """Write ``leaf_tables`` as ``<path>/<name>.parquet``, the layout the
    registered queries read through ``__spark_entry__._t``."""
    os.makedirs(path, exist_ok=True)
    for name, table in leaf_tables(seed, n_docs).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
