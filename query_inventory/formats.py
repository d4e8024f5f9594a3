"""File-format round trips of the ``documents`` table: ORC, JSONL,
page HTML extraction and the WARC sink + source.

Each query's DuckDB twin is the ``@oracle`` SQL right above it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.functions.htmlx import extract_text_column
from deidentify_spark.sources.warc import read_warc, write_warc
from query_inventory._base import _t, oracle


@oracle("""
            SELECT doc_id, md5(text) AS text_md5, lang, source
            FROM documents ORDER BY doc_id
        """)
def orc_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange round trip — Spark's second native columnar
    format beside parquet: write documents as ORC, read back, digest
    every field.  Same harness as jsonl_roundtrip_documents; together
    the parquet/CSV/JSONL/WARC/ORC family covers every interchange
    format this engine reads or writes.  Narrow both ways."""
    import hashlib
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_orc_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    docs.select("doc_id", "text", "lang", "source").coalesce(4).write.orc(out)
    back = spark.read.orc(out)
    return back.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "lang",
        "source",
    ).orderBy("doc_id")


def _page_html_expr(text_col: str = "text"):
    """JVM-side page template: entity-escaped ``text_col`` inside
    realistic chrome (head/style/script/nav/footer) that the extractor
    (functions/htmlx.py) must strip.  Extraction of this html is exactly
    the original text, which is what lets WARC/extraction queries be
    value-checked by a plain ``md5(text)`` DuckDB oracle."""
    esc = F.col(text_col)
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    esc = F.replace(esc, F.lit("\n"), F.lit("<br/>"))
    return F.concat(
        F.lit(
            '<!DOCTYPE html><html lang="en"><head><title>d</title>'
            "<style>p{margin:0}</style><script>var x=1;</script></head>"
            '<body><header><nav><a href="/">Home</a> | <a href="/about">About</a>'
            "</nav></header><p>"
        ),
        esc,
        F.lit('</p><footer>&copy; 2024 example &middot; legal</footer></body></html>'),
    ).cast("binary")


# Extraction is an exact identity on whitespace-normal text, so
# the oracle needs no HTML parser: if the Spark side's render ->
# parse -> strip -> decode round trip is correct, md5 matches.
@oracle("""
            SELECT doc_id, md5(text) AS extract_md5, length(text) AS n_chars
            FROM documents ORDER BY doc_id
        """)
def html_extract_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction round trip, value-checked without an HTML
    parser on the oracle side: render each document as a full page
    JVM-side (entity-escaped body inside realistic chrome — head/style/
    script/nav/footer the extractor must strip), run the Arrow extraction
    UDF (functions/htmlx.py), and emit md5 of the result.  Extraction is
    an exact identity on whitespace-normal text, so the DuckDB oracle is
    simply ``md5(text)`` — any parsing, entity, suppression, or
    normalization bug breaks the hash.  Map-only, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    html = _page_html_expr("text")
    return docs.select(
        "doc_id",
        F.md5(extract_text_column(html)).alias("extract_md5"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


@oracle("""
            SELECT doc_id, md5(text) AS text_md5, lang, source
            FROM documents ORDER BY doc_id
        """)
def jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round trip — the de-facto LLM-dataset wire
    format: write documents as .jsonl (df.write.json = one JSON object
    per line), read back with an explicit schema, and digest every
    field.  Value-checks JSON string escaping (quotes/backslashes/
    control chars in text survive), long round-tripping, and that the
    reader needs no schema inference pass.  Narrow both ways."""
    import hashlib
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_jsonl_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    docs.select("doc_id", "text", "lang", "source").coalesce(4).write.json(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string"
    ).json(out)
    return back.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "lang",
        "source",
    ).orderBy("doc_id")


@oracle("""
            SELECT doc_id, md5(text) AS extract_md5,
                   CAST(1704067200 + doc_id * 37 AS BIGINT) AS ts_unix
            FROM documents ORDER BY doc_id
        """)
def warc_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC sink + source round trip (sources/warc.py), value-checked
    end-to-end: documents -> page html (JVM template) -> distributed
    ``.warc.gz`` write (per-record gzip members, Common-Crawl layout) ->
    binaryFile read + member parse -> html extraction -> md5 vs the
    oracle's plain ``md5(text)``.  The timestamp column round-trips
    through WARC-Date, checked as epoch seconds (a pure function of
    doc_id on both sides).  Narrow both ways — the only exchange is the
    fixed 4-way repartition that makes the file set deterministic."""
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    pages = docs.repartition(4, "doc_id").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 37).alias("warc_ts"),
        _page_html_expr("text").alias("html"),
    )
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_warc_rt_{tag}")
    shutil.rmtree(out, ignore_errors=True)  # stale part files would dup rows
    write_warc(pages, out).collect()  # O(#files) manifest, not data

    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    return back.select(
        F.substring("url", 7, 20).cast("bigint").alias("doc_id"),
        F.md5(extract_text_column("html")).alias("extract_md5"),
        F.col("warc_ts").cast("long").alias("ts_unix"),
    ).orderBy("doc_id")
