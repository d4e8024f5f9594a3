"""HTML -> text extraction (functions/htmlx.py).

The load-bearing property is the BASELINE input_hint invariant:
extraction of the generated page html is byte-identical to the page's
``text`` column, across every generator category (bullet lines, loops,
non-English, PII, code-ish curly docs, ...).
"""

from __future__ import annotations

import pytest

from deidentify_spark.functions.htmlx import (
    extract_html_text,
    extract_text_column,
)
from deidentify_spark.functions.quality import QualityConfig
from deidentify_spark.sources.pages import make_doc


def test_entities_and_inline_tags():
    h = "<html><body><p>Tom &amp; Jerry <b>run</b>s &lt;fast&gt;</p></body></html>"
    assert extract_html_text(h) == "Tom & Jerry runs <fast>"


def test_script_style_head_dropped():
    h = (
        "<html><head><title>T</title><style>p{color:red}</style></head>"
        "<body><script>var a = '<p>not text</p>';</script><p>real</p></body></html>"
    )
    assert extract_html_text(h) == "real"


def test_boilerplate_dropped():
    h = (
        "<body><nav><a href='/'>Home</a></nav><p>content</p>"
        "<footer>c 2024</footer></body>"
    )
    assert extract_html_text(h) == "content"


def test_block_vs_inline_boundaries():
    h = "<div>one</div><div>two<br/>three</div><p>a <span>b</span> c</p>"
    assert extract_html_text(h) == "one\ntwo\nthree\na b c"


def test_whitespace_collapse_and_empty_lines():
    h = "<p>  a \n\t b  </p><p>   </p><p>c</p>"
    assert extract_html_text(h) == "a b\nc"


def test_nested_and_unclosed_suppression():
    h = "<nav>outer <nav>inner</nav> tail</nav><p>x</p>"
    assert extract_html_text(h) == "x"
    # unclosed script: rawtext runs to EOF, never leaks
    assert extract_html_text("<p>ok</p><script>var x=1;") == "ok"


def test_bytes_input_and_none():
    assert extract_html_text("<p>café</p>".encode()) == "café"
    assert extract_html_text(None) is None
    assert extract_html_text(b"") == ""


def test_generator_round_trip_all_categories():
    """extract(html) == text byte-for-byte over a slice wide enough to
    hit every category (weights: rarest is lorem at 1.5% -> 2000 docs
    give ~30 of it)."""
    cfg = QualityConfig()
    seen = set()
    for i in range(2000):
        d = make_doc(42, i, cfg)
        got = extract_html_text(d["html"])
        assert got == d["text"], f"doc {i} round-trip mismatch"
        seen.add(d["expected_drop_reason"])
    assert len(seen) >= 10  # defect classes actually exercised


@pytest.mark.usefixtures("spark")
def test_spark_extraction_matches_text_column(spark):
    from deidentify_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 400, seed=7, partitions=4)
    out = pages.withColumn("extracted", extract_text_column("html"))
    n_bad = out.where("extracted IS DISTINCT FROM text").count()
    assert n_bad == 0


@pytest.mark.usefixtures("spark")
def test_pipeline_html_ingestion_parity(spark):
    """run_pipeline(extract_from_html=True) over pages WITHOUT a usable
    text column is byte-identical to the default text path — the WARC
    ingestion posture produces the same keep/drop + scrubbed output."""
    from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
    from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages

    pages = generate_pages(spark, 200, seed=19, partitions=2).select(*PAGE_COLUMNS)
    base = run_pipeline(pages, PipelineConfig(secret_key="k"))
    # poison the text column to prove the ingestion path never reads it
    from pyspark.sql import functions as F

    ingest = run_pipeline(
        pages.withColumn("text", F.lit("")),
        PipelineConfig(secret_key="k", extract_from_html=True),
    )
    cols = ["url", "lang_pred", "drop_reason", "keep", "scrubbed_text"]
    assert base.select(cols).exceptAll(ingest.select(cols)).count() == 0
    assert ingest.select(cols).exceptAll(base.select(cols)).count() == 0
