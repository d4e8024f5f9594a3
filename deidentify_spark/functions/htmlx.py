"""HTML -> text extraction for Common-Crawl-style pages.

The BASELINE input schema carries ``html binary`` next to ``text string``
with the per-row invariant "byte-identical extracted text per url": the
``text`` column IS the extraction of ``html``, and a pipeline ingesting
raw WARC captures has to produce it itself.  This module is that stage —
a deterministic, dependency-free extractor (stdlib ``html.parser``; no
trafilatura/bs4 in this environment, and the stdlib parser is the only
way to make the invariant reproducible everywhere).

Semantics (the classic lynx/jusText-style reduction):

* content of non-rendered elements (``script``/``style``/``head``/...)
  is dropped entirely, and so is page chrome
  (``nav``/``header``/``footer``/``aside``/``form``) — the RefinedWeb/C4
  preprocessing posture for web text;
* bytes are decoded as UTF-8 (malformed sequences become U+FFFD);
* block-level boundaries (``p``/``div``/``li``/``br``/``h1``..) become
  newlines; inline tags (``b``/``a``/``span``..) do not break text;
* character/entity references are decoded (``&amp;`` -> ``&``);
* HTML whitespace collapse: runs of whitespace inside a line become one
  space, lines are stripped, empty lines are dropped, lines join with
  ``\n``.  (``<pre>`` is normalized like everything else — a docs/text
  corpus, not a code corpus, is the target; documented limitation.)

Output is therefore always in whitespace normal form — the same normal
form the synthetic page generator and the test ``documents`` tables use,
which is what makes extraction an exact identity round-trip and lets a
DuckDB oracle value-check it via ``md5(text)`` (no HTML parser needed on
the oracle side).

Scale: one Arrow-batched pandas UDF, ~stateless per doc — map-only, no
shuffle, linear in corpus bytes; at 10^12 docs this stage is embarrassingly
parallel and runs fused into the same scan-side stage as langid.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Elements whose content is never rendered text.
DROP_TAGS = frozenset(
    {
        "script",
        "style",
        "noscript",
        "template",
        "head",
        "title",
        "svg",
        "iframe",
        "object",
        "embed",
        "select",
        "option",
        "datalist",
        "canvas",
        "map",
    }
)

# Page chrome: rendered, but boilerplate for a training-text corpus.
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside", "form", "button"})

# Everything whose content the extractor suppresses.
SUPPRESSED_TAGS = DROP_TAGS | BOILERPLATE_TAGS

# Elements that introduce a line boundary (HTML block-level display set
# plus explicit breaks).  Inline tags are everything else.
BLOCK_TAGS = frozenset(
    {
        "address",
        "article",
        "blockquote",
        "br",
        "caption",
        "dd",
        "details",
        "div",
        "dl",
        "dt",
        "fieldset",
        "figcaption",
        "figure",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "hr",
        "legend",
        "li",
        "main",
        "ol",
        "p",
        "pre",
        "section",
        "summary",
        "table",
        "tbody",
        "td",
        "tfoot",
        "th",
        "thead",
        "tr",
        "ul",
    }
)


class _Extractor(HTMLParser):
    """One-pass SAX-style text accumulator.

    Suppression is a depth counter over ``SUPPRESSED_TAGS``
    (nested/unclosed chrome still suppresses correctly: HTMLParser feeds
    rawtext elements like ``script`` as a single data event until their
    end tag).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._suppress = 0
        self._parts: list[str] = []
        self._lines: list[str] = []

    def _flush(self) -> None:
        line = " ".join("".join(self._parts).split())
        if line:
            self._lines.append(line)
        self._parts.clear()

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag in SUPPRESSED_TAGS:
            self._suppress += 1
        elif tag in BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):  # noqa: D102  (<br/>, <hr/>)
        if tag not in SUPPRESSED_TAGS and tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):  # noqa: D102
        if tag in SUPPRESSED_TAGS:
            self._suppress = max(0, self._suppress - 1)
        elif tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):  # noqa: D102
        if not self._suppress and data:
            self._parts.append(data)

    def text(self) -> str:
        self._flush()
        return "\n".join(self._lines)


def extract_html_text(html: bytes | str | None) -> str | None:
    """Scalar extraction — the single source of truth the UDF wraps."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _Extractor()
    p.feed(html)
    p.close()
    return p.text()


def extract_text_column(html_col: str | Column) -> Column:
    """Arrow-batched extraction column over a binary (or string) html column."""

    @F.pandas_udf(StringType())
    def extract(h: pd.Series) -> pd.Series:
        return pd.Series(
            [extract_html_text(v) for v in h], index=h.index, dtype="object"
        )

    return extract(F.col(html_col) if isinstance(html_col, str) else html_col)
