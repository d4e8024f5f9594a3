"""Deterministic synthetic Common-Crawl-style page generator.

Produces the BASELINE.json ``input_hint`` schema
``(url string, warc_ts timestamp, html binary, text string, lang string)``
plus golden-label columns (true language, expected keep/drop + reason,
injected PII values) computed at generation time — every value is a pure
function of (seed, doc_id), so any partition of ``spark.range`` yields
byte-identical data and re-runs are reproducible (FIXTURES.md F1).

Docs are drawn from 12 categories: clean English (optionally
PII-injected) which must be KEPT, and defect classes each crafted to fail
exactly one pipeline rule with a wide margin (non-English -> langid gate;
short/long/bullet/ellipsis/symbol/duplicate-line/phrase-loop ->
individual Gopher rules; gibberish -> perplexity; lorem/curly/policy ->
C4 rules).
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from deidentify_spark.functions.quality import QualityConfig
from deidentify_spark.sources.textpools import GEN_SENTENCES

PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("true_lang", StringType(), False),
        StructField("expected_keep", BooleanType(), False),
        StructField("expected_drop_reason", StringType(), True),
        StructField("pii_kinds", ArrayType(StringType()), False),
        StructField("pii_values", ArrayType(StringType()), False),
    ]
)

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# (category, cumulative weight) — first match on a uniform draw.
_CATEGORIES = [
    ("clean_en", 0.50),
    ("non_en", 0.65),
    ("too_short", 0.70),
    ("too_long", 0.72),
    ("bullet_spam", 0.77),
    ("ellipsis_spam", 0.80),
    ("symbol_spam", 0.84),
    ("dup_lines", 0.89),
    ("phrase_loop", 0.92),
    ("gibberish", 0.945),
    ("lorem", 0.96),
    ("curly", 0.98),
    ("policy", 1.001),
]

_NON_EN_LANGS = ("fr", "de", "es", "it", "pt", "nl", "ru", "ja")
_ALL_LANG_TAGS = ("en",) + _NON_EN_LANGS

# Names must not hit the reference's substring-based address suppressor
# (internationalAddressRegexPattern, patterns.go:28, has no word
# boundaries: e.g. "Lucia" contains street-word "lu" and would never be
# scrubbed — reference behavior we replicate, so the generator avoids it).
_PII_FIRST = ["James", "Maria", "Wei", "Anna", "Omar", "Elena", "Ivan", "Keiko"]
_PII_LAST = ["Carter", "Silva", "Chen", "Novak", "Haddad", "Rossi", "Petrov", "Tanaka"]
_PII_DOMAINS = ["mailbox.com", "workmail.org", "postbox.net", "corpmail.io"]
_PII_STREETS = ["Maple Street", "Harbor Road", "Station Avenue", "Mill Lane"]
_PII_CITIES = ["Springfield", "Riverton", "Lakewood", "Fairview"]

_N_HOSTS = 200
_ZIPF_EXP = 4.0
_BASE_TS = datetime(2024, 1, 1)


def _rng_for(seed: int, doc_id: int) -> random.Random:
    digest = hashlib.sha256(f"{seed}:{doc_id}".encode()).digest()
    return random.Random(int.from_bytes(digest[:16], "big"))


def _pick_category(u: float) -> str:
    for cat, cum in _CATEGORIES:
        if u < cum:
            return cat
    return "clean_en"  # pragma: no cover


def _sentences(r: random.Random, lang: str, n: int) -> list[str]:
    pool = GEN_SENTENCES[lang]
    return [pool[r.randrange(len(pool))] for _ in range(n)]


# sorted lowercase English vocabulary for the word-salad (gibberish)
# defect class — real words so langid passes, scrambled order so the
# bigram LM doesn't
_EN_VOCAB = sorted(
    {w for s in GEN_SENTENCES["en"] for w in s.lower().split()}
)

_STOPWORDED_CACHE: dict[tuple, list[str]] = {}


def _stopworded_sentences(cfg: QualityConfig) -> list[str]:
    """English sentences whose own stopword count clears the rule —
    computed once per stopword config (called per dup_lines doc)."""
    key = (tuple(cfg.stopwords), cfg.min_stopword_count)
    if key not in _STOPWORDED_CACHE:
        stop = set(cfg.stopwords)
        punct = "\"'.,;:!?()[]{}<>-_#"
        _STOPWORDED_CACHE[key] = [
            s
            for s in GEN_SENTENCES["en"]
            if sum(1 for w in s.split() if w.lower().strip(punct) in stop)
            >= cfg.min_stopword_count
        ]
    return _STOPWORDED_CACHE[key]


def _make_pii(r: random.Random) -> tuple[list[str], list[str], list[str]]:
    """Deterministic PII snippets; returns (sentences, kinds, values)."""
    sentences, kinds, values = [], [], []
    n_items = 1 + r.randrange(3)
    for _ in range(n_items):
        kind = r.choice(["email", "phone", "ssn", "credit_card", "address"])
        first, last = r.choice(_PII_FIRST), r.choice(_PII_LAST)
        if kind == "email":
            v = f"{first.lower()}.{last.lower()}{r.randrange(100)}@{r.choice(_PII_DOMAINS)}"
            sentences.append(f"You can reach {first} {last} at {v} for details.")
            kinds.append("name")
            values.append(f"{first} {last}")
        elif kind == "phone":
            v = f"({200 + r.randrange(700)}) {200 + r.randrange(700)}-{1000 + r.randrange(9000)}"
            sentences.append(f"Call the office at {v} during business hours.")
        elif kind == "ssn":
            v = f"{100 + r.randrange(565)}-{10 + r.randrange(89)}-{1000 + r.randrange(9000)}"
            sentences.append(f"The form listed social security number {v} in error.")
        elif kind == "credit_card":
            v = f"4{r.randrange(100,999)} {r.randrange(1000,9999)} {r.randrange(1000,9999)} {r.randrange(1000,9999)}"
            sentences.append(f"The invoice was paid with card {v} last month.")
        else:
            v = f"{1 + r.randrange(999)} {r.choice(_PII_STREETS)}, {r.choice(_PII_CITIES)}"
            sentences.append(f"Deliveries should go to {v} after noon.")
        kinds.append(kind)
        values.append(v)
    return sentences, kinds, values


_NAV_WORDS = [
    "Home", "About", "Products", "Contact", "Blog", "Careers", "Support", "Pricing",
]
_INLINE_TAGS = ["b", "em", "strong", "span"]


def render_page_html(text: str, doc_id: int, host: int, r: random.Random) -> bytes:
    """Render ``text`` as a realistic page whose extraction round-trips.

    The page carries everything a real capture has that the extractor
    (functions/htmlx.py) must strip — <head> with <style>/<script>, nav/
    header/aside/footer chrome, comments, attributes, inline markup mid-
    sentence, entity-escaped content — while the body text itself is
    exactly ``text``: one <p> per line, entity-escaped, so
    ``extract_html_text(html) == text`` byte-for-byte (pinned by
    tests/test_htmlx.py over every generator category).  All rng draws
    happen after every text/url/label draw, so enriching the markup never
    shifts the rest of the document stream.
    """
    esc = _html_escape
    title = f"p{doc_id}"
    nav = " | ".join(
        f'<a href="/{w.lower()}">{w}</a>' for w in r.sample(_NAV_WORDS, 3)
    )
    head = (
        f"<head><title>{title}</title>"
        f"<style>body{{margin:{r.randrange(4, 32)}px;font-family:serif}}</style>"
        f'<script type="text/javascript">var pageId={doc_id};'
        f'if(pageId&lt;0){{document.write("never")}}</script>'
        "</head>"
    )
    paras = []
    for ln in text.split("\n"):
        e = esc(ln)
        words = e.split(" ")
        if len(words) > 3 and r.random() < 0.4:
            j = r.randrange(len(words))
            tag = _INLINE_TAGS[r.randrange(len(_INLINE_TAGS))]
            words[j] = f"<{tag}>{words[j]}</{tag}>"
            e = " ".join(words)
        paras.append(f"<p>{e}</p>")
    body = (
        f"<header><h1>{esc(title)}</h1><nav>{nav}</nav></header>"
        f"<!-- slot {r.randrange(1000)} -->"
        f'<main id="content">{"".join(paras)}</main>'
        f'<aside class="ad">Sponsored &mdash; limited offer {r.randrange(100)}</aside>'
        f"<footer>&copy; 2024 host{host:04d}.example &middot; "
        f'<a href="/privacy">Privacy</a></footer>'
    )
    return f'<!DOCTYPE html><html lang="en">{head}<body>{body}</body></html>'.encode()


def _html_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def make_doc(
    seed: int, doc_id: int, cfg: QualityConfig, include_html: bool = True
) -> dict:
    """Generate one labeled page — pure function of (seed, doc_id, cfg).

    ``include_html=False`` skips the page render (html = b"") for
    consumers that drop the column immediately (the synthesize job and
    bench legs): the render draws rng strictly AFTER every other field,
    so skipping it changes NO other value — pinned in
    test_generator_deterministic_and_pure."""
    r = _rng_for(seed, doc_id)
    category = _pick_category(r.random())

    true_lang = "en"
    keep, reason = True, None
    kinds: list[str] = []
    values: list[str] = []

    if category == "clean_en":
        sents = _sentences(r, "en", 8 + r.randrange(12))
        if r.random() < 0.35:
            pii_sents, kinds, values = _make_pii(r)
            for s in pii_sents:
                sents.insert(r.randrange(len(sents) + 1), s)
        text = " ".join(sents)
    elif category == "non_en":
        true_lang = _NON_EN_LANGS[r.randrange(len(_NON_EN_LANGS))]
        text = " ".join(_sentences(r, true_lang, 8 + r.randrange(10)))
        keep, reason = False, "non_english"
    elif category == "too_short":
        text = " ".join(_sentences(r, "en", 1)[0].split()[: cfg.min_words // 4])
        keep, reason = False, "too_few_words"
    elif category == "too_long":
        sents = _sentences(r, "en", 12)
        unit = " ".join(sents)
        reps = (cfg.max_words * 2) // max(1, len(unit.split())) + 1
        text = " ".join([unit] * reps)
        keep, reason = False, "too_many_words"
    elif category == "bullet_spam":
        items = _sentences(r, "en", 30)
        text = "\n".join("- " + s.split(".")[0] for s in items)
        keep, reason = False, "bullet_lines"
    elif category == "ellipsis_spam":
        sents = _sentences(r, "en", 24)
        lines = [
            s + ("..." if i % 2 == 0 else "") for i, s in enumerate(sents)
        ]
        text = "\n".join(lines)
        keep, reason = False, "ellipsis_lines"
    elif category == "symbol_spam":
        words = " ".join(_sentences(r, "en", 10)).split()
        out = []
        for i, w in enumerate(words):
            out.append(w)
            if i % 4 == 0:
                out.append("#" + str(r.randrange(100)))
        text = " ".join(out)
        keep, reason = False, "symbol_ratio"
    elif category == "dup_lines":
        # the repeated sentence must itself clear the stopword rule with a
        # wide margin: few_stopwords PRECEDES duplicate_lines in the rule
        # order, so a stopword-free sentence (e.g. the grocery-prices one)
        # would make the actual drop reason diverge from this label
        pool = _stopworded_sentences(cfg)
        s = pool[r.randrange(len(pool))]
        text = "\n".join([s] * (20 + r.randrange(15)))
        keep, reason = False, "duplicate_lines"
    elif category == "phrase_loop":
        phrase = r.choice(
            ["the best deal today", "the top offer here", "the great sale now"]
        )
        text = " ".join([phrase] * (40 + r.randrange(40)))
        keep, reason = False, "top_ngram_repetition"
    elif category == "gibberish":
        # word salad from REAL English vocabulary in random order: the
        # char-ngram langid confidently calls it 'en' while the word-
        # bigram LM sees almost no trained bigram and scores far above
        # the perplexity gate. (The old consonant-vowel syllable soup was
        # dropped by the langid gate ~95% of the time, so the perplexity
        # rule was nearly untested end-to-end.)
        vocab = _EN_VOCAB
        words = []
        for i in range(cfg.min_words * 3):
            # guarantee the stopword rule passes with a wide margin
            # (random sampling alone occasionally drew too few)
            if i % 10 == 5:
                words.append(cfg.stopwords[r.randrange(len(cfg.stopwords))])
            else:
                words.append(vocab[r.randrange(len(vocab))])
        text = " ".join(words)
        keep, reason = False, "high_perplexity"
    elif category == "lorem":
        sents = _sentences(r, "en", 10)
        sents.insert(
            r.randrange(len(sents)),
            "Lorem ipsum dolor sit amet, consectetur adipiscing elit sed do.",
        )
        text = " ".join(sents)
        keep, reason = False, "lorem_ipsum"
    elif category == "curly":
        sents = _sentences(r, "en", 10)
        sents.insert(r.randrange(len(sents)), 'var config = { "mode": "live" };')
        text = " ".join(sents)
        keep, reason = False, "curly_brace"
    else:  # policy
        sents = _sentences(r, "en", 10)
        sents.append("Please enable JavaScript in your browser settings to continue.")
        text = " ".join(sents)
        keep, reason = False, "policy_phrase"

    # Claimed lang tag is wrong 10% of the time — langid must not trust it.
    claimed = true_lang
    if r.random() < 0.10:
        claimed = r.choice([t for t in _ALL_LANG_TAGS if t != true_lang])

    host = int(_N_HOSTS * (r.random() ** _ZIPF_EXP))
    url = f"https://host{host:04d}.example/page/{doc_id:012d}"
    warc_ts = _BASE_TS + timedelta(seconds=(doc_id * 37) % 31_536_000)
    html = render_page_html(text, doc_id, host, r) if include_html else b""

    return {
        "doc_id": doc_id,
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": text,
        "lang": claimed,
        "true_lang": true_lang,
        "expected_keep": keep,
        "expected_drop_reason": reason,
        "pii_kinds": kinds,
        "pii_values": values,
    }


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    include_html: bool = True,
) -> DataFrame:
    """Distributed deterministic generation: spark.range -> mapInPandas,
    labeled against the default ``QualityConfig``.

    Output is identical for any partition count (every row is a pure
    function of its id), so this scales to arbitrary n_docs without a
    driver-side loop. ``include_html=False`` skips the page render for
    consumers that drop the column (all other fields unchanged).
    """
    cfg = QualityConfig()
    rng = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_doc(seed, int(i), cfg, include_html) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, PAGES_SCHEMA)

