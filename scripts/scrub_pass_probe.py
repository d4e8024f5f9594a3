"""CPU cost of each scrub pass and of its candidate enumeration, per doc.

Runs ``oracle.Deidentifier.text``'s eight passes in their order, with
its gates, over two corpora and records each pass's input. Each pass is
then timed alone over its recorded inputs (a fresh engine per repeat, so
the memo starts cold as in a new Arrow batch), and so is each candidate
enumerator of ``oracle/core.py``. Corpora:

* ``pii_dense``: ``perfbench.inputs.pii_dense_doc`` texts (four joined
  PII-bearing generator docs, ~5 kchar each);
* ``web``: the generator's docs labelled keep (the scrub only sees kept
  docs), ~1.2 kchar each.

Figures are process CPU µs per doc of the corpus (a pass that its gate
skips costs 0 on that doc), medians of ``REPEATS``. A pass timed alone
runs its own digit-run scan; inside ``text()`` passes that leave the text
unchanged share one, so the passes sum to more than ``text``. One JSON
line per corpus. Usage, from the repository root:

    python3 scripts/scrub_pass_probe.py
"""

from __future__ import annotations

import json
import pathlib
import sys
import time
from statistics import median

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

PII_SEED, PII_DOCS = 3, 300
WEB_SEED, WEB_DOCS = 1, 2000
REPEATS = 7
SECRET_KEY = "scrub-pass-probe"


def _passes(core):
    """(name, gate, call) in ``Deidentifier.text``'s order."""
    has_at = lambda t: "@" in t  # noqa: E731
    has_digit = lambda t: core._DIGIT_RE.search(t) is not None  # noqa: E731
    always = lambda t: True  # noqa: E731
    return [
        ("emails", has_at, lambda d, t, orig: d._process_emails(t)),
        ("phones", has_digit, lambda d, t, orig: d._process_phones(t)),
        ("ssns", None, lambda d, t, orig: d._process_ssns(t, orig)),
        ("credit_cards", None, lambda d, t, orig: d._process_credit_cards(t)),
        ("context_addresses", None, lambda d, t, orig: d._process_context_addresses(t)),
        ("special_addresses", None, lambda d, t, orig: d._process_special_addresses(t)),
        ("names", always, lambda d, t, orig: d._process_names(t)),
        ("standard_addresses", has_digit, lambda d, t, orig: d._process_standard_addresses(t)),
    ]


def _record(core, texts):
    """Per pass, the (input, original) pairs it sees inside ``text()``.
    A ``None`` gate shares the previous pass's gate decision."""
    passes = _passes(core)
    inputs = {name: [] for name, _, _ in passes}
    d = core.Deidentifier(SECRET_KEY)
    for orig in texts:
        result, run = orig, False
        for name, gate, call in passes:
            if gate is not None:
                run = gate(result)
            if run:
                inputs[name].append((result, orig))
                result = call(d, result, orig)
        assert result == d.text(orig)
    return passes, inputs


def _cpu_us(fn, items, n_docs: int) -> float:
    samples = []
    for _ in range(REPEATS):
        t0 = time.process_time()
        fn(items)
        samples.append(time.process_time() - t0)
    return round(median(samples) / n_docs * 1e6, 1)


def _probe(name: str, texts: list[str]) -> dict:
    from deidentify_spark.oracle import core

    passes, inputs = _record(core, texts)
    n = len(texts)

    def run_pass(call):
        def go(items):
            d = core.Deidentifier(SECRET_KEY)
            for t, orig in items:
                call(d, t, orig)

        return go

    def run_text(items):
        d = core.Deidentifier(SECRET_KEY)
        for t in items:
            d.text(t)

    def runs(t):
        return [m.start() for m in core._DIGIT_RUN_RE.finditer(t)]

    phone_in = [t for t, _ in inputs["phones"]]
    context_in = [t for t, _ in inputs["context_addresses"]]
    context_runs = [(t, runs(t)) for t in context_in]
    enumerators = {
        "digit_runs": (lambda items: [runs(t) for t in items], context_in),
        "phone_starts": (lambda items: [list(core._phone_starts(t)) for t in items], phone_in),
        "context_address_starts": (
            lambda items: [core._context_address_starts(t, r) for t, r in items],
            context_runs,
        ),
        "special_address_3_starts": (
            lambda items: [core._special_address_3_starts(t, r) for t, r in items],
            context_runs,
        ),
    }
    return {
        "corpus": name,
        "docs": n,
        "kchar_per_doc": round(sum(map(len, texts)) / n / 1e3, 2),
        "text_us_per_doc": _cpu_us(run_text, texts, n),
        "pass_us_per_doc": {
            p: _cpu_us(run_pass(call), inputs[p], n) for p, _, call in passes
        },
        "pass_docs": {p: len(inputs[p]) for p, _, _ in passes},
        "enumeration_us_per_doc": {
            e: _cpu_us(fn, items, n) for e, (fn, items) in enumerators.items()
        },
    }


def main() -> None:
    from deidentify_spark.functions.quality import QualityConfig
    from deidentify_spark.sources.pages import make_doc
    from perfbench.inputs import pii_dense_doc

    cfg = QualityConfig()
    pii = [pii_dense_doc(PII_SEED, i, cfg)["text"] for i in range(PII_DOCS)]
    web = [
        doc["text"]
        for doc in (make_doc(WEB_SEED, i, cfg, include_html=False) for i in range(WEB_DOCS))
        if doc["expected_keep"]
    ]
    for name, texts in (("pii_dense", pii), ("web", web)):
        print(json.dumps(_probe(name, texts)), flush=True)


if __name__ == "__main__":
    main()
