"""Regex linearity guards.

Go RE2 (the reference engine) is linear-time by construction; Python's
`regex` module backtracks. These tests pin the match-equivalent rewrites in
oracle/patterns.py (possessive digits + run-start lookbehind) so a future
pattern edit can't silently reintroduce super-linear scanning — a real
hazard on adversarial web pages at 100 TB scale.
"""

import time

from deidentify_spark.oracle import Deidentifier
from deidentify_spark.oracle import patterns as P


def _timed(fn, *args):
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def test_address_pattern_linear_on_digit_runs():
    t_small = _timed(P.ADDRESS_RE.sub, "X", "1234567890" * 1_000)
    t_big = _timed(P.ADDRESS_RE.sub, "X", "1234567890" * 100_000)
    # 100x input should be < ~300x time (linear with noise margin, not n^2).
    assert t_big < max(0.5, t_small * 300), (t_small, t_big)


def test_full_scrub_1mb_digit_blob_bounded():
    d = Deidentifier("perf-key")
    blob = "1234567890" * 100_000
    assert _timed(d.text, blob) < 15.0


def test_full_scrub_word_chain_bounded():
    d = Deidentifier("perf-key")
    words = "123 " + " ".join(["lorem", "ipsum", "dolor", "sit"] * 500) + " endx."
    assert _timed(d.text, words) < 5.0


def test_context_address_linear_on_cue_chain():
    # every "lives at 1" is a context-address candidate with no suffix
    # word on its line; at n = 5000 a per-candidate scan to the line end
    # took ~45 s
    d = Deidentifier("perf-key")
    text = "lives at 1 " * 5000
    assert _timed(d.text, text) < 1.0
