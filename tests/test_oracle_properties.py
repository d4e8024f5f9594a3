"""Property-based oracle tests (hypothesis): invariants that must hold
for ARBITRARY input, not just the ported fixtures."""

import string

from hypothesis import example, given, settings
from hypothesis import strategies as st

from deidentify_spark.oracle import Deidentifier
from deidentify_spark.oracle.patterns import CONTEXT_CUES

D = Deidentifier("prop-key")
D2 = Deidentifier("prop-key")

# Text-ish alphabet incl. PII-triggering characters and some unicode:
# email local-part punctuation, non-ASCII letters that `(?i)` matches to
# one ASCII letter (long s, dotted capital I, Kelvin sign), and
# whitespace outside RE2's \s (\x0b, NBSP).
_ALPHA = (
    string.ascii_letters
    + string.digits
    + " \n\t.,:;@()+-#…é漢_%ſİ\u212a\x0b\xa0"
)
texts = st.text(alphabet=_ALPHA, max_size=400)

# Scrub-shaped text: cue phrases, address suffix words and numbers among
# random runs, so the address passes' candidate scans see real matches.
_TOKENS = CONTEXT_CUES + (
    "Street", "St", "Road", "Rue", "Via", "Way", "Lane", "Paris", "France",
    "Germany", "at", "AT", "@", ":", "ß",
)
scrub_texts = st.lists(
    st.one_of(
        st.sampled_from(_TOKENS),
        st.integers(0, 99999).map(str),
        st.sampled_from([" ", " ", "  ", "\t", "\n", ", "]),
        st.text(alphabet=_ALPHA, max_size=8),
    ),
    max_size=40,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(texts)
def test_text_never_crashes_and_is_deterministic(s):
    out1 = D.text(s)
    out2 = D2.text(s)
    assert out1 == out2
    assert isinstance(out1, str)


@settings(max_examples=300, deadline=None)
@given(s=st.one_of(texts, scrub_texts))
@example(s="a@b.cofoo_x@y.org")
@example(s="baſed at 12 Main St")
@example(s="lİves at 5 Elm Road")
@example(s=": 12 Rue Cler")
@example(s="Office: 12 Old Rue Cler")
@example(s="at\t\t7 Via Roma")
@example(s="at\t\t7 Old Via Roma")
@example(s="at addreß 12 Main Street, \u212aent")
def test_gating_equivalence_random(s, unanchored_text):
    """text()'s digit/'@' gates and anchored candidate scans must be
    no-ops on arbitrary input: it equals the unanchored reference twin."""
    assert D.text(s) == unanchored_text(D, s)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=string.digits + "()+-. ", min_size=1, max_size=30))
def test_phone_generator_total(s):
    """generate_phone never crashes on arbitrary digit-ish strings and is
    deterministic (falls back to generic for non-matching formats)."""
    assert D.generate_phone(s) == D2.generate_phone(s)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHA, min_size=1, max_size=60))
def test_generators_nonempty_and_typed(s):
    assert D.generate_email(s).count("@") == 1
    name = D.generate_name(s)
    assert " " in name
    card = D.generate_credit_card(s).replace(" ", "")
    assert len(card) == 16 and card.startswith("4000")
    ssn = D.generate_ssn(s)
    a, b, c = ssn.split("-")
    assert 100 <= int(a) <= 665 and int(a) != 666
    assert 1 <= int(b) <= 99 and 1 <= int(c) <= 9999


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet=_ALPHA, max_size=30), min_size=2, max_size=2),
        max_size=12,
    )
)
def test_slices_shape_preserved(rows):
    out = D.slices(rows)
    assert len(out) == len(rows)
    for orig, new in zip(rows, out):
        assert len(new) == len(orig)
        for o, n in zip(orig, new):
            if o == "":
                assert n == ""
