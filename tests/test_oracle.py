"""Ported reference test suite (1:1 from /root/reference/deidentify_test.go
and benchmark_test.go). These tests define the semantic ground truth the
Spark pipeline is later checked against."""

import json
import pathlib

import pytest
import regex

from deidentify_spark.oracle import (
    TYPE_CREDIT_CARD,
    TYPE_EMAIL,
    TYPE_GENERIC,
    TYPE_NAME,
    TYPE_PHONE,
    TYPE_SSN,
    Deidentifier,
    generate_secret_key,
)
from deidentify_spark.oracle.pools import (
    EMAIL_DOMAINS,
    EMAIL_USERNAMES,
    FIRST_NAMES,
    LAST_NAMES,
    STREET_NAMES,
)

FIXTURES = pathlib.Path(__file__).resolve().parent.parent / "fixtures"


@pytest.fixture(scope="module")
def d():
    return Deidentifier("test-secret-key")


@pytest.fixture(scope="module")
def corpus():
    return json.loads((FIXTURES / "pii_corpus.json").read_text())


# --- pool integrity (data.go:6-91; sizes are load-bearing) ----------------


def test_pool_sizes():
    assert len(FIRST_NAMES) == 120
    assert len(LAST_NAMES) == 130
    assert len(EMAIL_DOMAINS) == 105
    assert len(EMAIL_USERNAMES) == 110
    assert len(STREET_NAMES) == 140


def test_pool_duplicates_preserved():
    # Duplicates shift indices; both must be present (SURVEY.md §2.C).
    assert FIRST_NAMES.count("Avery") == 2
    assert FIRST_NAMES.count("Finley") == 2
    assert EMAIL_USERNAMES.count("common") == 2


# --- determinism (deidentify_test.go:9-28) --------------------------------


def test_deterministic_replacement(d):
    original = "john.doe@company.com"
    assert d.generate_email(original) == d.generate_email(original)
    d2 = Deidentifier("different-secret-key")
    assert d.generate_email(original) != d2.generate_email(original)


def test_secret_key_generation():
    k1, k2 = generate_secret_key(), generate_secret_key()
    assert k1 != k2
    assert len(k1) == 64


# --- generators (deidentify_test.go:30-167) --------------------------------


def test_email_format(d):
    email_re = regex.compile(r"^[a-zA-Z0-9]+\d+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$")
    for original in ["john.doe@company.com", "admin@example.org", "user123@test.co.uk"]:
        result = d.generate_email(original)
        assert email_re.match(result), result
        assert result != original


@pytest.mark.parametrize(
    "original,pattern",
    [
        ("+1 (555) 123-4567", r"^\+1 \(555\) \d{3}-\d{4}$"),
        ("555-123-4567", r"^555-\d{3}-\d{4}$"),
        ("(555) 123 4567", r"^\(555\) \d{3} \d{4}$"),
        ("555.123.4567", r"^555\.\d{3}\.\d{4}$"),
    ],
)
def test_phone_format_preserved(d, original, pattern):
    result = d.generate_phone(original)
    assert regex.match(pattern, result), (original, result)
    assert result != original


def test_ssn_format(d):
    ssn_re = regex.compile(r"^\d{3}-\d{2}-\d{4}$")
    for original in [
        "123-45-6789",
        "987-65-4321",
        "555-12-3456",
        "123 45 6789",
        "123456789",
    ]:
        result = d.generate_ssn(original)
        assert ssn_re.match(result), result
        assert not result.startswith("666-")
        assert not result.startswith("900-")
        assert result != original


@pytest.mark.parametrize(
    "value,expected",
    [
        ("123-45-6789", True),
        ("123 45 6789", True),
        ("123456789", True),
        ("12345678", False),
        ("1234567890", False),
        ("12A-45-6789", False),
        ("123-456-789", False),
        ("123 456 789", False),
    ],
)
def test_ssn_pattern_matching(value, expected):
    # deidentify_test.go:113-138 (anchored accept/reject table)
    from deidentify_spark.oracle.patterns import SSN_PATTERN

    assert bool(regex.match("^" + SSN_PATTERN + "$", value)) == expected


def _is_valid_luhn(card: str) -> bool:
    # Local checker ported from deidentify_test.go:416-435.
    total, alternate = 0, False
    for ch in reversed(card):
        digit = ord(ch) - 48
        if alternate:
            digit *= 2
            if digit > 9:
                digit = digit // 10 + digit % 10
        total += digit
        alternate = not alternate
    return total % 10 == 0


def test_credit_card_luhn_and_prefix(d):
    for original in ["4532-1234-5678-9012", "4000 1234 5678 9010", "4111111111111111"]:
        result = d.generate_credit_card(original)
        clean = result.replace(" ", "")
        assert _is_valid_luhn(clean), result
        assert clean.startswith("4000")
        assert result != original


# --- table semantics (deidentify_test.go:169-226, 785-807) -----------------


def test_table_deidentification(d):
    columns = [
        {"name": "name", "data_type": TYPE_NAME,
         "values": ["John Doe", "Jane Smith", "Bob Johnson"]},
        {"name": "email", "data_type": TYPE_EMAIL,
         "values": ["john@company.com", "jane@company.com", "bob@company.com"]},
        {"name": "phone", "data_type": TYPE_PHONE,
         "values": ["(555) 123-4567", "(555) 987-6543", None]},
    ]
    result = d.table(columns)
    assert len(result) == len(columns)
    for col, orig_col in zip(result, columns):
        assert len(col["values"]) == len(orig_col["values"])
        for val, orig in zip(col["values"], orig_col["values"]):
            if orig is None:
                assert val is None
            else:
                assert val != orig


def test_table_generic_preserved(d):
    columns = [
        {"name": "id", "data_type": TYPE_GENERIC, "values": ["1", "2", "3"]},
        {"name": "status", "data_type": TYPE_GENERIC,
         "values": ["active", "inactive", "active"]},
    ]
    result = d.table(columns)
    for col, orig_col in zip(result, columns):
        assert col["values"] == orig_col["values"]


def test_referential_integrity(d):
    # deidentify_test.go:228-265
    e1 = d.deidentify_value("test@company.com", TYPE_EMAIL, "email")
    e2 = d.deidentify_value("test@company.com", TYPE_EMAIL, "email")
    assert e1 == e2


# --- Text() passes (deidentify_test.go:284-373) -----------------------------


@pytest.mark.parametrize(
    "text,patterns",
    [
        ("", []),
        (
            "Contact me at john.doe@example.com for more information",
            [r"Contact me at .+@.+ for more information"],
        ),
        (
            "Call me at (555) 123-4567 or 555-987-6543",
            [r"Call me at \(555\) \d{3}-\d{4} or 555-\d{3}-\d{4}"],
        ),
        (
            "My SSN is 123-45-6789 and my friend's is 987654321",
            [r"My SSN is \d{3}-\d{2}-\d{4} and my friend's is \d{3}-\d{2}-\d{4}"],
        ),
        (
            "My social security number is 123 45 6789",
            [r"My social security number is \d{3}-\d{2}-\d{4}"],
        ),
        ("Customer SSN: 123456789", [r"Customer SSN: \d{3}-\d{2}-\d{4}"]),
        (
            "John Smith (john.smith@example.com) lives at 123 Oak Avenue.",
            [r".+ \(.+@.+\) lives at \d+ .+\."],
        ),
    ],
)
def test_text(d, text, patterns):
    result = d.text(text)
    if text == "":
        assert result == ""
        return
    if patterns:
        assert result != text
    for pattern in patterns:
        assert regex.search(pattern, result), (pattern, result)


def test_convenience_methods(d):
    email = d.email("test@example.com")
    assert email != "test@example.com" and "@" in email
    assert d.phone("(555) 123-4567") != "(555) 123-4567"
    ssn = d.ssn("123-45-6789")
    assert ssn != "123-45-6789"
    assert regex.search(r"\d{3}-\d{2}-\d{4}", ssn)


# --- slices (deidentify_test.go:487-614, 671-783) ---------------------------


SLICES_DATA = [
    ["John Doe", "john.doe@example.com", "555-123-4567", "123-45-6789"],
    ["Jane Smith", "jane.smith@company.org", "(555) 987-6543", "987-65-4321"],
    ["Bob Johnson", "bob@test.co.uk", "555.111.2222", "456-78-9012"],
    ["", "", "", ""],
]
SLICES_TYPES = [TYPE_NAME, TYPE_EMAIL, TYPE_PHONE, TYPE_SSN]
SLICES_NAMES = ["name", "email", "phone", "ssn"]


def test_slices(d):
    result = d.slices(SLICES_DATA, SLICES_TYPES, SLICES_NAMES)
    assert len(result) == len(SLICES_DATA)
    for row, orig in zip(result, SLICES_DATA):
        assert len(row) == len(orig)
    assert result[0][0] != SLICES_DATA[0][0]
    assert result[0][1] != SLICES_DATA[0][1]
    assert result[3] == ["", "", "", ""]
    result2 = d.slices(SLICES_DATA, SLICES_TYPES, SLICES_NAMES)
    assert result[0][0] == result2[0][0]


def test_slices_inference(d):
    data = [
        ["john.doe@example.com", "John Doe", "(555) 123-4567", "123-45-6789", "123 Main Street"],
        ["jane.smith@company.org", "Jane Smith", "555-987-6543", "987-65-4321", "456 Oak Avenue"],
        ["bob@test.co.uk", "Bob Johnson", "555.111.2222", "456-78-9012", "789 Pine Drive"],
    ]
    result = d.slices(data)
    assert len(result) == len(data)
    assert result[0][0] != data[0][0]  # email deidentified
    assert result[0][2] != data[0][2]  # phone deidentified
    result2 = d.slices(data, [])
    assert len(result2) == len(data)


@pytest.mark.parametrize(
    "data,expected",
    [
        (
            [
                ["john@example.com", "John Doe", "(555) 123-4567"],
                ["jane@company.org", "Jane Smith", "555-987-6543"],
            ],
            [TYPE_EMAIL, TYPE_NAME, TYPE_PHONE],
        ),
        (
            [
                ["test@example.com", "", "123-45-6789"],
                ["", "Bob Smith", "987-65-4321"],
                ["admin@test.org", "Alice Brown", ""],
            ],
            [TYPE_EMAIL, TYPE_NAME, TYPE_SSN],
        ),
        (
            [
                ["random text", "123ABC", "unknown format"],
                ["more text", "XYZ789", "another format"],
            ],
            [TYPE_GENERIC, TYPE_GENERIC, TYPE_GENERIC],
        ),
    ],
)
def test_infer_column_types(d, data, expected):
    assert d.infer_column_types(data) == expected


def test_slices_error_cases(d):
    assert d.slices([]) == []
    data = [["John", "john@example.com"]]
    with pytest.raises(ValueError):
        d.slices(data, [TYPE_NAME], ["name", "email"])
    with pytest.raises(ValueError):
        d.slices(data, [TYPE_NAME, TYPE_EMAIL], ["name"])


def test_generic_type_preserves_values(d):
    data = [
        ["1", "active", "2024-01-15", "42.50"],
        ["2", "inactive", "2024-02-20", "100.00"],
    ]
    result = d.slices(data, [TYPE_GENERIC] * 4)
    assert result == data


def test_mixed_pii_and_generic(d):
    data = [
        ["1", "John Doe", "john@example.com", "active"],
        ["2", "Jane Smith", "jane@example.com", "inactive"],
    ]
    result = d.slices(
        data,
        [TYPE_GENERIC, TYPE_NAME, TYPE_EMAIL, TYPE_GENERIC],
        ["id", "name", "email", "status"],
    )
    assert result[0][0] == "1"
    assert result[0][3] == "active"
    assert result[0][1] != "John Doe"
    assert result[0][2] != "john@example.com"


def test_auto_inferred_generic_preserves_values(d):
    data = [
        ["1", "debit", "visa", "active", "2027-03-15"],
        ["2", "credit", "mastercard", "active", "2028-01-10"],
        ["3", "debit", "visa", "inactive", "2027-06-20"],
        ["4", "credit", "amex", "active", "2028-04-05"],
        ["5", "debit", "visa", "active", "2027-09-25"],
    ]
    assert d.slices(data) == data


# --- E2E corpus containment (benchmark_test.go:88-165) ----------------------


def test_benchmark_corpus_containment(d, corpus):
    for i, paragraph in enumerate(corpus["paragraphs"]):
        result = d.text(paragraph)
        for pii in corpus["pii_must_be_absent"]:
            assert pii not in result, f"paragraph {i} still contains PII: {pii}"


def test_example_texts_scrub(d, corpus):
    # basic + international example texts must lose their raw PII markers
    basic = d.text(corpus["basic_example_text"])
    assert "legolas@mirkwood.elf" not in basic
    assert "123-45-6789" not in basic
    assert "4111-1111-1111-1111" not in basic
    intl = d.text(corpus["international_text"])
    assert "contact@example.com" not in intl
    assert "(555) 123-4567" not in intl


def test_address_label_preserved(d, corpus):
    out = d.address("European HQ: 15 Rue de Rivoli")
    assert out.startswith("European HQ:")
    assert "15 Rue de Rivoli" not in out
    for addr in corpus["international_addresses"]:
        out = d.address(addr)
        assert out != addr


# Shapes the anchored candidate scans in oracle/core.py must get right:
# an email whose local part starts inside the previous match's domain,
# cue phrases whose case-folded letters are still one character each,
# and special-address cues before one or several whitespace characters.
ANCHOR_EDGE_CASES = [
    "a@b.cofoo_x@y.org",
    "a@ex.orgfoo_x@y.org and q%r+s-t@u.io",
    "x@y.zz@@a.b.cc then b@c.de",
    "baſed at 12 Main St",
    "lİves at 5 Elm Road",
    "\u212aate lives at 3 Oak Way, \u212aent",
    "LOCATED AT 9 Pine Avenue. situated at 44 Hill Drive",
    "at addreß 12 Main Street",
    "address is 7 Low Rd and at location 8 Ash Lane",
    "lives at 5 6 7 Elm Street",
    ": 12 Rue Cler",
    "Office: 12 Old Rue Cler",
    "at\t\t7 Via Roma",
    "at\t\t7 Old Via Roma",
    "HQ @ \n 15 Old Rue de Rivoli and at 3 Big Calle Mayor",
    "Sat 4 Elm Street",
]

# Many context-address cues on one line, with the suffix word missing,
# past a line end, inside a later cue's reach only, or folded ("ſt").
CUE_HEAVY_CASES = [
    "lives at 1 " * 50,
    "lives at 1 " * 50 + "Elm Street",
    "LIVES AT 7 " * 30 + "BLVD",
    "lives at 1 x\nlives at 2 Elm St",
    "lives at 1 x. lives at 2 Oak St",
    "address is 1 a.St address is 2 b St",
    "resides at 1 Street resides at 2 x resides at 3 Way. resides at 4",
    "found at 1.5 Elm Street",
    "lives at 1St and based at 12 ſt",
    "lives at 9Way. found at 2",
    "situated at 5 x at location 6 7 Lane\nat location 8",
    "at location 1 " * 20 + ".\n" + "situated at 2 Pine Pl",
]


def test_pass_gating_byte_identical(d, corpus, unanchored_text):
    """text()'s digit/'@' gates and anchored candidate scans must be a
    pure no-op: compare against the unanchored, ungated reference twin
    on every corpus text and the anchored-scan edge cases."""
    texts = (
        corpus["paragraphs"]
        + [corpus["basic_example_text"], corpus["international_text"]]
        + corpus["international_addresses"]
        + [c["text"] for c in corpus["text_cases"]]
        + ["no digits here at all", "Plain Words Only", "", "a@b", "@", "5"]
        + ANCHOR_EDGE_CASES
        + CUE_HEAVY_CASES
    )
    for t in texts:
        assert d.text(t) == unanchored_text(d, t), t[:80]
    # Not vacuous: every edge case but three near misses holds a match.
    # "addreß" stays because simple case folding never matches "ss" to
    # one "ß".
    near_misses = {": 12 Rue Cler", "at\t\t7 Via Roma", "at addreß 12 Main Street"}
    for t in ANCHOR_EDGE_CASES:
        assert (d.text(t) == t) == (t in near_misses), t


def test_golden_scrub_outputs_frozen(d, corpus):
    """Byte-level regression pin: the oracle's outputs over the reference
    corpus are frozen in fixtures/pii_corpus_scrubbed.json (key
    'test-secret-key'). Any pattern/generator drift fails here first."""
    golden = json.loads((FIXTURES / "pii_corpus_scrubbed.json").read_text())
    assert golden["secret_key"] == "test-secret-key"
    for text, expected in zip(corpus["paragraphs"], golden["paragraphs_scrubbed"]):
        assert d.text(text) == expected
    assert d.text(corpus["basic_example_text"]) == golden["basic_example_scrubbed"]
    assert (
        d.text(corpus["international_text"])
        == golden["international_text_scrubbed"]
    )
    for addr, expected in zip(
        corpus["international_addresses"],
        golden["international_addresses_scrubbed"],
    ):
        assert d.address(addr) == expected
    for tc in corpus["text_cases"]:
        assert d.text(tc["text"]) == golden["text_cases_scrubbed"][tc["id"]]


def test_address_word_strasse_matches_re2_boundary():
    """'Straße' begins with 'S' and ends with 'e' — both ASCII word chars
    — so RE2's ASCII \\b on either side of the alternation behaves
    normally: standalone 'Marien Straße' matches (trailing space is a
    non-word char) and 'Straßenbahn' does NOT (the 'n' after the matched
    'e' fails the trailing \\b). patterns.go:25."""
    from deidentify_spark.oracle import patterns as P

    assert P.ADDRESS_WORD_RE.search("Marien Straße") is not None
    assert P.ADDRESS_WORD_RE.search("die Straßenbahn hier") is None
    assert P.ADDRESS_WORD_RE.search("Main Street") is not None
    assert P.ADDRESS_WORD_RE.search("Strasse") is not None  # ASCII form


def test_anchored_sub_parity(corpus):
    """Each anchored-scan fast path in oracle/core.py must be match-for-
    match identical to plain ``pattern.sub`` for the pattern it serves —
    over the reference corpus plus adversarial edge shapes (digit runs,
    matches at position 0 / end-of-string, back-to-back matches,
    candidate positions inside a previous match, interleaved cue
    offsets, case-folded cues, tab/newline runs before a number)."""
    from deidentify_spark.oracle import core as C
    from deidentify_spark.oracle import patterns as P

    cases = list(corpus["paragraphs"]) + [
        corpus["basic_example_text"],
        corpus["international_text"],
        *corpus["international_addresses"],
        *[tc["text"] for tc in corpus["text_cases"]],
        *ANCHOR_EDGE_CASES,
        *CUE_HEAVY_CASES,
        "123 Main Street, Berlin, Germany",
        "9 Rue Cler Paris France and 77 Elm Road US",
        "12345" * 200,
        "7 Oak St US " * 50,
        "",
        "x",
        "00 1 2 3",
        "123-45-678 Pine Avenue UK",
        "9 Marien Straße",
        "42 Foo Bar Way, Tokyo, Japan tail 13 Elm St USA",
        "1" + "a" * 5000 + "2 Elm Street France",
        "\n".join(f"{i} Low Rd UK" for i in range(50)),
        "+1 (555) 123-4567 and 5551234567",
        "((((",
        "call 555.123.4567 or (555)123 4567.",
        "+99 999 999 9999 done",
        "9" * 4000,
        "+1 5551234567+2 4445556666",
        "found at 1 x at 2 3 Elm St. resides at 4 found at 5 Oak Way",
        " 1 Elm St",
        "at 1 Elm St",
        "@ 1 Elm St",
        "at@ \t 2 Elm St: 3 Oak Rd",
        "me@a.co, you@b.co,them@c.co @ d@",
        "@@@a@b.cc",
        "_" * 300 + "@x.io",
    ]
    repl = lambda m: f"<{m.group(0)}>"  # noqa: E731
    runs = C.Deidentifier("k")._digit_runs
    for text in cases:
        for pat in (P.SPECIAL_ADDRESS_1_RE, P.SPECIAL_ADDRESS_2_RE, P.ADDRESS_RE):
            assert C._sub_anchored(runs(text), pat, repl, text) == pat.sub(
                repl, text
            ), text[:80]
        assert C._sub_anchored(
            C._phone_starts(text), P.PHONE_RE, repl, text
        ) == P.PHONE_RE.sub(repl, text), text[:80]
        assert C._sub_anchored(
            C._context_address_starts(text, runs(text)),
            P.CONTEXT_ADDRESS_RE,
            repl,
            text,
        ) == P.CONTEXT_ADDRESS_RE.sub(repl, text), text[:80]
        assert C._sub_anchored(
            C._special_address_3_starts(text, runs(text)),
            P.SPECIAL_ADDRESS_3_RE,
            repl,
            text,
        ) == P.SPECIAL_ADDRESS_3_RE.sub(repl, text), text[:80]
        assert C._sub_emails(repl, text) == P.EMAIL_RE.sub(repl, text), text[:80]
