"""Scalar oracle — faithful Python transcription of the reference engine.

This module is the semantic ground truth for the Spark pipeline: each
function cites the behavior it transcribes from /root/reference/deidentify.go
(Go). It is intentionally scalar/single-value; the vectorized Spark path
(deidentify_spark.functions.scrub) must produce byte-identical output and is
tested against this module.

Key invariant (deidentify.go:291-328 + 331-335): every replacement is a pure
function of (secret_key, data_type, original_value) — HMAC-SHA256 sliced into
byte ranges and reduced mod pool size. The reference's mapping table
(deidentify.go:37-41) is only a memoization cache, so the engine is stateless
and embarrassingly parallel.
"""

from __future__ import annotations

import hashlib
import hmac as _hmac
import secrets
import string

import regex as _regex

from . import patterns as P
from .pools import (
    EMAIL_DOMAINS,
    EMAIL_USERNAMES,
    FIRST_NAMES,
    LAST_NAMES,
    STREET_NAMES,
)

# Semantic PII types (deidentify.go:19-27). Physical type is always string.
TYPE_NAME = "name"
TYPE_EMAIL = "email"
TYPE_PHONE = "phone"
TYPE_SSN = "ssn"
TYPE_CREDIT_CARD = "credit_card"
TYPE_ADDRESS = "address"
TYPE_GENERIC = "generic"

_DIGIT_RE = _regex.compile(r"[0-9]")

# Anchored-scan plumbing (perf-only, behavior-identical). Most scrub
# patterns can only START at a few known positions, but their leading
# lookbehinds, optional groups and case-folded alternations defeat the
# regex module's literal prefix scanner, so `.sub()` pays a full
# per-position scan. Instead each pass below lists candidate starts with
# a cheap scan and tries an anchored `pat.match(text, i)` at each. That
# equals `pat.sub` when the candidates include every position where a
# match can start, are visited in ascending order, and those inside the
# previous match are skipped (leftmost, non-overlapping `.sub` order).
# Candidate sets, and why each is complete:
#   * SPECIAL_ADDRESS_1/2, ADDRESS: every match starts with
#     `(?<![0-9])[0-9]`, i.e. at a digit-run start (`_DIGIT_RUN_RE`).
#   * PHONE: the first consumed character is one of [+(0-9] (the
#     optional `\+[0-9]{1,2}` prefix, the optional `\(`, or the first
#     area digit).
#   * CONTEXT_ADDRESS: a cue phrase, a literal " ", then `[0-9]+`; the
#     digit follows a space, so it starts a digit run d, and the match
#     starts at d - 1 - len(cue). That holds because `(?i)` here is the
#     regex module's default SIMPLE case folding, which matches one text
#     character per pattern character ("baſed at", "lİves at" are still
#     8 characters). Full folding (the FULLCASE flag, or VERSION1) would
#     let "ss" match one "ß" and break the offsets. A start is kept only
#     when its cue and a suffix word are there (`_context_address_starts`
#     says why that keeps the pass linear).
#   * SPECIAL_ADDRESS_3: ":", "@" or "at", then `[\t\n\f\r ]+`, then
#     a digit-run start d. The cue is not whitespace, so the whitespace is
#     the whole maximal run w..d, and the match starts at w - 1 or w - 2.
#   * EMAIL: the local part `[a-zA-Z0-9._%+-]+` excludes "@", so a match
#     runs from the start of the local-part run up to an "@". `.sub`
#     resumes at the previous match's END, which can lie inside that run
#     ("a@ex.orgfoo_x@y.org": the first match ends before "_", which
#     starts the next local part), so the walk back from each "@" stops
#     there, not at the previous "@". Every start in the run reaches the
#     same "@" and domain, so its first position decides for all of them.
# Pass order is the reference's; each pass lists candidates on the text
# it receives, so it sees every earlier replacement. The digit-run list
# is shared by consecutive passes that leave the text unchanged
# (`Deidentifier._digit_runs`). Equivalence is pinned by
# tests/test_oracle.py::test_anchored_sub_parity (each enumerator against
# its pattern's `.sub`) and by the unanchored 8-pass reference twin in
# tests/conftest.py, which text() must equal byte for byte.
import re as _stdre

# The regex module scans [0-9]+ about 5x faster than stdlib re (17 vs 95
# us on a 5 kchar doc); for [+(0-9] stdlib re is the faster one.
_DIGIT_RUN_RE = _regex.compile(r"[0-9]+")
_PHONE_START_RE = _stdre.compile(r"[+(0-9]")
_EMAIL_LOCAL_CHARS = frozenset(string.ascii_letters + string.digits + "._%+-")
_RE2_WS_CHARS = frozenset("\t\n\f\r ")
# Longest first, so the starts d - 1 - len ascend for each digit run.
_CONTEXT_CUE_LENGTHS = sorted({len(c) for c in P.CONTEXT_CUES}, reverse=True)
_LINE_END_RE = _stdre.compile(r"[\n.]")


def _sub_anchored(starts, pat, repl, text: str) -> str:
    """Equivalent of ``pat.sub(repl, text)`` for patterns whose every
    match starts at one of ``starts`` (ascending positions)."""
    out = None
    last = 0
    for i in starts:
        if i < last:
            continue
        m = pat.match(text, i)
        if m is None:
            continue
        if out is None:
            out = []
        out.append(text[last:i])
        out.append(repl(m))
        last = m.end()
    if out is None:
        return text
    out.append(text[last:])
    return "".join(out)


def _sub_emails(repl, text: str) -> str:
    """Equivalent of ``P.EMAIL_RE.sub(repl, text)``: one anchored match
    per "@", from the start of its local-part run, never before the
    previous match's end."""
    out = None
    last = 0
    at = text.find("@")
    while at >= 0:
        i = at
        while i > last and text[i - 1] in _EMAIL_LOCAL_CHARS:
            i -= 1
        m = P.EMAIL_RE.match(text, i) if i < at else None
        if m is None:
            at = text.find("@", at + 1)
            continue
        if out is None:
            out = []
        out.append(text[last:i])
        out.append(repl(m))
        last = m.end()
        at = text.find("@", last)
    if out is None:
        return text
    out.append(text[last:])
    return "".join(out)


def _phone_starts(text: str):
    return (m.start() for m in _PHONE_START_RE.finditer(text))


def _context_address_starts(text: str, runs: list[int]) -> list[int]:
    r"""d - 1 - len(cue) for every digit-run start d that a cue phrase and
    a space precede and a suffix word follows within the line.

    A match needs all three: a cue and " " ending at d, at least one
    digit, then a suffix word starting at some p in (d, e), where e is
    the first newline or "." at or after d (nothing between d and p may
    be one). Checking them first keeps the pass linear: the lazy
    ``[^\n\.]*?`` would otherwise scan from every cue to the line end,
    quadratic on a long line of cues with no suffix word. One suffix
    search serves every later run up to the suffix it found, or to the
    line end when it found none, so each character is searched once."""
    starts = []
    end = -1  # e for the last run looked up
    lo = hi = -1  # the last suffix search covered [lo, hi) ...
    sfx = None  # ... and found its first suffix word here (None: none)
    for d in runs:
        if text[d - 1 : d] != " " or not P.CONTEXT_CUE_RE.search(
            text, max(0, d - 1 - _CONTEXT_CUE_LENGTHS[0]), d
        ):
            continue
        if d > end:
            m = _LINE_END_RE.search(text, d)
            end = m.start() if m else len(text)
        if not (hi == end and lo <= d + 1 and (sfx is None or d + 1 <= sfx)):
            lo, hi = d + 1, end
            m = P.CONTEXT_SUFFIX_RE.search(text, lo, hi)
            sfx = m.start() if m else None
        if sfx is not None:
            starts += [d - 1 - n for n in _CONTEXT_CUE_LENGTHS if d - 1 - n >= 0]
    # runs a few characters apart interleave their starts
    return sorted(set(starts))


def _special_address_3_starts(text: str, runs: list[int]) -> list[int]:
    """w - 2 and w - 1 for every whitespace run w..d that ends at a
    digit-run start d. Ascending: the digit run before d ends before w."""
    starts = []
    for d in runs:
        w = d
        while w > 0 and text[w - 1] in _RE2_WS_CHARS:
            w -= 1
        if w < d:
            if w >= 2:
                starts.append(w - 2)
            if w >= 1:
                starts.append(w - 1)
    return starts

ALL_TYPES = (
    TYPE_NAME,
    TYPE_EMAIL,
    TYPE_PHONE,
    TYPE_SSN,
    TYPE_CREDIT_CARD,
    TYPE_ADDRESS,
    TYPE_GENERIC,
)


def generate_secret_key() -> str:
    """32 random bytes, hex-encoded to 64 chars (deidentify.go:237-244)."""
    return secrets.token_hex(32)


def luhn_check_digit(card_number: str) -> int:
    """Standard Luhn check digit over the card body (deidentify.go:255-275).

    Doubling starts at the rightmost digit (``alternate`` starts true).
    """
    total = 0
    alternate = True
    for ch in reversed(card_number):
        digit = ord(ch) - 48
        if alternate:
            digit *= 2
            if digit > 9:
                digit = digit // 10 + digit % 10
        total += digit
        alternate = not alternate
    return (10 - (total % 10)) % 10


def hash_to_index(hash_bytes: bytes, max_value: int) -> int:
    """Big-endian unsigned int of the slice, mod max (deidentify.go:477-485)."""
    if not hash_bytes or max_value <= 0:
        return 0
    return int.from_bytes(hash_bytes, "big") % max_value


class Deidentifier:
    """Stateless deterministic PII replacer (deidentify.go:247-252).

    ``_memo`` mirrors the reference's mapping table
    (deidentify.go:37-41, 466-474, 855-863) — a pure per-instance
    memoization cache keyed (column, original); it never changes output.
    """

    def __init__(self, secret_key: str) -> None:
        self._key = secret_key.encode("utf-8")
        self._memo: dict[str, dict[str, str]] = {}
        self._runs_text: str | None = None
        self._runs: list[int] = []

    def clear_mappings(self) -> None:
        """Reset the memo cache (deidentify.go:133-137)."""
        self._memo = {}

    # --- hashing -------------------------------------------------------

    def deterministic_hash(self, value: str) -> bytes:
        """HMAC-SHA256(secret_key, value) (deidentify.go:331-335)."""
        return _hmac.new(self._key, value.encode("utf-8"), hashlib.sha256).digest()

    # --- generators (deidentify.go:352-455) ----------------------------

    def generate_name(self, original: str) -> str:
        h = self.deterministic_hash(original)
        first = FIRST_NAMES[hash_to_index(h[:8], len(FIRST_NAMES))]
        last = LAST_NAMES[hash_to_index(h[8:16], len(LAST_NAMES))]
        return f"{first} {last}"

    def generate_email(self, original: str) -> str:
        h = self.deterministic_hash(original)
        user = EMAIL_USERNAMES[hash_to_index(h[:8], len(EMAIL_USERNAMES))]
        domain = EMAIL_DOMAINS[hash_to_index(h[8:16], len(EMAIL_DOMAINS))]
        suffix = hash_to_index(h[16:24], 9999)
        return f"{user}{suffix}@{domain}"

    def generate_phone(self, original: str) -> str:
        """Format-preserving phone replacement (deidentify.go:414-439).

        Prefix, parens, area code and separators are preserved from the
        original; exchange/number are regenerated. A non-matching format
        falls back to generate_generic (deidentify.go:419-422).
        """
        m = P.PHONE_FORMAT_RE.search(original)
        if m is None:
            return self.generate_generic(original)
        g = [x or "" for x in m.groups()]
        prefix, open_paren, area_code, after_area, _exch, separator, _last4 = g
        h = self.deterministic_hash(original)
        exchange = 200 + hash_to_index(h[:8], 799)
        number = 1000 + hash_to_index(h[8:16], 8999)
        return f"{prefix}{open_paren}{area_code}{after_area}{exchange:03d}{separator}{number:04d}"

    def generate_ssn(self, original: str) -> str:
        """Always hyphen-formatted fake SSN (deidentify.go:442-455).

        area is 100 + h % 565 => 100..664, so the reference's ``area == 666``
        guard is unreachable; replicated harmlessly for parity.
        """
        h = self.deterministic_hash(original)
        area = 100 + hash_to_index(h[:8], 565)
        if area == 666:  # pragma: no cover - unreachable, mirrors reference
            area = 667
        group = 1 + hash_to_index(h[8:16], 99)
        serial = 1 + hash_to_index(h[16:24], 9999)
        return f"{area:03d}-{group:02d}-{serial:04d}"

    def generate_credit_card(self, original: str) -> str:
        """Luhn-valid test card: 4000 + 11 hashed digits + check digit,
        space-grouped in fours (deidentify.go:361-386)."""
        h = self.deterministic_hash(original)
        body = "4000" + "".join(
            str(hash_to_index(h[i * 2 : i * 2 + 2], 10)) for i in range(11)
        )
        body += str(luhn_check_digit(body))
        return " ".join(body[i : i + 4] for i in range(0, len(body), 4))

    def generate_address(self, original: str) -> str:
        h = self.deterministic_hash(original)
        number = 1 + hash_to_index(h[:8], 9999)
        street = STREET_NAMES[hash_to_index(h[8:16], len(STREET_NAMES))]
        return f"{number} {street}"

    def generate_generic(self, original: str) -> str:
        h = self.deterministic_hash(original)
        return f"DATA_{h[:8].hex()}"

    # --- dispatcher (deidentify.go:291-328) -----------------------------

    _GENERATORS = {
        TYPE_NAME: generate_name,
        TYPE_EMAIL: generate_email,
        TYPE_PHONE: generate_phone,
        TYPE_SSN: generate_ssn,
        TYPE_CREDIT_CARD: generate_credit_card,
        TYPE_ADDRESS: generate_address,
    }

    def deidentify_value(self, value: str, data_type: str, column_name: str) -> str:
        if value == "":
            return ""
        if data_type == TYPE_GENERIC:
            return value
        gen = self._GENERATORS.get(data_type)
        if gen is None:
            # Go's closed DataType enum makes an invalid type
            # unrepresentable at compile time; the string-typed port must
            # check, or a one-keystroke typo ('emial') silently replaces
            # a whole column with DATA_xxxx generic fakes
            known = sorted(self._GENERATORS) + [TYPE_GENERIC]
            raise ValueError(
                f"unknown data_type {data_type!r}; expected one of {known}"
            )
        col_memo = self._memo.get(column_name)
        if col_memo is not None:
            cached = col_memo.get(value)
            if cached is not None:
                return cached
        result = gen(self, value)
        self._memo.setdefault(column_name, {})[value] = result
        return result

    # --- convenience scalar API (deidentify.go:140-162) -----------------

    def email(self, value: str) -> str:
        return self.deidentify_value(value, TYPE_EMAIL, "email")

    def name(self, value: str) -> str:
        return self.deidentify_value(value, TYPE_NAME, "name")

    def phone(self, value: str) -> str:
        return self.deidentify_value(value, TYPE_PHONE, "phone")

    def ssn(self, value: str) -> str:
        return self.deidentify_value(value, TYPE_SSN, "ssn")

    def credit_card(self, value: str) -> str:
        return self.deidentify_value(value, TYPE_CREDIT_CARD, "credit_card")

    def address(self, value: str) -> str:
        """Single-address scrub with optional ``label:`` prefix preservation
        (deidentify.go:67-130). All pattern branches funnel into the same
        generator, so the observable behavior is label-split + generate."""
        value = value.strip()
        colon = value.find(":")
        actual = value[colon + 1 :].strip() if colon >= 0 else value
        replaced = self.deidentify_value(actual, TYPE_ADDRESS, "address")
        if colon >= 0:
            return value[: colon + 1] + " " + replaced
        return replaced

    # --- the 8 sequential text passes (deidentify.go:218-234) -----------

    def text(self, text: str) -> str:
        """Run the 8 ordered regex-rewrite passes on a running result string
        (deidentify.go:223-231). Pass order and the fact that later passes
        see earlier replacements are load-bearing reference behaviors."""
        if text == "":
            return ""
        # Byte-identical fast-path gates: every pass except names (7) can
        # only match text containing a digit ('@' additionally required
        # for emails) — the patterns all demand [0-9] / '@' literally —
        # so running them on gate-failing text is a guaranteed no-op.
        # Gates re-check the RUNNING text because earlier replacements
        # can introduce digits (e.g. email fakes carry a numeric suffix).
        result = text
        if "@" in result:
            result = self._process_emails(result)
        if _DIGIT_RE.search(result):
            result = self._process_phones(result)
            result = self._process_ssns(result, text)
            result = self._process_credit_cards(result)
            result = self._process_context_addresses(result)
            result = self._process_special_addresses(result)
        result = self._process_names(result)
        if _DIGIT_RE.search(result):
            result = self._process_standard_addresses(result)
        return result

    def _digit_runs(self, text: str) -> list[int]:
        """Start of every digit run in ``text``. One slot remembers the
        last text, so passes that leave the text unchanged share a scan."""
        if self._runs_text is not text:
            self._runs = [m.start() for m in _DIGIT_RUN_RE.finditer(text)]
            self._runs_text = text
        return self._runs

    def _process_emails(self, text: str) -> str:
        return _sub_emails(
            lambda m: self.deidentify_value(m.group(0), TYPE_EMAIL, "email"), text
        )

    def _process_phones(self, text: str) -> str:
        return _sub_anchored(
            _phone_starts(text),
            P.PHONE_RE,
            lambda m: self.deidentify_value(m.group(0), TYPE_PHONE, "phone"),
            text,
        )

    def _process_ssns(self, text: str, original_text: str) -> str:
        """SSN pass with gating (deidentify.go:748-774). The gate checks the
        ORIGINAL input for SSN context, not the running result
        (deidentify.go:226); since any regex match strips to exactly 9
        digits the gate is inert, replicated for fidelity."""

        def repl(m):
            ssn = m.group(0)
            # The three conditions are pure, so they are tested cheapest
            # first: the context scan of the whole original input
            # (deidentify.go:755) runs only when the other two hold, which
            # no SSN_RE match does.
            if (
                len(P.NON_DIGIT_RE.sub("", ssn)) != 9
                and not (P.SSN_HYPHEN_RE.search(ssn) or P.SSN_SPACE_RE.search(ssn))
                and not P.SSN_CONTEXT_RE.search(original_text)
            ):
                return ssn
            return self.deidentify_value(ssn, TYPE_SSN, "ssn")

        return P.SSN_RE.sub(repl, text)

    def _process_credit_cards(self, text: str) -> str:
        return P.CREDIT_CARD_RE.sub(
            lambda m: self.deidentify_value(m.group(0), TYPE_CREDIT_CARD, "credit_card"),
            text,
        )

    def _process_context_addresses(self, text: str) -> str:
        """Trigger-phrase addresses; the phrase is preserved and only the
        address part replaced (deidentify.go:597-615)."""

        def repl(m):
            prefix = m.group(1)
            addr = m.group(2).strip()
            return prefix + " " + self.deidentify_value(addr, TYPE_ADDRESS, "address")

        starts = _context_address_starts(text, self._digit_runs(text))
        return _sub_anchored(starts, P.CONTEXT_ADDRESS_RE, repl, text)

    def _process_special_addresses(self, text: str) -> str:
        """Three international patterns in order (deidentify.go:740-745)."""
        text = _sub_anchored(
            self._digit_runs(text),
            P.SPECIAL_ADDRESS_1_RE,
            lambda m: self.deidentify_value(m.group(0), TYPE_ADDRESS, "address"),
            text,
        )
        text = _sub_anchored(
            self._digit_runs(text),
            P.SPECIAL_ADDRESS_2_RE,
            lambda m: self.deidentify_value(m.group(0), TYPE_ADDRESS, "address"),
            text,
        )

        def repl3(m):
            # Pattern 3 keeps the first space-delimited token (the ":"/"at"/
            # "@" cue) and replaces the rest (deidentify.go:719-737).
            whole = m.group(0)
            parts = whole.split(" ", 1)
            if len(parts) < 2:
                return whole
            addr = parts[1].strip()
            return parts[0] + " " + self.deidentify_value(addr, TYPE_ADDRESS, "address")

        starts = _special_address_3_starts(text, self._digit_runs(text))
        return _sub_anchored(starts, P.SPECIAL_ADDRESS_3_RE, repl3, text)

    def is_address_context(self, name: str) -> bool:
        """Name-candidate suppression (deidentify.go:537-547)."""
        return bool(
            P.ADDRESS_WORD_RE.search(name)
            or P.INTERNATIONAL_ADDRESS_RE.search(name)
            or P.COUNTRY_NAME_RE.search(name)
            or P.CITY_RE.search(name)
        )

    def _process_names(self, text: str) -> str:
        def repl(m):
            name = m.group(0)
            if self.is_address_context(name):
                return name
            return self.deidentify_value(name, TYPE_NAME, "name")

        return P.NAME_RE.sub(repl, text)

    def _process_standard_addresses(self, text: str) -> str:
        return _sub_anchored(
            self._digit_runs(text),
            P.ADDRESS_RE,
            lambda m: self.deidentify_value(m.group(0), TYPE_ADDRESS, "address"),
            text,
        )

    # --- tabular APIs (deidentify.go:171-215) ----------------------------

    def table(self, columns: list[dict]) -> list[dict]:
        """Column-major table scrub (deidentify.go:185-215).

        ``columns`` is a list of {"name", "data_type", "values"}; None is
        preserved as None (deidentify.go:194-197), other values are coerced
        with Go `%v` semantics (deidentify.go:199): bool -> 'true'/'false',
        float -> strconv.FormatFloat 'g' shortest form — NOT Python str(),
        whose 'True'/'100000.0' would hash to different replacements than
        the reference (and than the Spark path).
        """
        from deidentify_spark.functions.coerce import go_format_value

        out = []
        for col in columns:
            values = []
            for v in col["values"]:
                if v is None:
                    values.append(None)
                    continue
                values.append(
                    self.deidentify_value(
                        go_format_value(v), col["data_type"], col["name"]
                    )
                )
            out.append(
                {"name": col["name"], "data_type": col["data_type"], "values": values}
            )
        return out

    def slices(
        self,
        data: list[list[str]],
        column_types: list[str] | None = None,
        column_names: list[str] | None = None,
    ) -> list[list[str]]:
        """Row-major scrub with optional inference (deidentify.go:171-182).

        Empty strings are preserved (deidentify.go:689-692); missing types
        are inferred from the first 10 rows; missing names default to
        ``column_{i}`` (deidentify.go:844-852).
        """
        if len(data) == 0:
            return []
        num_cols = len(data[0])
        if not column_names:
            column_names = [f"column_{i}" for i in range(num_cols)]
        if not column_types:
            column_types = self.infer_column_types(data)
        if len(column_types) != num_cols or len(column_names) != num_cols:
            raise ValueError(
                f"mismatch between data columns ({num_cols}) and provided "
                f"column types ({len(column_types)}) or names ({len(column_names)})"
            )
        out = []
        for row in data:
            out_row = []
            for j, value in enumerate(row):
                if value == "":
                    out_row.append("")
                    continue
                out_row.append(
                    self.deidentify_value(value, column_types[j], column_names[j])
                )
            out.append(out_row)
        return out

    # --- type inference (deidentify.go:488-552, 789-841) -----------------

    # Canonical score-iteration order. Go map iteration is randomized
    # (deidentify.go:338-349 uses a strict-> scan), so exact ties are
    # unspecified by the reference; this fixed order makes them
    # deterministic here.
    _SCORE_ORDER = (
        TYPE_EMAIL,
        TYPE_PHONE,
        TYPE_SSN,
        TYPE_CREDIT_CARD,
        TYPE_ADDRESS,
        TYPE_NAME,
        TYPE_GENERIC,
    )

    def infer_column_types(self, data: list[list[str]]) -> list[str]:
        if len(data) == 0:
            return []
        return [
            self._infer_single_column(data, col) for col in range(len(data[0]))
        ]

    def _infer_single_column(self, data: list[list[str]], col: int) -> str:
        scores = {t: 0 for t in self._SCORE_ORDER}
        sample = data[:10]  # first 10 rows only (deidentify.go:791-794)
        valid = 0
        for row in sample:
            if col < len(row) and row[col] != "" and row[col].strip() != "":
                valid += 1
                self._score_value(row[col].strip(), scores)
        return self._select_best_type(scores, valid)

    @staticmethod
    def _score_value(value: str, scores: dict[str, int]) -> None:
        """+10 per pattern class; name +5 gated on no address word
        (deidentify.go:807-826)."""
        if P.EMAIL_RE.search(value):
            scores[TYPE_EMAIL] += 10
        if P.PHONE_RE.search(value):
            scores[TYPE_PHONE] += 10
        if P.SSN_RE.search(value):
            scores[TYPE_SSN] += 10
        if P.CREDIT_CARD_RE.search(value):
            scores[TYPE_CREDIT_CARD] += 10
        if P.ADDRESS_RE.search(value) or P.ADDRESS_WORD_RE.search(value):
            scores[TYPE_ADDRESS] += 10
        if P.NAME_RE.search(value) and not P.ADDRESS_WORD_RE.search(value):
            scores[TYPE_NAME] += 5
    def _select_best_type(self, scores: dict[str, int], valid_values: int) -> str:
        """Threshold = valid*3 for names, valid*5 otherwise
        (deidentify.go:458-463, 829-841). The reference's '30%' comment is
        wrong — replicate the arithmetic, not the comment."""
        best_type, max_score = TYPE_GENERIC, 0
        for t in self._SCORE_ORDER:
            if scores[t] > max_score:
                max_score = scores[t]
                best_type = t
        if valid_values == 0:
            return TYPE_GENERIC
        threshold = valid_values * 3 if best_type == TYPE_NAME else valid_values * 5
        return best_type if max_score >= threshold else TYPE_GENERIC
