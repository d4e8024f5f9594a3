"""Shared Spark session fixture (local mode, runtime.session_builder)."""

import pytest


@pytest.fixture(scope="session")
def spark():
    from deidentify_spark.runtime import session_builder

    s = (
        session_builder(4)
        .appName("deidentify-spark-tests")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse-tests")
        .getOrCreate()
    )
    yield s
    s.stop()


def _unanchored_text(d, text: str) -> str:
    """The reference's 8 scrub passes as plain ``pattern.sub`` calls in
    the reference's order (deidentify.go:223-231): no fast-path gates and
    no anchored candidate scans, so ``d.text`` must equal it byte for
    byte. Replacement values come from ``d.deidentify_value``."""
    from deidentify_spark.oracle import patterns as P

    if text == "":
        return ""

    def value(data_type):
        return lambda m: d.deidentify_value(m.group(0), data_type, data_type)

    has_context = bool(P.SSN_CONTEXT_RE.search(text))

    def ssn(m):
        s = m.group(0)
        formatted = P.SSN_HYPHEN_RE.search(s) or P.SSN_SPACE_RE.search(s)
        if not formatted and not has_context and len(P.NON_DIGIT_RE.sub("", s)) != 9:
            return s
        return d.deidentify_value(s, "ssn", "ssn")

    def context_address(m):
        addr = m.group(2).strip()
        return m.group(1) + " " + d.deidentify_value(addr, "address", "address")

    def special_address_3(m):
        parts = m.group(0).split(" ", 1)
        if len(parts) < 2:
            return m.group(0)
        addr = parts[1].strip()
        return parts[0] + " " + d.deidentify_value(addr, "address", "address")

    def name(m):
        n = m.group(0)
        return n if d.is_address_context(n) else d.deidentify_value(n, "name", "name")

    r = P.EMAIL_RE.sub(value("email"), text)
    r = P.PHONE_RE.sub(value("phone"), r)
    r = P.SSN_RE.sub(ssn, r)
    r = P.CREDIT_CARD_RE.sub(value("credit_card"), r)
    r = P.CONTEXT_ADDRESS_RE.sub(context_address, r)
    r = P.SPECIAL_ADDRESS_1_RE.sub(value("address"), r)
    r = P.SPECIAL_ADDRESS_2_RE.sub(value("address"), r)
    r = P.SPECIAL_ADDRESS_3_RE.sub(special_address_3, r)
    r = P.NAME_RE.sub(name, r)
    return P.ADDRESS_RE.sub(value("address"), r)


@pytest.fixture(scope="session")
def unanchored_text():
    """``(deidentifier, text) -> scrubbed`` reference twin of
    ``Deidentifier.text`` (see ``_unanchored_text``)."""
    return _unanchored_text
