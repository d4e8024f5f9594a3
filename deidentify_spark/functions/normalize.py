"""Unicode text normalization — the pre-hash cleanup every dedup/
fingerprint stage silently depends on.

Web text arrives in mixed normal forms: "café" as U+00E9 and as
e+U+0301 are different byte strings, so exact dedup, minhash shingles,
and scrub-cache keys all treat visually identical docs as distinct.
The standard fix (applied before any hashing) is NFC composition plus
stripping the C0/C1-ish control characters HTML extraction can leak
(backspace, NUL, ...; tab/newline/CR are content and stay).

Spark has no built-in NFC, so composition is an Arrow pandas UDF over
``unicodedata.normalize`` (C-implemented, ~1 us/doc for the common
already-NFC fast path); the control strip is a JVM regexp. The DuckDB
oracle twin uses its native ``nfc_normalize`` — two independent NFC
implementations (CPython's unicodedata vs DuckDB's utf8proc) agreeing
on md5 per doc is a strong check of both.

Scale: map-only, no shuffle; normalization belongs in the same
scan-side stage as extraction/langid.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# keep \t \n \r; strip the rest of C0, plus DEL
_CONTROL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def nfc_py(s: str | None) -> str | None:
    """Scalar reference: NFC composition (no control strip)."""
    return None if s is None else unicodedata.normalize("NFC", s)


def nfc_column(col: str | Column) -> Column:
    @F.pandas_udf(StringType())
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else unicodedata.normalize("NFC", v))

    return nfc(F.col(col) if isinstance(col, str) else col)


def normalize_text_column(col: str | Column) -> Column:
    """NFC composition, then control-char strip (order matters only for
    exotic compositions involving controls — none exist in Unicode, but
    the twin mirrors the order anyway)."""
    return F.regexp_replace(nfc_column(col), _CONTROL_CLASS, "")


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin: utf8proc NFC + the same RE2 control class."""
    cls = _CONTROL_CLASS.replace("'", "''")
    return f"regexp_replace(nfc_normalize({expr}), '{cls}', '', 'g')"
