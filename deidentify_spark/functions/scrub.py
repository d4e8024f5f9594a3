"""Scrub UDFs over the oracle's 8-pass PII rewrite, plus the counting
engines whose per-detector hits the fused stage reports to the
lineage/metrics table.

The replacement function is pure in (secret_key, type, value) — see
SURVEY.md §0 / deidentify.go:291-335 — so the UDF is stateless across
batches and tasks; the per-batch ``Deidentifier`` instance only carries
the memoization cache, which (like the reference's mapping table) never
changes output, only skips repeated HMAC work within a batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from deidentify_spark.oracle import Deidentifier
from deidentify_spark.oracle.extensions import ExtendedDeidentifier


class _CountingMixin:
    """Tallies replacements by PII type (every detector hit, including
    memoized repeats) for the ``pii_hits`` metrics map, without touching
    replacement semantics."""

    def __init__(self, secret_key: str) -> None:
        super().__init__(secret_key)
        self.hits: dict[str, int] = {}

    def reset_hits(self) -> None:
        self.hits = {}

    def deidentify_value(self, value: str, data_type: str, column_name: str) -> str:
        if value != "" and data_type != "generic":
            self.hits[data_type] = self.hits.get(data_type, 0) + 1
        return super().deidentify_value(value, data_type, column_name)


class CountingDeidentifier(_CountingMixin, Deidentifier):
    """Reference-parity counting engine."""


class CountingExtendedDeidentifier(_CountingMixin, ExtendedDeidentifier):
    """Counting engine with the opt-in IP detector extension."""


_AUDIT_SCHEMA = "array<struct<pii_type:string,original:string,replacement:string>>"


class RecordingDeidentifier(Deidentifier):
    """Captures every (type, original, replacement) triple the scrub
    produces — the reference's in-memory mapping table
    (deidentify.go:37-41, setMapping 855-863) surfaced as data instead
    of hidden state."""

    def __init__(self, secret_key: str) -> None:
        super().__init__(secret_key)
        self.pairs: set[tuple[str, str, str]] = set()

    def deidentify_value(self, value: str, data_type: str, column_name: str) -> str:
        out = super().deidentify_value(value, data_type, column_name)
        if value != "" and data_type != "generic":
            self.pairs.add((data_type, value, out))
        return out


def mapping_audit_udf(secret_key: str):
    """Arrow pandas UDF: text -> array of (pii_type, original,
    replacement) triples found while scrubbing it.  Downstream
    ``explode + distinct`` materializes the reference's mapping table
    (SURVEY §1.1) as a distributed audit DataFrame — because
    replacements are pure in (key, type, value) (§0), the distributed
    distinct IS the global mapping table, no shared state needed."""

    @F.pandas_udf(_AUDIT_SCHEMA)
    def audit(text: pd.Series) -> pd.Series:
        d = RecordingDeidentifier(secret_key)
        out: list[list[tuple[str, str, str]]] = []
        for t in text.tolist():
            if t is None:
                out.append([])
                continue
            d.pairs = set()
            d.text(t)
            out.append(sorted(d.pairs))
        return pd.Series(out)

    return audit


def mapping_audit_table(df, text_col: str, secret_key: str):
    """Materialize the global (pii_type, original, replacement) mapping
    table for ``df[text_col]``: per-doc triples from the Arrow UDF, then
    one explode + distinct (a single shuffle on the triple)."""
    triples = df.select(
        F.explode(mapping_audit_udf(secret_key)(F.col(text_col))).alias("m")
    )
    return triples.select("m.pii_type", "m.original", "m.replacement").distinct()


def scrub_text_udf(secret_key: str):
    """Plain text-in/text-out scrub (no hit counts, no mask) — the
    Table/Slices per-column path and simple callers."""

    @F.pandas_udf(StringType())
    def scrub(text: pd.Series) -> pd.Series:
        d = Deidentifier(secret_key)
        return text.map(lambda t: d.text(t) if t is not None else None)

    return scrub


def scrub_column_udf(secret_key: str, data_type: str, column_name: str):
    """Per-column typed scrub (the reference's Table/Slices semantics):
    every non-null cell is deidentified as ``data_type``, nulls pass
    through, '' stays '' (deidentify.go:185-215, 685-704)."""

    @F.pandas_udf(StringType())
    def scrub(col: pd.Series) -> pd.Series:
        d = Deidentifier(secret_key)
        return col.map(
            lambda v: None
            if v is None
            else d.deidentify_value(str(v), data_type, column_name)
        )

    return scrub
