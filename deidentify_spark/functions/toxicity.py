"""Toxicity / blocklist filtering and masking.

The north-star pipeline pairs the PII scrub with a toxicity scrub.
This module implements the standard word-list approach used by the
public web-text pipelines (C4's "List of Dirty, Naughty, Obscene and
Otherwise Bad Words" filter; Gopher and RefinedWeb carry similar
explicit-term gates): score each document by flagged-token counts,
drop documents over a threshold, and optionally mask flagged terms
in the text that is kept.

Everything here is JVM-side Column expressions (split / transform /
filter / regexp_replace) — no Python in the hot path — and every
operator has a DuckDB-expressible twin, so the driver value-checks it.
The list itself is a parameter: production runs supply the full
LDNOOBW-style list (hundreds of terms per language); the committed
default is a small demonstrative subset so the repo stays readable.
To scrub a pipeline run, compose it after ``run_pipeline`` on the kept
rows: ``toxicity_scrub(out.where("keep"), blocklist,
text_col="scrubbed_text")`` masks ``scrubbed_text`` in place.

Reference parity note: the reference engine (deidentify.go) scrubs PII
but has no toxicity surface; this module is part of the
training-data-pipeline extension mandated by the build brief.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deidentify_spark.functions.text_stats import (
    RE2_WS_CLASS,
    whitespace_token_count,
)

# Demonstrative default (mild terms only). Production: pass the full
# public LDNOOBW list for the document's language.
DEFAULT_BLOCKLIST: tuple[str, ...] = (
    "damn", "hell", "crap", "sucks", "idiot", "stupid", "moron",
    "jerk", "dumbass", "bastard",
)


def _norm_tokens(text: Column) -> Column:
    """lower/trim/ws-split, then strip leading+trailing non-alphanumerics
    per token ("damn!" -> "damn"). The two anchored regexes are
    single-pass and linear; the lambda references only its element, so
    the no-CSE-in-HOF-lambdas trap (see operators/dedup.py) does not
    apply."""
    words = F.split(F.lower(F.trim(text)), RE2_WS_CLASS + "+")
    return F.transform(
        words,
        lambda w: F.regexp_replace(
            F.regexp_replace(w, "^[^a-z0-9]+", ""), "[^a-z0-9]+$", ""
        ),
    )


def toxicity_annotate(
    df: DataFrame,
    blocklist: "tuple[str, ...] | list[str]" = DEFAULT_BLOCKLIST,
    text_col: str = "text",
) -> DataFrame:
    """Adds ``toxic_hits`` (flagged tokens, repeats counted),
    ``toxic_frac`` (hits / whitespace tokens, 0.0 for empty docs).

    array_contains against the literal list is an O(|list|) JVM compare
    per token — ~400 terms for the full public list, well inside
    whole-stage codegen; no shuffle, no Python.
    """
    bl = F.array(*[F.lit(w.lower()) for w in blocklist])
    toks = _norm_tokens(F.col(text_col))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(bl, t)))
    n = whitespace_token_count(F.col(text_col))
    return df.withColumn("toxic_hits", hits.cast("int")).withColumn(
        "toxic_frac",
        F.when(n == 0, F.lit(0.0)).otherwise(
            F.col("toxic_hits") / n.cast("double")
        ),
    )


def toxicity_filter(
    df: DataFrame,
    blocklist: "tuple[str, ...] | list[str]" = DEFAULT_BLOCKLIST,
    max_frac: float = 0.02,
    max_hits: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Keep/drop decision: drop when toxic_frac > max_frac OR
    toxic_hits > max_hits (C4 drops on ANY hit — set max_hits=0,
    max_frac=0.0 for that policy). Adds ``toxic_keep`` boolean; the
    caller filters or routes to lineage like the other quality gates."""
    ann = toxicity_annotate(df, blocklist, text_col)
    return ann.withColumn(
        "toxic_keep",
        (F.col("toxic_frac") <= max_frac) & (F.col("toxic_hits") <= max_hits),
    )


TOXICITY_MASK = "***"  # what a flagged term is replaced with


def toxicity_mask_expr(
    text: Column,
    blocklist: "tuple[str, ...] | list[str]" = DEFAULT_BLOCKLIST,
) -> Column:
    """Mask flagged terms in place, preserving all other bytes: one
    case-insensitive word-boundary alternation regexp_replace. The
    pattern is a literal alternation (re.escape'd) — linear-time in RE2
    and Java alike, probed in tests/test_oracle_perf.py style against
    pathological inputs. DuckDB twin: regexp_replace(text, pat,
    TOXICITY_MASK, 'gi')."""
    if not blocklist:
        return text
    pat = r"(?i)\b(?:" + "|".join(re.escape(w) for w in blocklist) + r")\b"
    return F.regexp_replace(text, pat, TOXICITY_MASK)


def toxicity_scrub(
    df: DataFrame,
    blocklist: "tuple[str, ...] | list[str]" = DEFAULT_BLOCKLIST,
    max_frac: float = 0.02,
    max_hits: int = 10,
    text_col: str = "text",
    out_col: str = "scrubbed_text",
) -> DataFrame:
    """The combined gate-and-mask stage: documents over the threshold
    are marked dropped (toxic_keep=false, out_col NULL); kept documents
    get flagged terms masked. Mirrors the PII scrub's contract (NULL
    text for dropped rows, deterministic output for kept rows)."""
    out = toxicity_filter(df, blocklist, max_frac, max_hits, text_col)
    return out.withColumn(
        out_col,
        F.when(
            F.col("toxic_keep"),
            toxicity_mask_expr(F.col(text_col), blocklist),
        ),
    )
