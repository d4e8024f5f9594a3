"""Text-analysis columns: token counting, fingerprinting.

Everything except winnowing is a JVM-side Column expression (DuckDB can
replicate them for the driver oracle); winnowing needs a rolling-hash
window minimum and is a vectorized pandas UDF.
"""

from __future__ import annotations

import re
from zlib import crc32

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# GPT2-ish pretokenizer, ASCII classes only so Java (Spark) and RE2
# (DuckDB) agree byte-for-byte: a token is an optional leading space +
# letters | digits | other-non-space run.
BPE_ISH_TOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+"

# RE2's \s — the tokenization ground truth for every operator with a
# DuckDB oracle twin. Spelled out explicitly everywhere because the three
# engines disagree about '\s': RE2 = [\t\n\f\r ], Java adds \x0B, and
# Python str.split() adds all unicode whitespace (NBSP...). One class,
# used verbatim in the Column expressions, the Python tokenizer, AND the
# generated SQL (RE2 \s), keeps fingerprints byte-identical on texts with
# exotic whitespace.
RE2_WS_CLASS = "[ \\t\\n\\f\\r]"
_RE2_WS_RE = re.compile("[ \t\n\f\r]+")


def re2_words(text: str) -> list[str]:
    """Tokenize exactly like the DuckDB twin's
    regexp_split_to_array(lower(trim(text)), '\\s+'): strip ASCII spaces
    at the ends (SQL trim), lowercase, split on RE2 whitespace — KEEPING
    the empty tokens a leading/trailing tab or newline produces, unlike
    str.split()."""
    return _RE2_WS_RE.split(text.lower().strip(" "))


def whitespace_token_count(text: Column) -> Column:
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), RE2_WS_CLASS + "+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_TOKEN_PATTERN), F.lit(0)))


def normalized_fingerprint(text: Column) -> Column:
    """md5 of casefolded, whitespace-collapsed text — cheap near-exact
    dup key (survives reflow/case edits)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), RE2_WS_CLASS + "+", " ")))


WINNOW_K = 5  # words per winnowing k-gram
WINNOW_WINDOW = 4  # k-gram hashes per window


def winnowing_fingerprints(text: str) -> list[int]:
    """Winnowing document fingerprints (Schleimer et al. 2003): hash over
    word k-grams (first 15 hex chars of md5 — DuckDB-replicable), minimum
    per sliding window of full windows, deduplicated + sorted. The
    standard near-dup/overlap sketch. Tokenization is re2_words — exactly
    the generated SQL twin's, including leading-tab empty tokens."""
    import hashlib

    words = re2_words(text)
    if len(words) < WINNOW_K:
        return []
    grams = (" ".join(words[i : i + WINNOW_K]) for i in range(len(words) - WINNOW_K + 1))
    hs = np.array(
        [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams],
        dtype=np.int64,
    )
    if len(hs) <= WINNOW_WINDOW:
        mins = {int(hs.min())}
    else:
        sw = np.lib.stride_tricks.sliding_window_view(hs, WINNOW_WINDOW)
        mins = set(int(x) for x in sw.min(axis=1))
    return sorted(mins)


def winnowing_fingerprints_udf():
    """Vectorized wrapper of :func:`winnowing_fingerprints`."""

    @F.pandas_udf(ArrayType(LongType()))
    def winnow(text: pd.Series) -> pd.Series:
        return pd.Series([winnowing_fingerprints(t) for t in text.fillna("")])

    return winnow


def winnowing_oracle_sql(table: str = "documents") -> str:
    """DuckDB SQL twin of winnowing_fingerprints, exploded to
    (doc_id, fingerprint) rows: positioned k-grams via list comprehension,
    md5-hex hashes, window-min over FULL windows only (tail partials are
    excluded to match the python; docs with <= window grams keep the
    single global min)."""
    gram = "||' '||".join(f"w[i+{j}]" for j in range(WINNOW_K))
    return f"""
            WITH words AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                FROM {table}
            ), grams AS (
                SELECT doc_id,
                       unnest([{{'pos': i, 'g': {gram}}}
                               for i in generate_series(1, len(w)-{WINNOW_K - 1})]) AS pg
                FROM words
            ), hashes AS (
                SELECT doc_id, pg.pos AS pos,
                       ('0x'||substr(md5(pg.g),1,15))::BIGINT AS h,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n
                FROM grams
            ), winmins AS (
                SELECT doc_id, pos, n,
                       MIN(h) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING
                       ) AS fp
                FROM hashes
            )
            SELECT DISTINCT doc_id, fp AS fingerprint
            FROM winmins
            WHERE pos <= n - {WINNOW_WINDOW} + 1 OR (n <= {WINNOW_WINDOW} AND pos = 1)
            ORDER BY doc_id, fingerprint
    """


def redundancy_signals(text_col: str = "text"):
    """ONE-Arrow-pass per-document redundancy/quality signals as a
    struct column (entropy, distinct_ratio, compression_ratio) — the
    repetitive-boilerplate detectors production corpus filters run
    (Dolma/RedPajama gate on zlib/gzip compression ratio; low unigram
    entropy at normal length flags keyword-stuffed or templated pages):

      token_entropy     Shannon entropy (nats) of the doc's whitespace
                        unigram distribution, ln(n) - sum(c*ln(c))/n
      distinct_ratio    distinct terms / total terms (type-token ratio)
      compression_ratio zlib(level 6) bytes / utf-8 bytes — LOW means
                        highly repetitive text

    Empty/NULL docs yield NULL signals. Map-only (no shuffle, no join):
    the whole struct computes in one vectorized batch; at 100 TB this
    rides the same narrow scan->project stage as the other text gates.
    Tokenization is the single-space split shared with vocab.py /
    VOCAB_TOPK_SQL so the entropy oracle twin is engine-exact from
    integer counts (float rounding argued at round-6 dp as for
    unigram_divergence).
    """
    import math
    import zlib

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_t = StructType(
        [
            StructField("token_entropy", DoubleType()),
            StructField("distinct_ratio", DoubleType()),
            StructField("compression_ratio", DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def signals(texts: pd.Series) -> pd.DataFrame:
        ent, dr, cr = [], [], []
        for t in texts:
            if t is None or t == "":
                ent.append(None), dr.append(None), cr.append(None)
                continue
            toks = [w for w in t.split(" ") if w]
            if not toks:
                ent.append(None), dr.append(None)
            else:
                counts: dict[str, int] = {}
                for w in toks:
                    counts[w] = counts.get(w, 0) + 1
                n = len(toks)
                # sorted iteration: deterministic float-sum order
                s = sum(c * math.log(c) for _, c in sorted(counts.items()))
                ent.append(math.log(n) - s / n)
                dr.append(len(counts) / n)
            raw = t.encode("utf-8")
            cr.append(len(zlib.compress(raw, 6)) / len(raw))
        return pd.DataFrame(
            {
                "token_entropy": ent,
                "distinct_ratio": dr,
                "compression_ratio": cr,
            }
        )

    return signals(F.col(text_col))


REDUNDANCY_ENTROPY_SQL = """
    WITH tc AS (
        SELECT {id_col}, term, COUNT(*) AS c
        FROM (
            SELECT {id_col},
                   unnest(list_filter(string_split({text_col}, ' '),
                                      x -> x <> '')) AS term
            FROM {table}
        ) GROUP BY {id_col}, term
    ),
    ag AS (
        SELECT {id_col}, SUM(c) AS n, SUM(c * LN(c)) AS s,
               COUNT(*) AS d
        FROM tc GROUP BY {id_col}
    )
    SELECT t.{id_col},
           ROUND(LN(ag.n) - ag.s / ag.n, 6) AS token_entropy,
           ROUND(ag.d * 1.0 / ag.n, 6) AS distinct_ratio
    FROM {table} t LEFT JOIN ag ON t.{id_col} = ag.{id_col}
    ORDER BY t.{id_col}
"""
