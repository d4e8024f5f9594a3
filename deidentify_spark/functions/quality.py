"""Gopher/C4-style heuristic quality rules, in Python and as Spark
Column expressions.

Rules follow the published heuristics of Rae et al. 2021 (Gopher, §A1.1)
and Raffel et al. 2020 (C4, §2.2) — public knowledge, not the reference
repo (the reference is a scalar PII library; the filter layer is mandated
by the build contract / BASELINE.json north_rule).

The pipeline runs the Python twins (``quality_pre_reason_py``, then the
n-gram repetition ratio functions/fused.py:top_2gram_frac, then
``quality_post_reason_py``) inside the fused Arrow stage, so rejected
docs never pay for the later rules. The Column form
(``quality_metrics`` + ``quality_drop_reason``: JVM-side, whole-stage
codegen'd) serves the ``quality_stats_documents`` query and the
cross-engine parity test in tests/test_functions.py.

Rule evaluation order is fixed and load-bearing: ``drop_reason`` is the
FIRST failing rule, and the synthetic generator (sources/pages.py) crafts
each defect class to fail exactly one rule with a comfortable margin.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import compress, repeat

from pyspark.sql import Column
from pyspark.sql import functions as F

from deidentify_spark.functions.words import MEMO_MAX, Memo, split_words


@dataclass(frozen=True)
class QualityConfig:
    """Thresholds for the heuristic keep/drop rules.

    Defaults mirror Gopher §A1.1 / C4 §2.2 where published, except
    ``max_words`` (Gopher: 100,000) which defaults lower so synthetic
    test fixtures can exercise the rule without generating 100k-word
    documents. Every caller runs that default of 2,000 (both jobs,
    ``bench.py``, ``perfbench``), so production runs drop pages over
    2,000 words too.
    """

    min_words: int = 50
    max_words: int = 2_000
    min_mean_word_length: float = 3.0
    max_mean_word_length: float = 10.0
    max_symbol_word_ratio: float = 0.1  # '#' and ellipsis per word (Gopher)
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8
    min_stopword_count: int = 2
    max_dup_line_frac: float = 0.3
    max_top_2gram_frac: float = 0.2
    stopwords: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with")
    banned_phrases: tuple[str, ...] = (
        "lorem ipsum",
        "enable javascript",
        "cookies enabled",
        "cookie policy",
        "terms of use",
        "privacy policy",
    )


def quality_metrics(text: Column, cfg: QualityConfig) -> dict[str, Column]:
    """Named metric columns, all JVM-side expressions.

    Words are whitespace-separated tokens; lines are newline-separated.
    """
    # (?U): Java \s is ASCII-only by default; Python str.split() treats
    # unicode whitespace (NBSP etc.) as separators — align to the Python
    # twin, which is the product (fused) path
    words = F.filter(
        F.split(F.trim(text), r"(?U)\s+"), lambda w: w != ""
    )
    word_count = F.size(words)
    # mean word length = non-whitespace chars / words
    non_ws_chars = F.length(F.regexp_replace(text, r"(?U)\s", ""))
    mean_word_len = non_ws_chars / F.greatest(word_count, F.lit(1))

    hash_count = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    ellipsis_count = (
        F.length(F.regexp_replace(text, r"\.\.\.", "\x00"))
        - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) + (F.length(text) - F.length(F.regexp_replace(text, "…", "")))
    symbol_ratio = (hash_count + ellipsis_count) / F.greatest(word_count, F.lit(1))

    lines = F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).startswith("-")
                | F.trim(ln).startswith("•")
                | F.trim(ln).startswith("*"),
            )
        )
        / n_lines
    )
    ellipsis_line_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).endswith("...") | F.trim(ln).endswith("…"),
            )
        )
        / n_lines
    )
    # \p{L}: unicode letters, matching the Python twin's c.isalpha()
    # (the old [A-Za-zÀ-ÿ] dropped e.g. Cyrillic words as non-alpha)
    alpha_word_frac = (
        F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
        / F.greatest(word_count, F.lit(1))
    )
    stop_arr = F.array(*[F.lit(s) for s in cfg.stopwords])
    # strip punctuation at the ENDS only (Python w.strip(punct)): the old
    # remove-everywhere form counted 'the5' as the stopword 'the'
    _punct_cls = "[\"'.,;:!?()\\[\\]{}<>_#-]"
    stopword_count = F.size(
        F.filter(
            words,
            lambda w: F.array_contains(
                stop_arr,
                F.lower(
                    F.regexp_replace(w, f"^{_punct_cls}+|{_punct_cls}+$", "")
                ),
            ),
        )
    )
    dup_line_frac = F.lit(1.0) - (
        F.size(F.array_distinct(lines)) / n_lines.cast("double")
    )
    lowered = F.lower(text)
    has_banned = F.lit(False)
    for phrase in cfg.banned_phrases:
        has_banned = has_banned | (F.instr(lowered, phrase) > 0)
    return {
        "word_count": word_count,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_line_frac,
        "alpha_word_frac": alpha_word_frac,
        "stopword_count": stopword_count,
        "dup_line_frac": dup_line_frac,
        "has_lorem": F.instr(lowered, "lorem ipsum") > 0,
        "has_curly": F.instr(text, "{") > 0,
        # built from cfg.banned_phrases — a custom phrase list must reach
        # the Column path too, not just the Python twin
        "has_policy": has_banned,
    }


# The two per-word predicates (contains-a-letter, is-a-stopword-after-
# punct-strip) are pure functions of the word given a config, so they
# are memoized per config, packed in one int per word: bit 0 is the
# letter flag, bit _STOP_SHIFT the stopword flag. One C-level
# ``sum(map(memo.__getitem__, words))`` then counts both (a doc has far
# fewer than 2^32 words). Rule semantics and thresholds are untouched
# (pinned by tests/test_functions.py); the memo is cleared at MEMO_MAX
# entries.
_WORD_PUNCT = "\"'.,;:!?()[]{}<>-_#"
_STOP_SHIFT = 32
_WORD_FLAG_CACHES: dict[QualityConfig, Memo] = {}


def _word_flag_cache(cfg: QualityConfig) -> Memo:
    cache = _WORD_FLAG_CACHES.get(cfg)
    if cache is None:
        stop = frozenset(cfg.stopwords)

        def flags(w: str) -> int:
            alpha = any(c.isalpha() for c in w)
            return alpha | (w.lower().strip(_WORD_PUNCT) in stop) << _STOP_SHIFT

        cache = _WORD_FLAG_CACHES[cfg] = Memo(flags)
    return cache


def quality_pre_reason_py(text: str, cfg: QualityConfig) -> str | None:
    """Python twin of the Column-expression rules BEFORE the n-gram
    repetition check (same order, same thresholds), for use inside the
    fused Arrow UDF — measured ~100x cheaper per doc than the
    interpreted/duplicated JVM expression tree (which re-splits the text
    in every CASE WHEN branch). Parity with the Column version is pinned
    by tests/test_functions.py. The split is shared with the later
    stages (functions/words.py)."""
    words = split_words(text)
    n_words = len(words)
    if n_words < cfg.min_words:
        return "too_few_words"
    if n_words > cfg.max_words:
        return "too_many_words"
    total_chars = len("".join(words))
    mean_len = total_chars / n_words
    if mean_len < cfg.min_mean_word_length or mean_len > cfg.max_mean_word_length:
        return "mean_word_length"
    symbols = text.count("#") + text.count("...") + text.count("…")
    if symbols / n_words > cfg.max_symbol_word_ratio:
        return "symbol_ratio"
    raw = text.split("\n")
    stripped = list(map(str.strip, raw))
    lines = list(compress(raw, stripped))  # the non-blank lines
    stripped = list(filter(None, stripped))
    n_lines = max(len(lines), 1)
    bullets = sum(map(str.startswith, stripped, repeat(("-", "•", "*"))))
    if bullets / n_lines > cfg.max_bullet_line_frac:
        return "bullet_lines"
    ellipsis_ends = sum(map(str.endswith, stripped, repeat(("...", "…"))))
    if ellipsis_ends / n_lines > cfg.max_ellipsis_line_frac:
        return "ellipsis_lines"
    cache = _word_flag_cache(cfg)
    if len(cache) > MEMO_MAX:
        cache.clear()
    flags = sum(map(cache.__getitem__, words))
    alpha_words = flags & ((1 << _STOP_SHIFT) - 1)
    stop_count = flags >> _STOP_SHIFT
    if alpha_words / n_words < cfg.min_alpha_word_frac:
        return "alpha_ratio"
    if stop_count < cfg.min_stopword_count:
        return "few_stopwords"
    if len(lines) > 0 and 1.0 - len(set(lines)) / n_lines > cfg.max_dup_line_frac:
        return "duplicate_lines"
    return None


def quality_post_reason_py(text: str, cfg: QualityConfig) -> str | None:
    """Python twin of the C4 contains-rules that come AFTER the n-gram
    repetition check in the rule order."""
    lowered = text.lower()
    if "lorem ipsum" in lowered:
        return "lorem_ipsum"
    if "{" in text:
        return "curly_brace"
    for phrase in cfg.banned_phrases:
        if phrase in lowered:
            return "policy_phrase"
    return None


def quality_drop_reason(m: dict[str, Column], top2: Column, cfg: QualityConfig) -> Column:
    """First-failing-rule drop reason (null = passes all quality rules).

    ``m`` is the dict from :func:`quality_metrics`; ``top2`` the masked
    2-gram column (null/NaN counts as passing — it is only computed for
    rows that survived the cheap rules)."""
    return (
        F.when(m["word_count"] < cfg.min_words, "too_few_words")
        .when(m["word_count"] > cfg.max_words, "too_many_words")
        .when(
            (m["mean_word_len"] < cfg.min_mean_word_length)
            | (m["mean_word_len"] > cfg.max_mean_word_length),
            "mean_word_length",
        )
        .when(m["symbol_ratio"] > cfg.max_symbol_word_ratio, "symbol_ratio")
        .when(m["bullet_line_frac"] > cfg.max_bullet_line_frac, "bullet_lines")
        .when(m["ellipsis_line_frac"] > cfg.max_ellipsis_line_frac, "ellipsis_lines")
        .when(m["alpha_word_frac"] < cfg.min_alpha_word_frac, "alpha_ratio")
        .when(m["stopword_count"] < cfg.min_stopword_count, "few_stopwords")
        .when(m["dup_line_frac"] > cfg.max_dup_line_frac, "duplicate_lines")
        .when(
            top2.isNotNull() & ~F.isnan(top2) & (top2 > cfg.max_top_2gram_frac),
            "top_ngram_repetition",
        )
        .when(m["has_lorem"], "lorem_ipsum")
        .when(m["has_curly"], "curly_brace")
        .when(m["has_policy"], "policy_phrase")
        .otherwise(F.lit(None).cast("string"))
    )


C4_MIN_LINE_WORDS = 3  # c4_line_trim: words a kept line needs
C4_MIN_KEPT_LINES = 3  # c4_line_trim: kept lines a page needs


def c4_line_trim(df, text_col: str = "text"):
    """C4's LINE-level cleaning (Raffel et al. 2020 §2.2) — the step
    the doc-level gate above deliberately does not do: instead of
    dropping a whole page for bad lines, TRIM the lines and keep the
    page if enough survive. Kept line = ends in a terminal punctuation
    mark (``. ! ? "``), has >= ``C4_MIN_LINE_WORDS`` whitespace words,
    and does not mention "javascript" (case-insensitive). Doc-level
    ``c4_keep`` = >= ``C4_MIN_KEPT_LINES`` lines survive AND the original
    page has no "lorem ipsum" and no ``{`` (C4 drops both outright; our
    kept-line floor stands in for C4's >=3-sentence rule).

    Pure JVM column expressions (split -> higher-order filter ->
    array_join): a narrow map over the corpus, no shuffle, no UDF —
    the same envelope as the fused quality stage, so it composes
    before the Arrow hop at any scale. Whitespace inside a line is the
    pinned RE2 class minus newline (``[\\t\\f\\r ]``), matching the
    repo-wide tokenization contract (tests/test_ws_parity.py).

    Adds: ``c4_text`` (kept lines re-joined with \\n),
    ``c4_lines_kept``, ``c4_lines_dropped``, ``c4_keep``.
    """
    # \r?\n, not \n (ADVICE r6): F.trim strips only spaces, so a CRLF
    # page's '.\r' line would pass Java's $ (which matches before a
    # final line terminator) but fail the DuckDB twin's RE2 $, and the
    # stray \r would survive into c4_text, breaking digest parity.
    lines = F.split(F.col(text_col), "\r?\n")

    def _keep(ln: Column) -> Column:
        t = F.trim(ln)
        return (
            t.rlike('[.!?"]$')
            & (F.size(F.split(t, "[\\t\\f\\r ]+")) >= C4_MIN_LINE_WORDS)
            & ~F.lower(ln).contains("javascript")
        )

    kept = F.filter(lines, _keep)
    return (
        df.withColumn("c4_text", F.array_join(kept, "\n"))
        .withColumn("c4_lines_kept", F.size(kept))
        .withColumn("c4_lines_dropped", F.size(lines) - F.size(kept))
        .withColumn(
            "c4_keep",
            (F.size(kept) >= C4_MIN_KEPT_LINES)
            & ~F.lower(F.col(text_col)).contains("lorem ipsum")
            & ~F.col(text_col).contains("{"),
        )
    )
