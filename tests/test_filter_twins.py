"""The filter stages' per-word memos and uint16 langid hashing against
plain reference twins (no Spark needed).

``quality_pre_reason_py``, ``top_2gram_frac`` and ``_word_hashes`` read
per-word facts from memos over one shared ``text.split()``; the twins
below are the plain per-word loops they replaced. ``_ngram_hashes`` and
``_gram4_hashes`` hash in uint16 lanes; the twins hash in uint64 and
keep the low 15 bits.
"""

import re
import sys
from collections import Counter
from zlib import crc32

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from deidentify_spark.functions import fused, langid, perplexity, quality
from deidentify_spark.functions.quality import QualityConfig
from deidentify_spark.sources.pages import make_doc

CFG = QualityConfig()
# any word count, no line rules: random text reaches the per-word rules
LOOSE = QualityConfig(
    min_words=1,
    max_words=10**6,
    min_mean_word_length=0.0,
    max_mean_word_length=1e9,
    max_symbol_word_ratio=1e9,
    max_bullet_line_frac=2.0,
    max_ellipsis_line_frac=2.0,
    min_alpha_word_frac=0.5,
    stopwords=("the", "to", "st", "i̇"),
)

# Every character str.split() splits on, and letters whose lowercase
# depends on context or changes length (final sigma, dotted I, Kelvin,
# long s, sharp s).
WHITESPACE = "".join(chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace())
_ALPHABET = WHITESPACE + "aBz'0-#.…•*İıKſΣσςßΑΒé漢"
texts = st.text(alphabet=_ALPHABET, max_size=200)


def test_whitespace_alphabet_is_complete():
    assert len(WHITESPACE) == 29
    assert all(ch in WHITESPACE for ch in "\x1c\x1d\x1e\x1f\x85\xa0 　")
    assert all(f"a{ch}b".split() == ["a", "b"] for ch in WHITESPACE)


@settings(max_examples=500, deadline=None)
@given(texts)
@example("ΑΣ\x1cΒ")
@example("ΑΣ\x85Σ ΑΣΑ")
@example("İstanbul　DON'T ſt")
def test_per_word_equivalences(text):
    words = text.split()
    assert text.lower().split() == [w.lower() for w in words]
    word_re = perplexity._WORD_RE
    assert word_re.findall(text.lower()) == [
        tok for w in words for tok in word_re.findall(w.lower())
    ]


# --- twins: the per-word loops the memos replaced ---------------------


def pre_twin(text, cfg):
    words = text.split()
    n_words = len(words)
    if n_words < cfg.min_words:
        return "too_few_words"
    if n_words > cfg.max_words:
        return "too_many_words"
    mean_len = sum(len(w) for w in words) / n_words
    if mean_len < cfg.min_mean_word_length or mean_len > cfg.max_mean_word_length:
        return "mean_word_length"
    symbols = text.count("#") + text.count("...") + text.count("…")
    if symbols / n_words > cfg.max_symbol_word_ratio:
        return "symbol_ratio"
    lines = [ln for ln in text.split("\n") if ln.strip()]
    n_lines = max(len(lines), 1)
    bullets = sum(1 for ln in lines if ln.strip().startswith(("-", "•", "*")))
    if bullets / n_lines > cfg.max_bullet_line_frac:
        return "bullet_lines"
    ellipsis_ends = sum(1 for ln in lines if ln.strip().endswith(("...", "…")))
    if ellipsis_ends / n_lines > cfg.max_ellipsis_line_frac:
        return "ellipsis_lines"
    stop = set(cfg.stopwords)
    alpha_words = stop_count = 0
    for w in words:
        alpha_words += any(c.isalpha() for c in w)
        stop_count += w.lower().strip("\"'.,;:!?()[]{}<>-_#") in stop
    if alpha_words / n_words < cfg.min_alpha_word_frac:
        return "alpha_ratio"
    if stop_count < cfg.min_stopword_count:
        return "few_stopwords"
    if len(lines) > 0 and 1.0 - len(set(lines)) / n_lines > cfg.max_dup_line_frac:
        return "duplicate_lines"
    return None


def top2_twin(text):
    words = text.lower().split()
    if len(words) < 2:
        return 0.0
    grams = Counter(zip(words, words[1:]))
    return max(grams.values()) / (len(words) - 1)


def word_hashes_twin(text):
    words = re.findall(r"[a-z']+", text.lower())
    return np.array([crc32(w.encode()) for w in words], dtype=np.uint64)


def _check_twins(text):
    assert quality.quality_pre_reason_py(text, CFG) == pre_twin(text, CFG)
    assert quality.quality_pre_reason_py(text, LOOSE) == pre_twin(text, LOOSE)
    assert fused.top_2gram_frac(text) == top2_twin(text)
    got = perplexity._word_hashes(text)
    assert got.dtype == np.uint64
    assert np.array_equal(got, word_hashes_twin(text))


DOCS = [make_doc(13, i, CFG, include_html=False)["text"] for i in range(300)]
EDGE = [
    "",
    " ",
    "one",
    "The the THE tHe",
    "a b a b a b",
    "ΟΔΟΣ ΟΔΟΣ\x1cΟΔΟΣ\x85οδος",
    "İ i̇ I ı　K k ſ s",
    "- one\n- two\n...\n\n  * three…",
    "don't DON'T 'tis o'neil",
    "the to " + "a " * 70_000,
]


def test_stages_match_twins_on_docs():
    for text in DOCS + EDGE:
        _check_twins(text)


@pytest.fixture
def tiny_memos(monkeypatch):
    """Bound every per-word memo at 3 entries, so they are cleared
    between most docs."""
    for mod in (quality, fused, perplexity):
        monkeypatch.setattr(mod, "MEMO_MAX", 3)


def test_stages_match_twins_with_memos_cleared(tiny_memos):
    for text in DOCS[:60] + EDGE:
        _check_twins(text)
        distinct = len(set(text.split()))
        assert len(perplexity._WORD_CRCS) <= 3 + distinct
        if distinct >= 2:
            assert len(fused._LOWER_ID) <= len(fused._WORD_ID) <= 3 + distinct


@settings(max_examples=400, deadline=None)
@given(texts)
def test_stages_match_twins_random(text):
    _check_twins(text)


@settings(max_examples=200, deadline=None)
@given(st.lists(texts, min_size=2, max_size=6))
def test_stages_match_twins_random_cleared(docs):
    mp = pytest.MonkeyPatch()
    try:
        for mod in (quality, fused, perplexity):
            mp.setattr(mod, "MEMO_MAX", 2)
        for text in docs:
            _check_twins(text)
    finally:
        mp.undo()


# --- langid: uint16 lanes against the uint64 hash -----------------------

_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xC2B2AE3D27D4EB4F)


def ngram_hashes_u64(c):
    c = c.astype(np.uint64)
    parts = [(c * _M1) & langid._MASK]
    if c.size >= 2:
        parts.append((c[:-1] * _M1 + c[1:] * _M2) & langid._MASK)
    if c.size >= 3:
        parts.append(((c[:-2] * _M1 + c[1:-1] * _M2) * _M1 + c[2:]) & langid._MASK)
    return np.concatenate(parts)


def gram4_hashes_u64(c):
    c = c.astype(np.uint64)
    if c.size < 4:
        return np.empty(0, dtype=np.uint64)
    return (
        (((c[:-3] * _M1 + c[1:-2] * _M2) * _M1 + c[2:-1]) * _M2) + c[3:] * _M1
    ) & langid._MASK


def test_uint16_multipliers_are_the_low_bits():
    assert int(langid._M1) == int(_M1) & 0xFFFF
    assert int(langid._M2) == int(_M2) & 0xFFFF


def test_ngram_hashes_match_uint64_over_all_code_points():
    every = np.arange(sys.maxunicode + 1, dtype=np.uint32)
    rng = np.random.default_rng(0)
    for c in (every, rng.permutation(every), every[::-1].copy()):
        got = langid._ngram_hashes(c)
        assert got.dtype == np.uint16
        assert np.array_equal(got, ngram_hashes_u64(c))
        assert np.array_equal(langid._gram4_hashes(c), gram4_hashes_u64(c))
    for n in range(6):  # the short-array branches
        c = rng.integers(0, sys.maxunicode + 1, n).astype(np.uint32)
        assert np.array_equal(langid._ngram_hashes(c), ngram_hashes_u64(c))
        assert np.array_equal(langid._gram4_hashes(c), gram4_hashes_u64(c))


def test_codepoints_keep_full_width():
    c = langid._codepoints("aЖ\U0001F600\U0010FFFF")
    assert c.dtype == np.uint32
    assert c.tolist() == [0x61, 0x416, 0x1F600, 0x10FFFF]


def test_models_bit_equal_to_uint64_fit():
    mat, langs = langid._get_model()
    ref = langid._fit_centroids(ngram_hashes_u64)
    assert langs == sorted(ref)
    assert np.array_equal(mat, np.stack([ref[lang] for lang in langs]))
    ref4 = langid._fit_centroids(gram4_hashes_u64)
    got4 = langid._get_model4()
    assert got4.keys() == ref4.keys()
    assert all(np.array_equal(got4[k], ref4[k]) for k in ref4)


def test_bucket_rows_gather_is_the_fancy_index():
    """predict_batch gathers centroid weights from the transposed model;
    the gathered block must match ``mat[:, idx]`` in values and strides,
    so the matvec sums in the same order."""
    mat, _ = langid._get_model()
    rows = langid._bucket_rows()
    rng = np.random.default_rng(1)
    for k in (1, 2, 9, 700, 5000):
        idx = np.unique(rng.integers(0, langid._DIM, k))
        got, want = rows.take(idx, axis=0).T, mat[:, idx]
        assert got.strides == want.strides
        assert np.array_equal(got, want)
        v = rng.random(idx.size).astype(np.float32)
        assert np.array_equal(got @ v, want @ v)
