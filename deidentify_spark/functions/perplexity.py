"""Hash-based word-bigram perplexity scorer.

A public-knowledge stand-in for a KenLM-style LM (none is installable
here): word unigram/bigram counts from the authored English training text
are hashed into fixed-size numpy count tables at first use; a document's
perplexity is exp(mean over bigrams of -log P(w2|w1)) with add-alpha
smoothing. Deterministic (crc32 word hashing), vectorized per document,
no per-row Python on the Spark side beyond the per-doc numpy loop inside
the Arrow batch.

Clean English scores low (single digits to tens); gibberish scores
hundreds+ — the pipeline threshold sits between with a wide margin
(calibrated in tests/test_functions.py).
"""

from __future__ import annotations

import re
from zlib import crc32

import numpy as np

from deidentify_spark.functions.words import MEMO_MAX, Memo, split_words

_DIM = 1 << 18
_MASK = _DIM - 1
_ALPHA = 0.001
_VOCAB = 50_000.0  # smoothing denominator constant (alpha*V = 50)
# stdlib re, not the regex module: the pattern is plain ASCII (identical
# match semantics in both engines — pinned by test_perplexity_word_re_
# engines_agree) and stdlib findall scans ~2x faster.
_WORD_RE = re.compile(r"[a-z']+")

_TABLES: tuple[np.ndarray, np.ndarray] | None = None


def _word_crcs(word: str) -> bytes:
    crcs = [crc32(t.encode()) for t in _WORD_RE.findall(word.lower())]
    return np.array(crcs, dtype=np.uint64).tobytes()


# Per whitespace word, the crc32s of its ``[a-z']+`` tokens as packed
# uint64s, so a doc's hashes are one ``b"".join`` of its words' values.
# Web text repeats words heavily (Zipf), so the lower+findall+encode+crc
# per occurrence is mostly redundant. A token never spans whitespace and
# lowering never makes or removes whitespace, so the tokens of
# ``text.lower()`` are those of its words in order, and the joined
# values are exactly the crc32s the whole-text scan gives. Cleared at
# MEMO_MAX entries.
_WORD_CRCS = Memo(_word_crcs)


def _word_hashes(text: str) -> np.ndarray:
    if len(_WORD_CRCS) > MEMO_MAX:
        _WORD_CRCS.clear()
    packed = b"".join(map(_WORD_CRCS.__getitem__, split_words(text)))
    return np.frombuffer(packed, dtype=np.uint64)


def _get_tables() -> tuple[np.ndarray, np.ndarray]:
    global _TABLES
    if _TABLES is None:
        from deidentify_spark.sources.textpools import (
            GEN_SENTENCES,
            LANGID_TRAINING,
            PERPLEXITY_TRAINING,
        )

        uni = np.zeros(_DIM, dtype=np.float64)
        bi = np.zeros(_DIM, dtype=np.float64)
        # The background corpus must cover the clean-English domain (a
        # production KenLM is trained on a web-scale corpus); here that
        # means the authored English pools including the generator's.
        corpus = " ".join(
            [LANGID_TRAINING["en"], PERPLEXITY_TRAINING, *GEN_SENTENCES["en"]]
        )
        h = _word_hashes(corpus)
        np.add.at(uni, (h & _MASK).astype(np.int64), 1.0)
        if h.size >= 2:
            hb = ((h[:-1] * np.uint64(1000003)) ^ h[1:]) & _MASK
            np.add.at(bi, hb.astype(np.int64), 1.0)
        _TABLES = (uni, bi)
    return _TABLES


def perplexity(text: str) -> float:
    """Perplexity of one document under the bigram LM."""
    return perplexity_with_tables(text, *_get_tables())


def perplexity_with_tables(
    text: str, uni: np.ndarray, bi: np.ndarray
) -> float:
    """``perplexity`` against CALLER-supplied count tables (the
    in-engine-trained LM path; the module-level function scores against
    the built-in authored-corpus tables)."""
    h = _word_hashes(text)
    if h.size < 2:
        return float("inf")
    hb = ((h[:-1] * np.uint64(1000003)) ^ h[1:]) & _MASK
    c_bi = bi[hb.astype(np.int64)]
    c_uni = uni[(h[:-1] & _MASK).astype(np.int64)]
    logp = np.log((c_bi + _ALPHA) / (c_uni + _ALPHA * _VOCAB))
    return float(np.exp(-logp.mean()))


def lm_train_tables(df, text_col: str = "text"):
    """TRAIN the hashed bigram LM in-engine over an arbitrary corpus
    DataFrame — the CCNet posture (fit the quality LM on a curated seed
    corpus, score the crawl with it) next to the built-in
    authored-corpus tables. Returns the same (uni, bi) float64 count
    arrays ``perplexity`` uses; training on a single doc holding the
    authored corpus string reproduces ``_get_tables()`` BIT-FOR-BIT
    (integer counts, pinned by test) — the tokenizer (lower +
    ``[a-z']+``), crc32 word hash, and bigram mix hash are evaluated
    JVM-side with identical semantics (Spark's crc32 is the same
    CRC-32; h*1000003 < 2^52 so the arithmetic never overflows and
    signed/unsigned agree exactly).

    Scale shape: per-doc hash arrays are materialized behind ONE
    Generate barrier (the no-CSE-in-HOF hazard — an inlined hash array
    would re-run the regex extraction per bigram), then a single
    exploded (kind, slot) stream feeds a map-side-combined
    groupBy(kind, slot).count() — hot slots ("the") are absorbed by
    partial aggregation, and the driver collect is bounded by the
    table size (<= 2 x 2^18 nonzero slots), independent of corpus
    size. Per-doc bigrams only — no cross-document bigram is counted
    (train on one concatenated doc to reproduce the corpus-string
    semantics of the built-in tables).
    """
    from pyspark.sql import functions as F

    h = F.transform(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z']+"), F.lit(0)
        ),
        lambda w: F.crc32(F.encode(w, "UTF-8")),
    )
    bar = df.select(
        F.explode(F.array(F.struct(h.alias("_h")))).alias("_s")
    ).select(F.col("_s._h").alias("_h"))
    n = F.size("_h")
    # Round-7: ONE scalar explode over the index range [0, n + n_bi)
    # — index i < n is unigram slot _h[i] & MASK, index i >= n is
    # bigram slot (_h[i-n]*1000003 ^ _h[i-n+1]) & MASK — replacing the
    # four chained transform(lambda) array builds (uni slots, bi
    # slots, two struct-tagging passes): higher-order functions are
    # CodegenFallback, so every slot evaluated interpreted (see
    # classifier._features for the measured CPU delta of the same
    # rewrite). The single crc32 transform building _h stays — the
    # adjacent-word gathers below need the bound array. Same (k, slot)
    # multiset; n = 0 (no [a-z']+ match) emits nothing via the
    # n_slots >= 1 guard exactly as the old concat-of-empties did.
    n_slots = n + F.when(n >= 2, n - 1).otherwise(0)
    idx = F.when(
        n_slots >= 1, F.sequence(F.lit(0), n_slots - 1)
    ).otherwise(F.array().cast("array<int>"))
    gi = F.col("_i")
    kind = (gi >= n).cast("int")
    slot = F.when(
        gi < n, F.element_at("_h", gi + 1).bitwiseAND(F.lit(int(_MASK)))
    ).otherwise(
        (F.element_at("_h", gi - n + 1) * F.lit(1000003))
        .bitwiseXOR(F.element_at("_h", gi - n + 2))
        .bitwiseAND(F.lit(int(_MASK)))
    )
    counts = (
        bar.select("_h", F.explode(idx).alias("_i"))
        .select(kind.alias("k"), slot.alias("slot"))
        .groupBy("k", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    uni = np.zeros(_DIM, dtype=np.float64)
    bi = np.zeros(_DIM, dtype=np.float64)
    for r in counts:
        (uni if r.k == 0 else bi)[r.slot] = float(r.c)
    return uni, bi
