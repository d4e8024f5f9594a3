"""fastText-style language identification, from scratch.

The fasttext library is not available in this environment, so this module
implements the same public technique (Joulin et al. 2016: hashed character
n-gram features into a linear classifier) as a deterministic
centroid/nearest-class-mean model over hashed char 1-3-gram counts:

* featurize: codepoints -> hashed 1/2/3-gram counts into a 2^15 bucket
  vector (numpy, vectorized — no per-character Python), L2-normalized.
  The hashes are computed in uint16 lanes: the low k bits of a sum or
  product mod 2^n depend only on the operands' low k bits, and a bucket
  id keeps only the low 15, so truncating the code points and the
  multipliers to 16 bits gives the bucket ids of the 64-bit hash.
* train: class centroid = normalized mean feature vector of the authored
  per-language training text (sources/textpools.LANGID_TRAINING) —
  fitted once per process at first use, deterministic (no RNG anywhere).
* predict: cosine score against each centroid; confidence = softmax over
  scores with a fixed temperature.

Languages whose script is unique among the supported set (zh/ar/ko/hi/
el/he/th, plus the ja/zh Han split) are decided by a Unicode-block gate
ahead of the model — see _script_gate below. The Spark surface is an
Arrow pandas UDF returning struct<lang_pred:string, lang_conf:double>.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

_DIM = 1 << 15
_MASK = _DIM - 1
# Multipliers for the rolling n-gram hash (odd constants, deterministic),
# kept to the 16 bits the uint16 lanes use (of 0x9E3779B97F4A7C15 and
# 0xC2B2AE3D27D4EB4F).
_M1 = np.uint16(0x7C15)
_M2 = np.uint16(0xEB4F)
# Re-calibrated 24 -> 36 when LANGID_TRAINING_EXTRA widened the pools:
# register supplements are parallel translations, which pull class
# centroids closer together and flatten the softmax (clean-English min
# conf measured 0.47 -> 0.33 at temp 24, under the 0.35 pipeline gate);
# 36 restores the original confidence scale (clean min ~0.45) without
# touching argmax decisions.
_SOFTMAX_TEMP = 36.0
# Language ID needs only a prefix: char-n-gram stats converge within a
# couple KB (fastText/CLD cap similarly). Bounds per-doc cost on huge
# pages — featurization is O(len) and a 500 KB page would otherwise cost
# 250x a normal doc in the gate stage.
_MAX_CHARS = 4096

_MODEL: tuple[np.ndarray, list[str]] | None = None
_ROWS: np.ndarray | None = None

# Close-pair tie-break (round 4): 1-3-gram centroids genuinely struggle
# on de/nl and es/pt at short lengths — the one remaining stress miss
# was a 7-word de sentence scored 0.0125 under nl. A 4-gram-only
# re-score separates these pairs cleanly (measured 30/30 on every
# close-pair stress case, clean and hard), so when the top-2 classes
# form a close pair AND the cosine margin is inside _PAIR_MARGIN, the
# 4-gram scorer decides between just those two. Margin-gated to keep
# the blast radius tiny: generator-domain argmax changes re-measured at
# 0 of 6,000 docs (BASELINE.md round-4 notes), goldens untouched.
_CLOSE_PAIRS = (("de", "nl"), ("es", "pt"))
_PAIR_MARGIN = 0.05
_MODEL4: dict[str, np.ndarray] | None = None

# Out-of-set rejection (round 5): a Latin-script language outside the
# supported set (fi/tr/vi/sv/pl/...) otherwise snaps to the nearest
# in-set centroid — measured worst case: Vietnamese scored en at conf
# 0.556, sailing over the 0.35 pipeline gate into the "English" corpus.
# Rejection is a 3-signal AND, applied only to UNCERTAIN docs (top
# cosine below _UNK_COS13_GATE — calibrated: stress-clean min 0.838,
# out-of-set max 0.791, generator-domain docs are all above the gate so
# the hot path pays nothing):
#   * max 4-gram cosine over ALL class centroids < _UNK_COS4_FLOOR
#     (calibrated: out-of-set max 0.078, in-set stress min 0.096 for
#     Latin preds; the 4-gram space is where loan-letter overlap dies),
#   * training-vocab coverage of the predicted language <
#     _UNK_COV_FLOOR (out-of-set max 0.048 among cos4-rejected cases;
#     in-set borderline short texts sit at 0.11+ or fail _UNK_MIN_WORDS),
#   * at least _UNK_MIN_WORDS words (no rejection on 8-word snippets —
#     "va bene, grazie mille..." legitimately has cos4 0.04/cov 0.0).
# Only Latin-script predictions are eligible: ru (Cyrillic 4-grams are
# morphology-sparse, cos4 0.076 on clean prose) and the script-gated
# languages have different evidence spaces and never reject. Label is
# "und" (ISO 639-3 undetermined) — the module's existing out-label for
# empty text; confidence is kept so downstream gates still see it.
_UNKNOWN_ELIGIBLE = frozenset({"de", "en", "es", "fr", "it", "nl", "pt"})
_UNK_COS13_GATE = 0.82
_UNK_COS4_FLOOR = 0.09
_UNK_COV_FLOOR = 0.10
_UNK_MIN_WORDS = 10
_VOCAB: dict[str, frozenset[str]] | None = None


def _codepoints(s: str) -> np.ndarray:
    """Full uint32 code points (``_script_gate`` reads them whole)."""
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def _ngram_hashes(c: np.ndarray) -> np.ndarray:
    """Hashed char 1/2/3-gram bucket ids (uint16) for a code point array:
    unigrams, then bigrams, then trigrams. THE shared hashing between
    centroid training (featurize) and document scoring (predict_batch's
    _sparse_hist); they must stay hash-identical or cosine scores
    silently lose meaning, so the mixing lives in exactly one place.

    Each id is the low 15 bits of ``c0*M1``, ``c0*M1 + c1*M2`` or
    ``(c0*M1 + c1*M2)*M1 + c2`` mod 2^64. Those bits depend only on the
    operands' low 16 bits, so the whole computation runs in uint16
    lanes (wrapping mod 2^16) on the truncated code points: the same
    ids as the 64-bit hash, at a quarter of the memory traffic. A
    trigram reuses its bigram's unmasked sum."""
    c = c.astype(np.uint16)
    n = c.size
    out = np.empty(max(3 * n - 3, n), dtype=np.uint16)
    np.multiply(c, _M1, out=out[:n])
    if n >= 2:
        bi = out[n : 2 * n - 1]
        np.multiply(c[1:], _M2, out=bi)
        bi += out[: n - 1]
        if n >= 3:
            tri = out[2 * n - 1 :]
            np.multiply(bi[:-1], _M1, out=tri)
            tri += c[2:]
    out &= np.uint16(_MASK)
    return out


def _sparse_hist(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sorted unique bucket ids as int64, float32 counts): the lean
    inline form of ``np.unique(h, return_counts=True)``, with identical
    values and order (sort, then run boundaries, then run lengths, as
    _unique1d does) but without its ~35 µs/call of keyword plumbing.
    Bucket ids are < 2^15 and _ngram_hashes hands them over as uint16,
    where a stable sort is numpy's radix sort (14 µs/doc against 35 for
    the default introsort on web_mix docs). The boundary mask
    carries a sentinel at both ends, so one ``nonzero`` gives both the
    run starts and, by difference, the run lengths."""
    if h.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    hs = np.sort(h.astype(np.uint16, copy=False), kind="stable")
    edge = np.empty(hs.size + 1, dtype=bool)
    edge[0] = edge[-1] = True
    np.not_equal(hs[1:], hs[:-1], out=edge[1:-1])
    pos = edge.nonzero()[0]
    cnt = np.subtract(pos[1:], pos[:-1], dtype=np.float32)
    return hs[pos[:-1]].astype(np.int64), cnt


def featurize(s: str, hashes=_ngram_hashes) -> np.ndarray:
    """Hashed char-gram count vector, L2-normalized (float32): 1/2/3-grams
    by default, or the bucket ids ``hashes`` gives for the codepoints."""
    idx = hashes(_codepoints(s.lower())).astype(np.int64)
    # single bincount over all n-gram hashes (~5x faster than np.add.at)
    vec = np.bincount(idx, minlength=_DIM).astype(np.float32)
    norm = np.linalg.norm(vec)
    return vec / norm if norm > 0 else vec


def _training_texts(lang: str) -> list[str]:
    """The authored training pool of ``lang``: the narrative base text
    plus each register supplement."""
    from deidentify_spark.sources.textpools import (
        LANGID_TRAINING,
        LANGID_TRAINING_EXTRA,
    )

    return [LANGID_TRAINING[lang]] + list(LANGID_TRAINING_EXTRA.get(lang, []))


def _fit_centroids(hashes) -> dict[str, np.ndarray]:
    """Unit centroid per supported language in the feature space of
    ``hashes``: the mean of per-TEXT normalized feature vectors
    (narrative base + each register supplement weighs equally —
    concatenating instead would let the long narrative drown the short
    legal/tech/conversational texts), then re-normalized."""
    from deidentify_spark.sources.textpools import LANGID_TRAINING

    cents: dict[str, np.ndarray] = {}
    for lang in sorted(LANGID_TRAINING):
        m = np.mean([featurize(t, hashes) for t in _training_texts(lang)], axis=0)
        cents[lang] = m / (np.linalg.norm(m) or 1.0)
    return cents


def _get_model() -> tuple[np.ndarray, list[str]]:
    """Centroid matrix (n_langs x DIM) + language labels, fitted lazily."""
    global _MODEL
    if _MODEL is None:
        cents = _fit_centroids(_ngram_hashes)
        langs = sorted(cents)
        _MODEL = (np.stack([cents[lang] for lang in langs]), langs)
    return _MODEL


def _bucket_rows() -> np.ndarray:
    """The centroid matrix transposed into C order (DIM x n_langs), so a
    doc's buckets gather as contiguous rows. ``rows.take(idx, axis=0).T``
    equals ``mat[:, idx]`` value for value and stride for stride (numpy
    lays that fancy index out F-contiguous), so the scoring matvec runs
    the same BLAS path and sums in the same order, for ~4x less gather
    time."""
    global _ROWS
    if _ROWS is None:
        _ROWS = np.ascontiguousarray(_get_model()[0].T)
    return _ROWS


def _gram4_hashes(c: np.ndarray) -> np.ndarray:
    """Hashed char 4-gram bucket ids (same multiplier scheme and uint16
    lanes as _ngram_hashes; separate feature space used only by the
    close-pair tie-break and the out-of-set check)."""
    if c.size < 4:
        return np.empty(0, dtype=np.uint16)
    c = c.astype(np.uint16)
    return ((((c[:-3] * _M1 + c[1:-2] * _M2) * _M1 + c[2:-1]) * _M2)
            + c[3:] * _M1) & np.uint16(_MASK)


def _get_model4() -> dict[str, np.ndarray]:
    """4-gram centroids for ALL supported languages, fitted lazily with
    the same per-text-mean weighting as the main model. Consumers: the
    close-pair tie-break (two lookups) and the out-of-set rejection
    (max over all centroids)."""
    global _MODEL4
    if _MODEL4 is None:
        _MODEL4 = _fit_centroids(_gram4_hashes)
    return _MODEL4


def _get_vocab() -> dict[str, frozenset[str]]:
    """Per-language training-pool word sets (lowercased), fitted lazily.
    Used only by the out-of-set rejection's coverage signal."""
    global _VOCAB
    if _VOCAB is None:
        import re

        from deidentify_spark.sources.textpools import LANGID_TRAINING

        word = re.compile(r"[^\W\d_]+", re.UNICODE)
        _VOCAB = {
            lang: frozenset(
                w.lower() for t in _training_texts(lang) for w in word.findall(t)
            )
            for lang in LANGID_TRAINING
        }
    return _VOCAB


def _looks_out_of_set(text: str, pred: str) -> bool:
    """3-signal out-of-set check for an uncertain Latin-script
    prediction — see the _UNK_* calibration notes above. Runs only on
    the rare below-gate rows, never the hot path."""
    import re

    snippet = text[:_MAX_CHARS]
    # Orthography prerequisite: real out-of-set Latin prose carries
    # non-ASCII letters (fi ä/ö, tr ı/ş/ç/ğ, vi diacritics, sv å/ä/ö,
    # pl ł/ż/ś — every fixture case does); pure-ASCII text is never
    # rejected. This is what keeps ASCII keyword-soup / technical filler
    # at its weak in-set label (measured: without it, 50 of 500 driver
    # sf0.01 docs — TPC-H keyword strings — flipped to 'und', some from
    # en@0.46, changing keep/drop on that corpus; with it, 0 flips).
    if snippet.isascii():  # C-speed common case: no ord>127 char at all
        return False
    if not any(ch.isalpha() and ord(ch) > 127 for ch in snippet):
        return False
    words = re.findall(r"[^\W\d_]+", snippet, re.UNICODE)
    if len(words) < _UNK_MIN_WORDS:
        return False
    vocab = _get_vocab().get(pred)
    if vocab is None:
        return False
    cov = sum(w.lower() in vocab for w in words) / len(words)
    if cov >= _UNK_COV_FLOOR:
        return False
    cents = _get_model4()
    vec = _gram4_unit_vector(text)
    if vec is None:
        return False
    idx, cnt = vec
    cos4 = max(float(v[idx] @ cnt) for v in cents.values())
    return cos4 < _UNK_COS4_FLOOR


def _gram4_unit_vector(text: str) -> tuple[np.ndarray, np.ndarray] | None:
    """(bucket indices, L2-normalised counts) of the hashed 4-grams of
    the lowercased snippet — the sparse query side of a cosine against
    the 4-gram centroids; None when the text has no 4-grams."""
    c = _codepoints(text[:_MAX_CHARS].lower())
    idx, cnt = np.unique(_gram4_hashes(c), return_counts=True)
    if idx.size == 0:
        return None
    idx = idx.astype(np.int64)
    cnt = cnt.astype(np.float32)
    cnt /= np.sqrt((cnt * cnt).sum())
    return idx, cnt


def _rescore_close_pair(text: str, a: str, b: str) -> str | None:
    """4-gram cosine vote between the two close-pair languages; None
    when the text has no 4-grams (defer to the main model)."""
    cents = _get_model4()
    vec = _gram4_unit_vector(text)
    if vec is None:
        return None
    idx, cnt = vec
    return a if cents[a][idx] @ cnt >= cents[b][idx] @ cnt else b


def _sparse_counts(s: str) -> tuple[np.ndarray, np.ndarray]:
    """(bucket indices, counts) of the hashed n-grams — sparse form."""
    c = _codepoints(s[:_MAX_CHARS].lower())
    if c.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    idx, cnt = np.unique(_ngram_hashes(c), return_counts=True)
    return idx.astype(np.int64), cnt.astype(np.float32)


# --------------------------------------------------------------------------
# Script gate: languages whose writing system is unique among the
# supported set are decided by Unicode-block statistics BEFORE the n-gram
# model — the standard CLD-style shortcut, and the only sound way to
# support them here at all (the centroid model is trained on Latin/
# Cyrillic/Japanese pools; a zh/ar/ko/hi doc would otherwise be scored
# against centroids that have never seen its codepoints). Han-script text
# splits ja/zh by kana presence; Cyrillic stays in the model (ru is not
# the only Cyrillic language, so script alone must not decide it).
# Vectorized per doc: a handful of range comparisons on the already-
# truncated codepoint array, cheaper than one n-gram hash pass.

# (lang, [(lo, hi), ...]) — codepoint ranges, inclusive.
_SCRIPT_RANGES: list[tuple[str, list[tuple[int, int]]]] = [
    ("hani", [(0x4E00, 0x9FFF), (0x3400, 0x4DBF)]),  # Han: ja/zh, split below
    ("kana", [(0x3040, 0x309F), (0x30A0, 0x30FF)]),  # hiragana + katakana
    ("ko", [(0xAC00, 0xD7AF), (0x1100, 0x11FF), (0x3130, 0x318F)]),
    ("ar", [(0x0600, 0x06FF), (0x0750, 0x077F), (0x08A0, 0x08FF)]),
    ("hi", [(0x0900, 0x097F)]),  # Devanagari (hi is the supported rep)
    ("el", [(0x0370, 0x03FF), (0x1F00, 0x1FFF)]),
    ("he", [(0x0590, 0x05FF)]),
    ("th", [(0x0E00, 0x0E7F)]),
]
# Letters the n-gram model's training covers (denominator of the script
# fraction): Latin + extensions, Cyrillic.
_MODEL_LETTER_RANGES = [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F), (0x400, 0x4FF)]
_SCRIPT_MIN_FRAC = 0.5
# Japanese prose is ~25-40% kana; Chinese text has essentially none (the
# odd loanword aside). 5% of Han+kana letters is a wide margin both ways.
_KANA_MIN_FRAC = 0.05


def _in_ranges(c: np.ndarray, ranges: list[tuple[int, int]]) -> np.ndarray:
    m = np.zeros(c.shape, dtype=bool)
    for lo, hi in ranges:
        m |= (c >= lo) & (c <= hi)
    return m


_MIN_GATE_CP = 0x370  # lowest codepoint of any gate script (Greek)


def _script_gate(c: np.ndarray) -> tuple[str, float] | None:
    """(lang, conf) when a unique-script language dominates the letters;
    None -> defer to the n-gram centroid model."""
    # one-pass pre-check: a doc whose max codepoint is below every gate
    # script can only return None — skip the ~17 range scans. This is
    # the common case (all Latin-script languages), and without it the
    # gate cost ~15% of END-TO-END pipeline throughput (measured: the
    # gate did more array passes than the n-gram featurizer it guards).
    if c.size == 0 or int(c.max()) < _MIN_GATE_CP:
        return None
    counts = {name: int(_in_ranges(c, r).sum()) for name, r in _SCRIPT_RANGES}
    script_total = sum(counts.values())
    if script_total == 0:
        return None
    letters = script_total + int(_in_ranges(c, _MODEL_LETTER_RANGES).sum())
    han_kana = counts["hani"] + counts["kana"]
    best_name, best = max(
        (("hani", han_kana), *((k, v) for k, v in counts.items() if k not in ("hani", "kana"))),
        key=lambda kv: kv[1],
    )
    frac = best / letters
    if frac <= _SCRIPT_MIN_FRAC:
        return None
    if best_name == "hani":
        lang = "ja" if counts["kana"] / han_kana > _KANA_MIN_FRAC else "zh"
    else:
        lang = best_name
    return lang, float(frac)


def predict_batch(texts: list[str]) -> tuple[list[str], list[float]]:
    """Predict (lang, confidence) for each text. Pure function.

    Scores via the sparse n-gram form: cosine(centroid, doc) needs only
    the centroid columns at the doc's nonzero buckets — a 9 x k gather +
    tiny matvec instead of a dense 9 x 32768 product, ~10x less work.
    OpenBLAS still fans out threads for it in a process with no BLAS
    thread cap. Spark's Python workers are capped (Spark sets their
    ``OMP_NUM_THREADS`` to ``spark.task.cpus`` unless
    ``spark.executorEnv.OMP_NUM_THREADS`` is set); an in-process caller
    should set ``OMP_NUM_THREADS=1`` before numpy is imported."""
    _, langs = _get_model()
    rows = _bucket_rows()
    n = len(texts)
    scores_all = np.zeros((n, len(langs)), dtype=np.float32)
    valid = np.zeros(n, dtype=bool)
    preds: list[str] = ["und"] * n
    confs: list[float] = [0.0] * n
    for j, t in enumerate(texts):
        if not t:
            continue
        low = t[:_MAX_CHARS].lower()
        c = _codepoints(low)
        if c.size == 0:
            continue
        # ASCII lies below every gate script, so the gate would say None
        gated = None if low.isascii() else _script_gate(c)
        if gated is not None:
            # unique-script language: decided here, never reaches the
            # centroid scoring or the softmax batch below
            preds[j], confs[j] = gated
            continue
        idx, cnt = _sparse_hist(_ngram_hashes(c))
        norm = float(np.sqrt((cnt * cnt).sum()))
        if norm == 0.0:
            continue
        scores_all[j] = rows.take(idx, axis=0).T @ (cnt / norm)
        valid[j] = True
    if valid.any():
        # softmax/argmax batched across docs — row-wise elementwise ops
        # and 9-element reductions, bit-identical to the per-doc form
        # (pinned by test_langid_batched_softmax_bit_identical)
        s = scores_all[valid]
        e = np.exp((s - s.max(axis=1, keepdims=True)) * _SOFTMAX_TEMP)
        p = e / e.sum(axis=1, keepdims=True)
        best = p.argmax(axis=1)
        bconf = p[np.arange(p.shape[0]), best]
        # close-pair tie-break: only rows whose top-2 is a close pair
        # within _PAIR_MARGIN re-score (rare — per-row Python cost is
        # bounded by the margin gate; everything else stays batched)
        order2 = np.argsort(s, axis=1)[:, -2:]
        lang_ix = {l: i for i, l in enumerate(langs)}
        pair_set = {frozenset(pr) for pr in _CLOSE_PAIRS}
        valid_rows = np.flatnonzero(valid)
        for k, j in enumerate(valid_rows):
            preds[j] = langs[int(best[k])]
            confs[j] = float(bconf[k])
            hi, lo = int(order2[k, 1]), int(order2[k, 0])
            if (
                frozenset((langs[hi], langs[lo])) in pair_set
                and s[k, hi] - s[k, lo] < _PAIR_MARGIN
            ):
                win = _rescore_close_pair(texts[j], langs[hi], langs[lo])
                if win is not None and win != preds[j]:
                    preds[j] = win
                    confs[j] = float(p[k, lang_ix[win]])
            # out-of-set rejection: uncertain Latin-script rows only
            # (generator-domain docs all clear the cosine gate, so this
            # per-row Python runs on a vanishing fraction — measured 0
            # argmax changes over the 6k-doc generator corpus)
            if (
                s[k, hi] < _UNK_COS13_GATE
                and preds[j] in _UNKNOWN_ELIGIBLE
                and _looks_out_of_set(texts[j], preds[j])
            ):
                preds[j] = "und"
    return preds, confs


LANGID_SCHEMA = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_conf", DoubleType()),
    ]
)


def langid_udf():
    """Arrow pandas UDF: text -> struct(lang_pred, lang_conf)."""

    @F.pandas_udf(LANGID_SCHEMA)
    def langid(text: pd.Series) -> pd.DataFrame:
        vals = text.fillna("").tolist()
        preds, confs = predict_batch(vals)
        return pd.DataFrame({"lang_pred": preds, "lang_conf": confs})

    return langid
