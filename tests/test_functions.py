"""Calibration tests for the filter-stage models (no Spark needed)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from deidentify_spark.functions.langid import _MASK, _sparse_hist, predict_batch
from deidentify_spark.functions.perplexity import perplexity
from deidentify_spark.functions.quality import QualityConfig
from deidentify_spark.sources.pages import make_doc

CFG = QualityConfig()
DOCS = [make_doc(42, i, CFG) for i in range(2000)]


def test_langid_never_confuses_non_english_for_english():
    non_en = [d for d in DOCS if d["true_lang"] != "en"]
    preds, _ = predict_batch([d["text"] for d in non_en])
    assert all(p != "en" for p in preds)


def test_langid_clean_english_high_confidence():
    clean = [d for d in DOCS if d["expected_drop_reason"] is None]
    preds, confs = predict_batch([d["text"] for d in clean])
    assert all(p == "en" for p in preds)
    assert min(confs) > 0.4  # pipeline gate is 0.35


def test_langid_deterministic():
    texts = [d["text"] for d in DOCS[:50]]
    assert predict_batch(texts) == predict_batch(texts)


def test_perplexity_separates_gibberish():
    clean = [d for d in DOCS if d["expected_drop_reason"] is None]
    gib = [d for d in DOCS if d["expected_drop_reason"] == "high_perplexity"]
    assert gib, "generator must emit gibberish docs"
    p_clean = [perplexity(d["text"]) for d in clean]
    p_gib = [perplexity(d["text"]) for d in gib]
    assert max(p_clean) < 1500 < min(p_gib)
    assert min(p_gib) / max(p_clean) > 10  # wide margin


def test_generator_deterministic_and_pure():
    a = make_doc(42, 123, CFG)
    b = make_doc(42, 123, CFG)
    # skipping the render must change nothing but html itself
    nohtml = make_doc(42, 123, CFG, include_html=False)
    assert nohtml["html"] == b""
    assert {k: v for k, v in nohtml.items() if k != "html"} == {
        k: v for k, v in a.items() if k != "html"
    }
    assert a == b
    c = make_doc(43, 123, CFG)
    assert c["text"] != a["text"]


def test_generator_host_skew():
    hosts = [d["url"].split("//")[1].split(".")[0] for d in DOCS]
    top = max(set(hosts), key=hosts.count)
    # Zipf-ish: the hottest host should carry a large share (salting target)
    assert hosts.count(top) / len(hosts) > 0.2


def test_category_mix_covers_all_reasons():
    reasons = {d["expected_drop_reason"] for d in DOCS}
    assert reasons >= {
        None,
        "non_english",
        "too_few_words",
        "too_many_words",
        "bullet_lines",
        "ellipsis_lines",
        "symbol_ratio",
        "duplicate_lines",
        "top_ngram_repetition",
        "high_perplexity",
        "lorem_ipsum",
        "curly_brace",
        "policy_phrase",
    }


def test_quality_rules_python_matches_column_expressions(spark):
    """The fused UDF's per-doc Python rules must agree with the
    Column-expression implementation (same order, same thresholds)."""
    from pyspark.sql import functions as F

    from deidentify_spark.functions.fused import top_2gram_frac
    from deidentify_spark.functions.quality import (
        quality_drop_reason,
        quality_metrics,
        quality_post_reason_py,
        quality_pre_reason_py,
    )

    texts = [d["text"] for d in DOCS[:400] if d["true_lang"] == "en"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    m = quality_metrics(F.col("text"), CFG)
    col_reason = quality_drop_reason(m, F.lit(None).cast("double"), CFG)
    col_rows = df.select("text", col_reason.alias("r")).collect()

    for row in col_rows:
        pre = quality_pre_reason_py(row.text, CFG)
        py = pre
        if py is None:
            if top_2gram_frac(row.text) > CFG.max_top_2gram_frac:
                py = "top_ngram_repetition"
            else:
                py = quality_post_reason_py(row.text, CFG)
        col = row.r
        # the Column path cannot see top_ngram (masked null here); align
        if col is None and py == "top_ngram_repetition":
            col = "top_ngram_repetition"
        assert py == col, (py, col, row.text[:120])


def test_quality_rules_parity_non_ascii(spark):
    """The Column rules must agree with the Python twin on the unicode
    edge cases that used to diverge: unicode-letter words (isalpha vs
    [A-Za-zÀ-ÿ]), digit-suffixed stopwords ('the5': ends-strip vs
    remove-all-non-letters), NBSP word separators (Python split() vs
    Java ASCII \\s), and custom banned phrases reaching the Column path."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from deidentify_spark.functions.quality import (
        QualityConfig,
        quality_drop_reason,
        quality_metrics,
        quality_post_reason_py,
        quality_pre_reason_py,
    )

    cfg = QualityConfig()
    base = (
        "the quick brown fox jumps over a lazy dog and runs through "
        "one wide field with many other animals to see what is here today "
        "while birds fly over tall trees near an old farm by that river "
    )
    filler = base + base.replace("quick", "small").replace("lazy", "tired")
    texts = [
        # Cyrillic words must count as alpha words (unicode letters)
        filler + " привет мир это тест слова на русском языке здесь",
        # 'the5' etc must NOT be counted as stopwords
        " ".join(["the5 and7 of9 to3 in2 word"] * 8),
        # NBSP separators: same word count both sides
        filler.replace(" ", " ", 10),
        # custom banned phrase must fire on the Column path too
        filler + " special forbidden marker here.",
        filler,  # clean control
    ]
    custom = replace(cfg, banned_phrases=cfg.banned_phrases + ("forbidden marker",))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    m = quality_metrics(F.col("text"), custom)
    col_rows = df.select(
        "text", quality_drop_reason(m, F.lit(None).cast("double"), custom).alias("r")
    ).collect()
    for row in col_rows:
        py = quality_pre_reason_py(row.text, custom)
        if py is None:
            py = quality_post_reason_py(row.text, custom)
        assert py == row.r, (py, row.r, row.text[:80])
    # and the banned phrase actually fired
    by_text = {r.text: r.r for r in col_rows}
    assert by_text[texts[3]] == "policy_phrase"


def test_perplexity_word_re_engines_agree():
    """The perplexity tokenizer pattern [a-z']+ is plain ASCII, so the
    stdlib `re` engine it now uses must tokenize exactly like the `regex`
    module used elsewhere (and like the one it replaced)."""
    import regex as regex_mod

    from deidentify_spark.functions.perplexity import _WORD_RE
    from deidentify_spark.functions.quality import QualityConfig
    from deidentify_spark.sources.pages import make_doc

    twin = regex_mod.compile(r"[a-z']+")
    cfg = QualityConfig()
    cases = [make_doc(7, i, cfg)["text"].lower() for i in range(200)] + [
        "", "a", "'", "don't stop'n go", "naïve café ños", "abc123def",
        "   mixed\tws\n", "ß sharp", "O'NEIL lower o'neil",
    ]
    for t in cases:
        assert _WORD_RE.findall(t) == twin.findall(t), t[:60]


def test_word_flag_cache_pure_and_bounded():
    """The per-word memo behind quality_pre_reason_py caches pure
    per-word predicates only: cached and uncached runs must agree, and
    distinct configs must not share entries."""
    from dataclasses import replace

    from deidentify_spark.functions.quality import (
        QualityConfig,
        _WORD_FLAG_CACHES,
        quality_pre_reason_py,
    )
    from deidentify_spark.sources.pages import make_doc

    cfg = QualityConfig()
    strict = replace(cfg, stopwords=("xyzzy",))
    docs = [make_doc(11, i, cfg)["text"] for i in range(300)]
    _WORD_FLAG_CACHES.clear()
    cold = [quality_pre_reason_py(t, cfg) for t in docs]
    warm = [quality_pre_reason_py(t, cfg) for t in docs]  # cache hits
    assert cold == warm
    # a config with different stopwords gets its own cache and results
    strict_r = [quality_pre_reason_py(t, strict) for t in docs]
    assert any(r == "few_stopwords" for r in strict_r)
    assert set(_WORD_FLAG_CACHES) == {cfg, strict}


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.one_of(st.integers(0, 15), st.integers(0, _MASK)), max_size=500)
)
@example([])
@example([7])
@example([42] * 64)
@example([_MASK, 0, _MASK, _MASK])
def test_sparse_hist_matches_np_unique(ids):
    h = np.array(ids, dtype=np.uint64)  # _ngram_hashes' dtype
    idx, cnt = _sparse_hist(h)
    ref_idx, ref_cnt = np.unique(h, return_counts=True)
    assert idx.dtype == np.int64 and cnt.dtype == np.float32
    assert np.array_equal(idx, ref_idx) and np.array_equal(cnt, ref_cnt)


def test_langid_batched_softmax_bit_identical():
    """predict_batch's batched softmax/argmax tail must be bit-identical
    to the per-doc scalar form it replaced (same pairwise 9-element
    reductions), including the empty/whitespace 'und' paths."""
    import numpy as np

    from deidentify_spark.functions import langid as L
    from deidentify_spark.functions.quality import QualityConfig
    from deidentify_spark.sources.pages import make_doc

    mat, langs = L._get_model()

    def scalar_ref(texts):
        preds, confs = [], []
        for t in texts:
            if not t:
                preds.append("und"); confs.append(0.0); continue
            c = L._codepoints(t[: L._MAX_CHARS].lower())
            gated = L._script_gate(c) if c.size else None
            if gated is not None:  # unique-script languages bypass the model
                preds.append(gated[0]); confs.append(gated[1]); continue
            idx, cnt = L._sparse_counts(t)
            norm = float(np.sqrt((cnt * cnt).sum()))
            if norm == 0.0:
                preds.append("und"); confs.append(0.0); continue
            scores = mat[:, idx] @ (cnt / norm)
            e = np.exp((scores - scores.max()) * L._SOFTMAX_TEMP)
            p = e / e.sum()
            best = int(np.argmax(p))
            pred, conf = langs[best], float(p[best])
            # same close-pair 4-gram tie-break as predict_batch (scalar
            # form), so batch-vs-scalar bit-identity covers it too
            o = np.argsort(scores)
            hi, lo = int(o[-1]), int(o[-2])
            if (
                frozenset((langs[hi], langs[lo]))
                in {frozenset(pr) for pr in L._CLOSE_PAIRS}
                and scores[hi] - scores[lo] < L._PAIR_MARGIN
            ):
                win = L._rescore_close_pair(t, langs[hi], langs[lo])
                if win is not None and win != pred:
                    pred, conf = win, float(p[langs.index(win)])
            preds.append(pred); confs.append(conf)
        return preds, confs

    cfg = QualityConfig()
    texts = [make_doc(5, i, cfg)["text"] for i in range(400)] + [
        "", "   ", "\t\n", "¿Dónde está la biblioteca?", "ein kurzer Satz",
    ]
    got = L.predict_batch(texts)
    want = scalar_ref(texts)
    assert got[0] == want[0]
    assert got[1] == want[1]  # exact float equality, not approx


def test_lm_train_tables_reproduces_builtin_bit_for_bit(spark):
    """Distributed LM training over a one-doc DataFrame holding the
    authored corpus string must reproduce the in-process count tables
    EXACTLY (integer counts, identical tokenizer/crc32/mix hash on the
    JVM side)."""
    import numpy as np

    from deidentify_spark.functions.perplexity import (
        _get_tables,
        lm_train_tables,
        perplexity,
        perplexity_with_tables,
    )
    from deidentify_spark.sources.textpools import (
        GEN_SENTENCES,
        LANGID_TRAINING,
        PERPLEXITY_TRAINING,
    )

    corpus = " ".join(
        [LANGID_TRAINING["en"], PERPLEXITY_TRAINING, *GEN_SENTENCES["en"]]
    )
    df = spark.createDataFrame([(corpus,)], "text string")
    uni, bi = lm_train_tables(df)
    uni0, bi0 = _get_tables()
    assert np.array_equal(uni, uni0)
    assert np.array_equal(bi, bi0)
    # and the scorer against the trained tables == the builtin scorer
    s = "the quick brown fox jumps over the lazy dog"
    assert perplexity_with_tables(s, uni, bi) == perplexity(s)


def test_lm_train_tables_multi_doc_no_cross_doc_bigrams(spark):
    import numpy as np

    from deidentify_spark.functions.perplexity import lm_train_tables

    one = spark.createDataFrame([("alpha beta",), ("gamma delta",)], "text string")
    # same words as one concatenated doc EXCEPT the beta->gamma bigram
    joined = spark.createDataFrame([("alpha beta gamma delta",)], "text string")
    u1, b1 = lm_train_tables(one)
    u2, b2 = lm_train_tables(joined)
    assert np.array_equal(u1, u2)          # unigrams agree
    assert b1.sum() == 2 and b2.sum() == 3  # no cross-doc bigram counted


def test_redundancy_signals_closed_form(spark):
    import math
    import zlib

    from pyspark.sql import functions as F

    from deidentify_spark.functions.text_stats import redundancy_signals

    docs = spark.createDataFrame(
        [
            (1, "a a b"),          # entropy of {a:2, b:1}
            (2, "x x x x"),        # zero entropy (single type)
            (3, ""),               # empty -> all NULL
            (4, None),             # NULL -> all NULL
            (5, "   "),            # whitespace only -> no tokens
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in docs.withColumn("s", redundancy_signals("text"))
        .select("doc_id", "s.*")
        .collect()
    }
    want1 = math.log(3) - (2 * math.log(2)) / 3
    assert rows[1].token_entropy == pytest.approx(want1, abs=1e-12)
    assert rows[1].distinct_ratio == pytest.approx(2 / 3, abs=1e-12)
    raw = b"a a b"
    assert rows[1].compression_ratio == pytest.approx(
        len(zlib.compress(raw, 6)) / len(raw), abs=1e-12
    )
    assert rows[2].token_entropy == pytest.approx(0.0, abs=1e-12)
    assert rows[2].distinct_ratio == pytest.approx(0.25, abs=1e-12)
    assert rows[3].token_entropy is None and rows[3].compression_ratio is None
    assert rows[4].token_entropy is None and rows[4].compression_ratio is None
    # whitespace-only: no tokens (NULL entropy) but bytes still compress
    assert rows[5].token_entropy is None
    assert rows[5].compression_ratio is not None


def test_c4_line_trim_handcrafted(spark):
    from deidentify_spark.functions.quality import c4_line_trim

    doc = "\n".join(
        [
            "This line ends with a period and has words.",   # kept
            "Short one.",                                    # < 3 words
            "no terminal punctuation here",                  # no punct
            'He said "stop".',                               # kept
            "Enable JavaScript to continue please.",         # javascript
            "\tTabbed line also counts words fine.",         # kept
            "Is this a question?",                           # kept
            "",                                              # empty
        ]
    )
    bad_doc = "Lorem Ipsum filler. More words here. And more again. Yes more."
    curly_doc = "function() { return 1; } plus words here. A fine line too. Third good sentence here."
    df = spark.createDataFrame(
        [(1, doc), (2, bad_doc), (3, curly_doc), (4, "no lines at all")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_line_trim(df).collect()}

    r = got[1]
    assert r.c4_lines_kept == 4 and r.c4_lines_dropped == 4
    assert r.c4_keep
    assert r.c4_text == "\n".join(
        [
            "This line ends with a period and has words.",
            'He said "stop".',
            "\tTabbed line also counts words fine.",
            "Is this a question?",
        ]
    )
    # lorem ipsum kills the doc even though its line survives
    assert got[2].c4_lines_kept == 1 and not got[2].c4_keep
    # curly brace kills the doc
    assert not got[3].c4_keep
    # nothing survives: empty trimmed text, keep=False
    assert got[4].c4_lines_kept == 0 and got[4].c4_text == ""
    assert not got[4].c4_keep


def test_c4_line_trim_crlf(spark):
    """CRLF pages (ADVICE r6): the \\r must neither defeat the
    terminal-punctuation test nor leak into c4_text."""
    from deidentify_spark.functions.quality import c4_line_trim

    doc = "\r\n".join(
        [
            "First real sentence ends properly.",
            "Second real sentence also ends properly.",
            "Third real sentence ends properly too.",
            "no punct trailing line",
        ]
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = c4_line_trim(df).collect()[0]
    assert r.c4_lines_kept == 3 and r.c4_keep
    assert "\r" not in r.c4_text
    assert r.c4_text == "\n".join(
        [
            "First real sentence ends properly.",
            "Second real sentence also ends properly.",
            "Third real sentence ends properly too.",
        ]
    )


def test_c4_line_trim_is_shuffle_free(spark):
    from deidentify_spark.functions.quality import c4_line_trim

    df = spark.createDataFrame([(1, "A line here now.")], "doc_id long, text string")
    plan = c4_line_trim(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
