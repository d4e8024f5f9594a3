"""The word split and the per-word memo shared by the fused UDF's rule
and LM stages (``quality_pre_reason_py``, ``top_2gram_frac`` and
``perplexity``).

A stage reads a per-word fact for every word of a doc with
``map(memo.__getitem__, words)``: a hit is a C-level dict lookup, and
only a word the memo has not seen runs Python (``Memo.__missing__``).
Web text repeats words heavily (Zipf), so after warm-up nearly every
lookup hits and no Python bytecode runs per word.
"""

from __future__ import annotations

from functools import lru_cache

# Entries a memo may hold before it is cleared, bounding worker memory
# on open-vocabulary input.
MEMO_MAX = 1_000_000

# ``text.split()`` with a one-entry memo on the text: the stages run one
# after another on the same doc, so the first one splits and the others
# reuse its list. The list is shared: callers must not mutate it.
split_words = lru_cache(maxsize=1)(str.split)


class Memo(dict):
    """``word -> fn(word)``, each value computed on the word's first
    lookup."""

    __slots__ = ("fn",)

    def __init__(self, fn) -> None:
        super().__init__()
        self.fn = fn

    def __missing__(self, word: str):
        value = self[word] = self.fn(word)
        return value
