"""Output checks, run outside the timed region.

* pipelines: keep/drop F1 against the generator's ``expected_keep``, and
  ``scrubbed_text`` byte-identical to the scalar ``oracle.Deidentifier``
  on a seeded sample of kept docs;
* operator leaves: each leaf's rows against its registered
  ``oracle_sql()`` twin on DuckDB, compared the way
  ``scripts/check_all_oracles.py`` does.
"""

from __future__ import annotations

import random

import pandas as pd

MIN_KEEP_F1 = 0.99
SCRUB_SAMPLE = 200


def keep_f1(keep: pd.Series, expected: pd.Series) -> float:
    """F1 of the keep decision, kept docs as the positive class."""
    tp = int((keep & expected).sum())
    fp = int((keep & ~expected).sum())
    fn = int((~keep & expected).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def scrub_mismatches(kept: pd.DataFrame, secret_key: str, seed: int) -> int:
    """Sampled kept docs whose ``scrubbed_text`` differs from the oracle."""
    from deidentify_spark.oracle import Deidentifier

    oracle = Deidentifier(secret_key)
    rows = list(kept.itertuples(index=False))
    sample = random.Random(seed).sample(rows, min(SCRUB_SAMPLE, len(rows)))
    return sum(oracle.text(r.text) != r.scrubbed_text for r in sample)


def frames_match(spark_rows: pd.DataFrame, oracle_rows: pd.DataFrame) -> bool:
    """Same columns, same rows in any order, same numeric kind per column
    (int vs float); floats within 1e-4 absolute.

    The leaves round their float outputs to 4-6 decimals, so a last-bit
    difference between the engines shows only as a flip of the last
    rounded decimal on seeded inputs; the tolerance absorbs exactly that."""
    cols = sorted(spark_rows.columns)
    if cols != sorted(oracle_rows.columns) or len(spark_rows) != len(oracle_rows):
        return False
    s = spark_rows[cols].sort_values(cols).reset_index(drop=True)
    o = oracle_rows[cols].sort_values(cols).reset_index(drop=True)
    numeric = {"i", "u", "f"}
    for c in cols:
        kinds = {s[c].dtype.kind, o[c].dtype.kind}
        if len(kinds) > 1 and kinds <= numeric:
            return False
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, atol=1e-4)
    except AssertionError:
        return False
    return True


def set_f1(got: set, want: set) -> float:
    """F1 of a kept set against the reference kept set."""
    return 2 * len(got & want) / (len(got) + len(want)) if got or want else 1.0
