"""k-anonymity / l-diversity audit (operators/privacy.py)."""

from __future__ import annotations

from deidentify_spark.operators.privacy import k_anonymity_classes


def _tbl(spark):
    # classes: (us,a)x4 homogeneous sensitive; (us,b)x2; (fr,a)x1; (fr,b)x5
    rows = [
        ("us", "a", "flu"), ("us", "a", "flu"), ("us", "a", "flu"), ("us", "a", "flu"),
        ("us", "b", "flu"), ("us", "b", "cold"),
        ("fr", "a", "flu"),
        ("fr", "b", "flu"), ("fr", "b", "cold"), ("fr", "b", "cough"),
        ("fr", "b", "flu"), ("fr", "b", "cold"),
    ]
    return spark.createDataFrame(rows, "nation string, seg string, dx string")


def test_k_anonymity_classes(spark):
    out = {
        (r.nation, r.seg): r
        for r in k_anonymity_classes(
            _tbl(spark), ["nation", "seg"], k=3, sensitive_col="dx", l=2
        ).collect()
    }
    assert out[("us", "a")].class_size == 4 and not out[("us", "a")].violates_k
    assert out[("us", "a")].l_div == 1 and out[("us", "a")].violates_l
    assert out[("us", "b")].violates_k and not out[("us", "b")].violates_l
    assert out[("fr", "a")].class_size == 1 and out[("fr", "a")].violates_k
    assert out[("fr", "b")].l_div == 3 and not out[("fr", "b")].violates_k
