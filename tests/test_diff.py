"""Snapshot diff (operators/diff.py)."""

from __future__ import annotations

from deidentify_spark.operators.diff import snapshot_diff


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B!"), (4, None), (5, "new")], "doc_id long, text string"
    )
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {2: "changed", 3: "removed", 5: "added"}
    full = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, include_unchanged=True).collect()
    }
    assert full[1] == "unchanged"
    assert full[4] == "unchanged"  # NULL == NULL content


def test_snapshot_diff_null_vs_empty(spark):
    """NULL text and empty text must NOT compare equal."""
    old = spark.createDataFrame([(1, None)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "")], "doc_id long, text string")
    out = snapshot_diff(old, new).collect()
    assert out[0].status == "changed"


def test_snapshot_diff_multi_column(spark):
    old = spark.createDataFrame(
        [(1, "t", "en"), (2, "u", "en")], "doc_id long, text string, lang string"
    )
    new = spark.createDataFrame(
        [(1, "t", "de"), (2, "u", "en")], "doc_id long, text string, lang string"
    )
    out = {r.doc_id: r.status
           for r in snapshot_diff(old, new, content_cols=["text", "lang"]).collect()}
    assert out == {1: "changed"}


def test_snapshot_diff_text_not_in_shuffle(spark):
    """Only (id, digest) may cross the join: the text column must not
    appear in the exchange output."""
    old = spark.createDataFrame([(1, "x" * 10)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "x" * 10)], "doc_id long, text string")
    plan = (
        snapshot_diff(old, new, include_unchanged=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the join inputs are md5 projections; raw text is pruned below them
    join_part = plan[: plan.index("Join") + 400]
    assert "md5" in plan
    assert "text#" not in join_part.split("Project")[0], plan
