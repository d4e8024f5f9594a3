"""Checkpoint/resume semantics: crash mid-run, resume, byte-identical to
a single-shot run with no recomputation of completed buckets."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from deidentify_spark.pipeline import checkpoint
from deidentify_spark.pipeline.checkpoint import read_manifest, run_checkpointed
from deidentify_spark.pipeline.stages import (
    PipelineConfig,
    bucket_of_url,
    run_pipeline,
)
from deidentify_spark.sources.pages import generate_pages

N_DOCS = 600
KEY = "ckpt-key"


def _cfg():
    return PipelineConfig(secret_key=KEY, n_buckets=16)


def _crash_at_commit(monkeypatch, n: int, after: bool) -> None:
    """Make the n-th manifest commit of a run raise, after the manifest
    is written (``after``) or in the window before it."""
    real = checkpoint.commit_manifest
    calls = []

    def commit(path, manifest):
        calls.append(manifest)
        if len(calls) == n and not after:
            raise RuntimeError(f"injected failure before commit {n}")
        real(path, manifest)
        if len(calls) == n:
            raise RuntimeError(f"injected failure after commit {n}")

    monkeypatch.setattr(checkpoint, "commit_manifest", commit)


def _changed(value):
    """A different value of the same kind (a nested config changes its
    first field)."""
    if isinstance(value, bool):
        return not value
    if isinstance(value, (int, float)):
        return value + 1
    if isinstance(value, str):
        return value + "x"
    if value is None:
        return 8
    first = dataclasses.fields(value)[0].name
    return dataclasses.replace(value, **{first: _changed(getattr(value, first))})


@pytest.mark.parametrize(
    "name", [f.name for f in dataclasses.fields(PipelineConfig)]
)
def test_every_config_field_is_fingerprinted(name):
    """Every field that changes the output changes the fingerprint, so a
    resume can never mix two configs in one output; only the plan-only
    ``repartition`` is left out (it moves rows, not buckets)."""
    cfg = _cfg()
    other = dataclasses.replace(cfg, **{name: _changed(getattr(cfg, name))})
    fp = checkpoint._config_fingerprint
    assert (fp(other) == fp(cfg)) == (name == "repartition")


def test_crash_resume_byte_identical(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "run")
    pages = generate_pages(spark, N_DOCS, seed=5, partitions=8)

    # crash right after wave 1 (of 4) commits
    with monkeypatch.context() as m:
        _crash_at_commit(m, 2, after=True)
        with pytest.raises(RuntimeError, match="after commit 2"):
            run_checkpointed(pages, out, _cfg(), n_waves=4)
    assert len(read_manifest(out)["done_buckets"]) == 8

    # files written so far — resume must not rewrite them
    scrub_dir = os.path.join(out, "scrubbed")
    before = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(scrub_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert before

    run_checkpointed(pages, out, _cfg(), n_waves=4)
    assert read_manifest(out)["done_buckets"] == list(range(16))

    after = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(scrub_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    for path, mtime in before.items():
        assert after[path] == mtime, f"completed output rewritten: {path}"

    # final output equals a single-shot run exactly
    resumed = spark.read.parquet(scrub_dir)
    oneshot = run_pipeline(pages, _cfg())
    a = {
        r.url: (r.keep, r.drop_reason, r.scrubbed_text) for r in resumed.collect()
    }
    b = {
        r.url: (r.keep, r.drop_reason, r.scrubbed_text) for r in oneshot.collect()
    }
    assert a == b

    # metrics cover all buckets, reconcile with doc count
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.agg(F.sum("docs_in")).head()[0] == N_DOCS


def test_config_change_rejected(spark, tmp_path):
    out = str(tmp_path / "run2")
    pages = generate_pages(spark, 100, seed=6, partitions=4)
    run_checkpointed(pages, out, _cfg(), n_waves=2)
    other = PipelineConfig(secret_key="different-key", n_buckets=16)
    with pytest.raises(ValueError, match="different pipeline config"):
        run_checkpointed(pages, out, other, n_waves=2)


def test_completed_run_is_noop(spark, tmp_path):
    out = str(tmp_path / "run3")
    pages = generate_pages(spark, 100, seed=6, partitions=4)
    run_checkpointed(pages, out, _cfg(), n_waves=2)
    m1 = read_manifest(out)
    run_checkpointed(pages, out, _cfg(), n_waves=2)  # all waves skipped
    assert read_manifest(out) == m1


@pytest.mark.parametrize("n_buckets,n_waves", [(0, 4), (-1, 4), (4, 0), (4, -2)])
def test_no_buckets_or_waves_rejected(spark, tmp_path, n_buckets, n_waves):
    """Zero buckets or waves would silently process nothing and leave no
    metrics table; both are rejected before any output is written."""
    out = tmp_path / "run"
    pages = generate_pages(spark, 10, seed=6, partitions=1)
    with pytest.raises(ValueError, match="n_buckets|n_waves"):
        cfg = PipelineConfig(secret_key=KEY, n_buckets=n_buckets)
        run_checkpointed(pages, str(out), cfg, n_waves=n_waves)
    assert not out.exists()


def test_wave_filter_below_python_stage(spark):
    """The wave's bucket filter must execute BEFORE the fused Python
    stage (filtering the annotated output instead would re-run the whole
    pipeline once per wave)."""
    pages = generate_pages(spark, 50, seed=9, partitions=2)
    cfg = _cfg()
    wave_pages = pages.where(bucket_of_url(cfg.n_buckets).isin([0, 4, 8]))
    wave = run_pipeline(wave_pages, cfg)
    plan = wave._jdf.queryExecution().executedPlan().toString()
    i_udf = plan.index("ArrowEvalPython")
    i_filter = plan.index("Filter cast(pmod(xxhash64(url")
    # tree printing puts children (executed first) after parents
    assert i_filter > i_udf, "bucket filter did not land below the python stage"


def test_crash_before_manifest_no_duplicates(spark, tmp_path, monkeypatch):
    """Crash in the window AFTER a wave's data write but BEFORE its
    manifest write: the resumed run must re-process that wave and
    OVERWRITE its bucket partitions (dynamic partition overwrite) — never
    append duplicates or double-count metrics."""
    out = str(tmp_path / "run4")
    pages = generate_pages(spark, N_DOCS, seed=5, partitions=8)

    with monkeypatch.context() as m:
        _crash_at_commit(m, 2, after=False)
        with pytest.raises(RuntimeError, match="before commit 2"):
            run_checkpointed(pages, out, _cfg(), n_waves=4)
    m = read_manifest(out)
    # wave 0 committed, wave 1 wrote data but did NOT commit
    assert len(m["done_buckets"]) == 4
    scrub_dir = os.path.join(out, "scrubbed")
    written_rows = spark.read.parquet(scrub_dir).count()
    assert written_rows > 0

    run_checkpointed(pages, out, _cfg(), n_waves=4)
    assert read_manifest(out)["done_buckets"] == list(range(16))

    resumed = spark.read.parquet(scrub_dir)
    # no duplicate urls anywhere (append would duplicate wave 1)
    assert resumed.count() == resumed.select("url").distinct().count() == N_DOCS

    oneshot = run_pipeline(pages, _cfg())
    a = {r.url: (r.keep, r.drop_reason, r.scrubbed_text) for r in resumed.collect()}
    b = {r.url: (r.keep, r.drop_reason, r.scrubbed_text) for r in oneshot.collect()}
    assert a == b

    # metrics: exactly one row per bucket, totals reconcile (no double count)
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.count() == metrics.select("bucket").distinct().count()
    assert metrics.agg(F.sum("docs_in")).head()[0] == N_DOCS
