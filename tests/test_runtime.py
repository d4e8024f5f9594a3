"""Session ownership: one builder for every entry point, and library code
that leaves a caller's session confs exactly as it found them."""

import pathlib
import subprocess

ROOT = pathlib.Path(__file__).resolve().parent.parent
# the frozen bench and the benchmark harness keep their own builders
BUILDER_OWNERS = {"deidentify_spark/runtime.py", "bench.py", "perfbench/run.py"}
SESSION_CONFS = (
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.sources.partitionOverwriteMode",
)


def _python_sources() -> list[str]:
    r = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True
    )
    if r.returncode == 0:
        return r.stdout.split()
    # not a git checkout: every .py outside hidden and scratch dirs
    return [
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def test_session_builder_is_the_only_builder():
    needle = "SparkSession" + ".builder"
    offenders = [
        path
        for path in _python_sources()
        if path not in BUILDER_OWNERS
        and needle in (ROOT / path).read_text(encoding="utf-8")
    ]
    assert offenders == [], (
        f"build sessions with deidentify_spark.runtime.session_builder: {offenders}"
    )


def test_operators_leave_session_confs_alone(spark, tmp_path):
    from deidentify_spark.operators.classifier import logreg_train
    from deidentify_spark.pipeline.checkpoint import run_checkpointed
    from deidentify_spark.pipeline.stages import PipelineConfig
    from deidentify_spark.runtime import release_tracked, tracked_persist
    from deidentify_spark.sources.pages import generate_pages

    s = spark.newSession()
    for k in SESSION_CONFS:
        s.conf.unset(k)
    before = {k: s.conf.get(k) for k in SESSION_CONFS}

    tracked_persist(s.range(10)).count()
    release_tracked()
    docs = s.createDataFrame(
        [(i, f"good clean words {i}" if i % 2 else f"spam spam buy {i}", i % 2)
         for i in range(40)],
        "doc_id long, text string, y int",
    )
    logreg_train(docs, "y", n_buckets=64, n_iters=2)
    pages = generate_pages(s, 40, seed=3, partitions=2)
    run_checkpointed(
        pages, str(tmp_path / "run"), PipelineConfig(secret_key="k", n_buckets=4),
        n_waves=2,
    )

    assert {k: s.conf.get(k) for k in SESSION_CONFS} == before