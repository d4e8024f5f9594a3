"""Session-level runtime helpers shared by operators and entry points.

``session_builder``: the library's only ``SparkSession.Builder``. Every
job, script, example and the test fixture starts from it, so they all
run under the confs the pipeline and operators are tuned for. Library
code never changes a session conf; confs are decided when the session
is built.

``tracked_persist`` / ``release_tracked``: several operators persist an
intermediate on purpose (dsir_select's slim projection, bm25's tf
aggregate, the prefix-scan input) because their plans consume it from
two branches or two phases — the persist is load-bearing, measured, and
documented at each site. But a long-lived session composing MANY such
calls would accumulate cached tables until eviction pressure if nothing
ever unpersists them (the operator itself cannot: its OUTPUT DataFrame
still reads the cache lazily, so unpersisting before the caller
materializes would silently re-run the lineage the cache exists to
avoid). The contract is therefore: operators register every internal
persist here, and batch drivers (bench.py, jobs/run_curation_job.py, or
any user loop) call ``release_tracked()`` once the outputs of a step are
materialized. One handle, no reliance on ``spark.catalog.clearCache()``
nuking caches the USER owns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_TRACKED: list[DataFrame] = []


def session_builder(cores: int | None = None) -> SparkSession.Builder:
    """The one ``SparkSession.Builder`` every entry point starts from
    (jobs, scripts, examples, tests, bench_extra): the confs the fused
    pipeline and the operators are tuned for, decided here once.

    ``cores`` given: ``local[cores]`` with ``max(cores*2, 8)`` shuffle
    partitions. ``cores=None`` (spark-submit) leaves master and width to
    the launcher. Always: Arrow on, UI off (chain ``.config`` to turn it
    back on where a script harvests REST counters), and AQE re-planning
    of CACHED plan output partitioning
    (``canChangeCachedPlanOutputPartitioning``, off by default). That
    last one lets the operator stat caches and the logreg/nb feature
    cache materialize AQE-sized: a KB-sized table caches as 1-2
    partitions locally while a corpus-scale cache keeps its width
    (round 7, measured: mad_outliers 4.7 -> 2.9 s, exact_percentiles
    2.4 -> 1.3 s at sf0.1; solo logreg 3x faster). Setting it here, from
    the first query, is what keeps a query's partitioning independent of
    which queries ran earlier in the session. AQE itself is Spark's
    default and is not set.

    Operators never change session confs: a caller's own session keeps
    whatever it was built with.
    """
    b = (
        SparkSession.builder.config(
            "spark.sql.execution.arrow.pyspark.enabled", "true"
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
    )
    if cores is not None:
        b = b.master(f"local[{cores}]").config(
            "spark.sql.shuffle.partitions", str(max(cores * 2, 8))
        )
    return b


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() the frame (default MEMORY_AND_DISK) and register it for
    a later bulk ``release_tracked()``. The persists registered here are
    bounded stats/model tables (score counts, value counts, bucket
    totals); in a ``session_builder`` session they cache AQE-sized."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every operator-internal cache registered since the last
    call; returns how many were released. Safe to call at any time —
    outputs not yet materialized simply recompute their lineage."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
