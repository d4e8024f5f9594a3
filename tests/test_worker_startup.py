"""Python-worker start-up: the zipimport hook skips re-reading an unchanged
archive, re-reads a changed one, and is installed only inside Spark tasks."""

import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from deidentify_spark import _worker


def _installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _worker.invalidate_caches


def _write_zip(path, modules: dict[str, str]) -> None:
    # write aside and rename, as a re-shipped archive arrives
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def hooked(monkeypatch):
    """The hook installed for one test, plus a count of directory reads."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, hooked):
    path = str(tmp_path / "unchanged.zip")
    _write_zip(path, {"zmod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(path)
    assert _load(importer, "zmod_a").VALUE == 1

    importer.invalidate_caches()  # first read through the hook
    hooked.clear()
    for _ in range(3):
        importer.invalidate_caches()
        zipimport.zipimporter(path).invalidate_caches()
    assert hooked == []
    assert _load(importer, "zmod_a").VALUE == 1


def test_changed_archive_is_reread(tmp_path, hooked):
    path = str(tmp_path / "changed.zip")
    _write_zip(path, {"zmod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(path)
    assert _load(importer, "zmod_a").VALUE == 1
    importer.invalidate_caches()
    assert importer.find_spec("zmod_b") is None

    _write_zip(path, {"zmod_a": "VALUE = 1\n", "zmod_b": "VALUE = 2\n"})
    hooked.clear()
    importer.invalidate_caches()
    assert hooked == [path]
    assert _load(importer, "zmod_b").VALUE == 2

    os.remove(path)
    importer.invalidate_caches()
    assert importer.find_spec("zmod_a") is None
    assert path not in zipimport._zip_directory_cache


def test_install_only_inside_a_task(monkeypatch):
    from pyspark.taskcontext import TaskContext

    # restore the stdlib method whatever install() does
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _worker.install()
    assert not _installed()

    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    _worker.install()
    assert _installed() == (sys.version_info < (3, 13))


def test_hook_reaches_spark_workers(spark):
    @F.pandas_udf("boolean")
    def hook_as_expected(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        # the import every package UDF's unpickling does first
        from deidentify_spark import _worker

        hooked = zipimport.zipimporter.invalidate_caches is _worker.invalidate_caches
        ok = hooked == (sys.version_info < (3, 13))
        return pd.Series([ok] * len(ids))

    rows = (
        spark.range(0, 64, numPartitions=8)
        .select(hook_as_expected("id").alias("ok"))
        .collect()
    )
    assert len(rows) == 64 and all(r.ok for r in rows)
    assert zipimport.zipimporter.invalidate_caches is _worker._stdlib_invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
