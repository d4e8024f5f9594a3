"""Shared Spark session fixture (local mode, runtime.session_builder)."""

import pytest


@pytest.fixture(scope="session")
def spark():
    from deidentify_spark.runtime import session_builder

    s = (
        session_builder(4)
        .appName("deidentify-spark-tests")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse-tests")
        .getOrCreate()
    )
    yield s
    s.stop()
