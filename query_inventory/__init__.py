"""The registered query inventory of ``__spark_entry__.py``, one module
per operator family.

Every query is a ``(spark, sf_dir) -> DataFrame`` callable that reads
the tables under ``sf_dir`` through ``_base._t``. Its DuckDB twin, when
it has one, is attached by the ``@oracle(sql)`` decorator right above
it. ``__spark_entry__.queries()`` holds the one ordered registry, and
``__spark_entry__.oracle_sql()`` reads the twins off it.
"""
