"""Registered query definitions, grouped by area.

Each module registers queries into
:mod:`cassandra_join_library_spark.registry`, which imports every
module of this package by discovery; a new module needs no list entry.
``__spark_entry__.py`` re-exports the registry through ``queries()``
and ``oracle_sql()``.
"""
