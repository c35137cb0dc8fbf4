"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` / ``oracle_sql()`` — the full operator inventory from
SURVEY.md §2 plus the LLM-pipeline extensions, registered in
:mod:`cassandra_join_library_spark.registry`; the driver compares each
query against its DuckDB oracle at sf=0.01 (row count + schema +
order-insensitive value hash).  Queries without an oracle entry are
genuinely non-SQL-expressible (the 3 custom stateful-streaming
operators, whose emission order depends on micro-batch arrival; each
has a value-oracled FINAL-state twin) and take the rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cassandra_join_library_spark.registry import all_oracles, all_queries

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    3-table chained left-deep join through the JoinExecutor façade with
    projection + condition-algebra filter (J10 + P1 + F1), looked up by
    name in the registry."""
    return all_queries()["join_chain3"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
