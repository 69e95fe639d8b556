"""Entry points over the gtec_etl_spark query registry.

Every implemented operator from SURVEY.md §2 registers a named
(spark, sf_dir) -> DataFrame query and, where SQL-expressible, a DuckDB
oracle with identically-aliased columns. `queries()` and `oracle_sql()`
list them sorted by name, the same order in every process.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gtec_etl_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the Q6 tabular dump (the reference's full
    denormalization) on /root/testdata/sf0.001."""
    from gtec_etl_spark.plans.etl_queries import ref_q6_tabular_dump

    return ref_q6_tabular_dump(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, sorted by name."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL of each query that has one, sorted by
    name (a query without one is checked for rows only)."""
    return registry.oracles()
