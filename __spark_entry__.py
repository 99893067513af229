"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``hadoop_fcfs_spark.registry``; this module is a
thin adapter over the package.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hadoop_fcfs_spark.registry import all_queries

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from hadoop_fcfs_spark.queries_relational import pricing_summary

    return pricing_summary(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark_fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()}
