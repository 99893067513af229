"""Central query registry: the correctness-gate inventory.

Each entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle string (run by DuckDB over the same parquet tables). Column names
are aliased identically on both sides — the driver's comparator sorts
columns by name and hashes values, so names must match exactly.

Floating-point aggregates are rounded identically on both sides (sums of
doubles accumulate in engine-specific order; rounding to a few decimals
makes the hash comparison robust while still catching real bugs).

The queries exercise the operator inventory of SURVEY.md §2; each
QuerySpec docstring cites the reference operator it proves parity with.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL twin; every gate is value-checked against it
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if not oracle or not oracle.strip():
            # a gate without its DuckDB twin verifies nothing
            raise ValueError(f"gate {name!r} needs a non-empty oracle")
        if name in _REGISTRY:
            # a silent overwrite would drop a gate from the driver's
            # correctness sweep without any test failing
            raise ValueError(f"duplicate gate name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that register queries.
    from hadoop_fcfs_spark import queries_agg  # noqa: F401
    from hadoop_fcfs_spark import queries_io  # noqa: F401
    from hadoop_fcfs_spark import queries_llm  # noqa: F401
    from hadoop_fcfs_spark import queries_relational  # noqa: F401
    from hadoop_fcfs_spark import queries_streaming  # noqa: F401

    return dict(_REGISTRY)
