"""Tiny helpers shared by query modules."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Analyzed-plan handles, keyed (applicationId, sf_dir, table). This is
# catalog registration (the temp-view idiom of register_views) in function
# form: spark.read.parquet re-lists the directory and re-reads footers
# on EVERY call (~0.1-0.3 s of driver time per table per query,
# measured), while the returned DataFrame is an immutable logical plan
# whose execution always scans the parquet files — no data or results
# are cached here, only the handle.
# The value stores the owning SparkSession alongside the handle: a
# DataFrame is bound to the session that created it (its confs, its
# temp views), and applicationId alone cannot distinguish two sessions
# sharing one app (SparkSession.newSession) — a hit is honored only if
# the caller IS the owning session, else rebuilt (r16 ADVICE #2).
_HANDLES: dict[tuple[str, str, str], tuple[SparkSession, DataFrame]] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table. Plain parquet scan → Catalyst pushes filters
    and prunes columns into the scan; never cache data here (the handle
    memo above stores logical plans only).

    events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects; read nanos as long (runtime conf) and convert
    to microsecond timestamps in the plan — distributed, no driver
    materialization, matches DuckDB's nanos→micros truncation.
    """
    # timestamps must compare exactly against the UTC-naive DuckDB oracle
    # regardless of whose SparkSession runs the query (runtime-settable)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, os.path.abspath(path), name)
    hit = _HANDLES.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # driver-generated micros with isAdjustedToUTC=false infer as
            # TIMESTAMP_NTZ on Spark 4; normalize to TIMESTAMP (LTZ) under
            # the UTC session tz — identical wall-clock values, and
            # functions like unix_micros/window accept it uniformly
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    _HANDLES[key] = (spark, df)
    return df


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every table present in ``sf_dir`` as a temp view (same
    names the DuckDB oracle uses), enabling ad-hoc ``spark.sql`` over the
    dataset — the SQL front door of the CLI. Returns the registered
    names."""
    names = []
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            t(spark, sf_dir, name).createOrReplaceTempView(name)
            names.append(name)
    return names


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Fan-out control for explode-heavy operators (reference parity:
    NLineInputFormat's split-per-N-lines mapper fan-out,
    ``mr-core/mapreduce/lib/input/NLineInputFormat.java:46``).

    Shingling/windowing operators multiply row counts ~50× downstream of
    the scan; a source with fewer splits than cores serializes that heavy
    stage before the first shuffle. Repartition up to the session default
    parallelism ONLY when the input has fewer partitions — a no-op on any
    real multi-split input (at cluster scale this never fires; locally it
    fixes the one-file-parquet artifact, measured 1.5× on the sf0.1
    span/LSH gates). Round-robin redistribution is result-invariant for
    the aggregation/join-shaped consumers this guards; do NOT use it
    upstream of monotonically_increasing_id consumers.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
