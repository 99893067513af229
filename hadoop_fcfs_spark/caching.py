"""Tracked persist waypoints.

Operators persist an intermediate for one of two reasons:
  - consistency: a nondeterministically-derived lineage (range-partition
    sampling, monotonically_increasing_id) is consumed by more than one
    downstream branch, and re-derivation could disagree between branches;
  - economy: an expensive chain (scan → shingle → 64-hash aggregation)
    has several consumers and Spark will not reuse exchanges across
    structurally different branches.

A bare ``df.persist()`` inside an operator leaks: long-lived sessions
running many corpora accumulate session-lifetime cache entries with no
API-level cleanup. Every operator-internal persist therefore goes through
``waypoint()``, which records the handle; hosts with a bounded unit of
work (the bench harness between repeats, the CLI after a query, a user
pipeline between corpora) call ``release_waypoints()`` to drop exactly
the operator-created entries — no blanket ``clearCache()`` that would
also evict caches the user created deliberately.

A waypoint is built eagerly, before ``waypoint()`` returns, in one Spark
job (plus the shuffle-map jobs of the exchanges below it). Under AQE
every ``InMemoryTableScan`` of an unbuilt cache becomes its own
``TableCacheQueryStage`` with no reuse between them, so a lazy cache
scanned four times was built by four jobs racing over the same blocks
(the MinHash ``sig`` table, for one), and a query's job count varied from
run to run. A built cache's stage finds it materialized and submits no
job, and its scans report the cached plan's partitioning, which an
unbuilt one hides. The build runs the cached-batch
RDD of the frame's ``InMemoryRelation`` once (its ``count``); an action
on the frame itself (``df.count()``) would plan an aggregate over the
cache and cost about three jobs. Jobs run under the caller's job group,
so a host that profiles a query by its group sees the build there.

Cache-loss note: recomputation of an evicted waypoint partition re-reads
the already-materialized shuffle files of its exchange, so per-partition
recompute is deterministic; only full shuffle loss re-samples.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_LIVE: list[DataFrame] = []


def waypoint(df: DataFrame) -> DataFrame:
    """Persist ``df`` at MEMORY_AND_DISK, track the handle for later
    release, and build the cache now unless it is already built."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _LIVE.append(out)
    # The cache manager's own lookup, not `queryExecution().withCachedData()`:
    # that lazy plan is stale if anything forced it before the persist.
    cached = out.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(out._jdf)
    builder = cached.get().cachedRepresentation().cacheBuilder()
    if not builder.isCachedColumnBuffersLoaded():
        builder.cachedColumnBuffers().count()
    return out


def release_waypoints() -> int:
    """Unpersist every tracked waypoint; returns how many were released.
    Safe to call repeatedly (idempotent, tolerates dead sessions)."""
    with _LOCK:
        handles = list(_LIVE)
        _LIVE.clear()
    n = 0
    for h in handles:
        try:
            h.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n

