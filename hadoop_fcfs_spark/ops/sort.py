"""Sort / top-k / secondary-sort operators.

Parity targets (SURVEY.md §2.5):
- Global total-order sort: ``TotalOrderPartitioner`` + ``InputSampler``
  (reference ``mr-core/mapreduce/lib/partition/TotalOrderPartitioner.java:50``,
  ``InputSampler.java:57``). ``df.orderBy`` runs Spark's RangePartitioner,
  which does the same sample→split-points→route dance internally; output
  part files concatenate to a globally sorted dataset (the TeraSort
  contract, ``examples/terasort/TeraSort.java:43-56``).
- Top-k: the reference idiom is a single-reducer sorted job
  (``examples/Grep.java:82-84``); Spark's ``orderBy().limit(k)`` compiles
  to TakeOrderedAndProject — per-partition heaps + driver merge, no
  single-node sort of the full data.
- Secondary sort (``examples/SecondarySort.java:51``): partition+group on
  k1, order values by k2 within the group. Exposed two ways:
  ``grouped_sorted_apply`` reproduces the reference's "reducer iterates
  values in k2 order" contract via repartition+sortWithinPartitions+
  applyInPandas; window analytics cover the common uses natively.
- ``KeyFieldBasedComparator`` specs (``.../partition/KeyFieldBasedComparator.java:53``,
  Unix ``sort -k m.n [nr]``) compile to expression sort keys.

Scale: orderBy is the only all-data shuffle here; everything else is
hash-partitioned by group key. No driver-side collection anywhere.
"""

from __future__ import annotations

import operator
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_fcfs_spark.caching import waypoint


def total_order_sort(df: DataFrame, *keys: Column | str) -> DataFrame:
    """Global sort — RangePartitioner samples keys and routes ranges,
    the built-in equivalent of InputSampler.writePartitionFile +
    TotalOrderPartitioner."""
    return df.orderBy(*keys)


def top_k(df: DataFrame, k: int, *keys: Column | str) -> DataFrame:
    """orderBy+limit → TakeOrderedAndProject (distributed heap top-k)."""
    return df.orderBy(*keys).limit(k)


# Per-partition row index: the low 33 bits of monotonically_increasing_id
_ROW_BITS = (1 << 33) - 1


def _sum_over(c: str, w) -> Column:
    return F.coalesce(F.sum(c).over(w), F.lit(0))

# how -> (prefix window fn, per-partition total, combine(local, offset)).
# The window fn runs twice: over each sorted range partition for the
# local prefix, and over the per-partition totals for the offsets.
_SCANS: dict[str, tuple[Callable, Callable, Callable]] = {
    "sum": (_sum_over, F.sum, operator.add),
    "max": (lambda c, w: F.max(c).over(w), F.max, F.greatest),
    "last": (
        lambda c, w: F.last(c, ignorenulls=True).over(w),
        lambda c: F.max_by(c, F.when(F.col(c).isNotNull(), F.col("__mid"))),
        F.coalesce,
    ),
    # 1-based global row number: the local part is the window-free row
    # index, the total a count, the offsets a sum (no value column read)
    "rank": (
        _sum_over,
        lambda c: F.count("*"),
        lambda loc, off: (loc + off + 1).cast("int"),
    ),
}


def _range_scan(
    df: DataFrame,
    keys: list[Column | str],
    how: str,
    value_cols: list[str],
    out_cols: list[str],
    inclusive: bool = True,
) -> DataFrame:
    """The two-level scan behind every global prefix operator here — a
    prefix ``how`` (see ``_SCANS``) of each ``value_cols`` entry over the
    total order of ``keys``, written to the parallel ``out_cols`` —
    WITHOUT the unpartitioned ``Window.orderBy(...)`` that drags the
    whole input through one WindowExec task.

      1. ``repartitionByRange`` on the keys into
         ``spark.sql.shuffle.partitions`` ranges — the one full-data
         shuffle a plain global sort also pays — then
         ``sortWithinPartitions``. Range partition ids are ordered by
         key and equal keys share a partition.
      2. ``monotonically_increasing_id()`` assigned after the sort is
         ``(partition_index << 33) | row_index``: the partition id and
         the local order in JVM codegen, no extra shuffle.
      3. Local prefixes inside each partition (a window partitioned by
         ``__pid``; "rank" reads the row index instead), per-partition
         totals prefixed over the #partitions SUMMARY rows — the only
         single-partition window — broadcast back as offsets and
         combined with the local values.

    ``inclusive=False`` gives the strict prefix (earlier rows only):
    "sum" 0, "max"/"last" NULL for the global first row. Keys must form
    a total order for a deterministic result. The enumerated table is a
    persist waypoint: its lineage is nondeterministic (range sampling +
    monotonically_increasing_id) and it feeds both the totals and the
    final join, so it must materialize once."""
    win, total, combine = _SCANS[how]
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    local = waypoint(
        df.repartitionByRange(parts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33))
    )
    idx = range(len(value_cols))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = local.groupBy("__pid").agg(
        *[total(v).alias(f"__tot{i}") for i, v in enumerate(value_cols)]
    ).select("__pid", *[win(f"__tot{i}", w_off).alias(f"__off{i}") for i in idx])
    w_local = (
        Window.partitionBy("__pid")
        .orderBy("__mid")
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    lvals = [
        F.col("__mid").bitwiseAND(_ROW_BITS) if how == "rank" else win(v, w_local)
        for v in value_cols
    ]
    return (
        local.select("*", *[c.alias(f"__loc{i}") for i, c in enumerate(lvals)])
        .join(F.broadcast(offsets), "__pid")
        .withColumns(
            {o: combine(F.col(f"__loc{i}"), F.col(f"__off{i}")) for i, o in enumerate(out_cols)}
        )
        .drop("__mid", "__pid", *[f"__{p}{i}" for p in ("loc", "off") for i in idx])
    )


def ranked_total_order(
    df: DataFrame, keys: list[Column], rank_col: str = "rank"
) -> DataFrame:
    """Globally sorted output with a materialized 1-based global rank,
    WITHOUT the single-partition ``row_number().over(Window.orderBy(...))``
    scale-killer: the :func:`_range_scan` "rank" combine, whose local
    rank is the per-partition row index (no partition-local window, so
    no exchange beyond the range shuffle) and whose offsets are the
    prefix over per-partition counts.

    Ranks equal the unpartitioned-window ranks whenever the keys form a
    total order (add a unique tiebreaker otherwise, as with any
    row_number)."""
    return _range_scan(df, keys, "rank", ["__mid"], [rank_col])


def global_running_sum(
    df: DataFrame,
    keys: list[Column | str],
    value_col: str | list[str],
    out_col: str | list[str] = "running",
    inclusive: bool = True,
) -> DataFrame:
    """Global (ungrouped) running sum of ``value_col`` over the total
    order given by ``keys`` — the :func:`_range_scan` "sum" combine.
    ``inclusive=False`` yields the exclusive prefix sum (0 for the first
    row).

    ``value_col``/``out_col`` accept parallel LISTS to carry several
    running sums through ONE range shuffle + one offsets broadcast —
    two-column consumers (KS ECDFs, log-rank risk sets) must not pay
    the scan twice."""
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError(
            f"value_col/out_col length mismatch: {vcols} vs {ocols}"
        )
    return _range_scan(df, keys, "sum", vcols, ocols, inclusive)


def global_running_max(
    df: DataFrame,
    keys: list[Column | str],
    value_col: str,
    out_col: str = "running_max",
    inclusive: bool = True,
) -> DataFrame:
    """Global running MAX of ``value_col`` over the total order given
    by ``keys`` — the :func:`_range_scan` "max" combine (max is
    associative and idempotent, so the two-level split is exact; the
    local and offset sides combine with ``greatest``, which ignores a
    NULL side). The high-water-mark primitive: streaming watermark
    replay, drawdown analysis, record-to-date scans.

    ``inclusive=False`` gives the strict prefix (max over EARLIER
    rows only): NULL for the global first row — callers get NULL
    semantics, not a sentinel."""
    return _range_scan(df, keys, "max", [value_col], [out_col], inclusive)


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` bucket from a 1-based global rank over ``n``
    rows — so the single-task ``NTILE() OVER (ORDER BY ...)`` window can be
    replaced by ``ranked_total_order`` + this per-row expression.

    NTILE front-loads the remainder: with ``q = n DIV k``, ``r = n MOD k``,
    the first ``r`` buckets hold ``q+1`` rows and the rest hold ``q``. The
    equi-width formula ``(rank-1)*k DIV n + 1`` spreads the remainder
    instead and diverges whenever ``n % k != 0`` (e.g. n=23, k=10).
    """
    if n <= 0 or k <= 0:
        raise ValueError(f"ntile_from_rank needs n>0 and k>0, got n={n} k={k}")
    q, r = divmod(n, k)
    if q == 0:  # fewer rows than buckets: bucket == rank
        return rank.cast("int")
    cut = (q + 1) * r  # ranks 1..cut fall in the r wide buckets
    wide = F.floor((rank - 1) / F.lit(q + 1)) + 1
    narrow = F.lit(r) + F.floor((rank - 1 - cut) / F.lit(q)) + 1
    return F.when(rank <= cut, wide).otherwise(narrow).cast("int")


def grouped_sorted_apply(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """The reference's reduce contract: per group-key, the user function
    sees rows ordered by `order_cols` (sort comparator ≠ grouping
    comparator, ``Job.java:978,993``; group iteration
    ``mr-core/mapreduce/task/ReduceContextImpl.java:131,158``).

    Spark's groupBy does NOT order values (SURVEY §4.2) — this wrapper
    makes the contract explicit: hash-repartition on the group key, sort
    within partitions by (group, order), then applyInPandas receives each
    group as an ordered pandas DataFrame. Arrow-batched; scales with the
    number of groups.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    arranged = df.repartition(parts, *group_cols).sortWithinPartitions(*group_cols, *order_cols)
    # applyInPandas re-groups; the sort guarantees intra-group order is
    # already established so pandas receives rows in order.
    return arranged.groupBy(*group_cols).applyInPandas(fn, schema=output_schema)


def latest_by_key(
    df: DataFrame, key_cols: list[str], order_cols: list[Column | str]
) -> DataFrame:
    """Keep the single latest/winning record per key — the log-compaction
    / CDC-upsert idiom (the reference idiom is a secondary-sorted reduce
    that emits only the first value per key group,
    ``examples/SecondarySort.java:51`` reversed). ``order_cols`` are the
    recency order, HIGHEST first wins; include a unique tiebreaker for
    determinism. The rank()=1 filter compiles to WindowGroupLimit on
    Spark 4, so per-group state is O(1) — no full sort of the group."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1).drop("__rk")


def key_field_sort_keys(
    input_col: str, spec: list[tuple[int, bool, bool]], separator: str = " "
) -> list[Column]:
    """Compile a KeyFieldBasedComparator-style spec into expression sort
    keys: each item = (0-based field index, numeric?, reverse?) — the
    ``sort -k m[nr]`` subset. Arbitrary byte comparators are out of scope
    by design (SURVEY §7.3); sortable derived columns are the boundary.
    """
    import re

    arr = F.split(F.col(input_col), re.escape(separator), -1)
    keys = []
    for idx, numeric, reverse in spec:
        c = F.element_at(arr, idx + 1)
        if numeric:
            c = c.cast("double")
        keys.append(c.desc() if reverse else c.asc())
    return keys


def chunked_running_sum(
    df: DataFrame,
    group_cols: list[str],
    chunk_col: Column,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
) -> DataFrame:
    """Scale-safe grouped running (inclusive prefix) sum — the
    llm/packing.py two-level scan generalized: a plain
    ``sum().over(Window.partitionBy(group).orderBy(...))`` puts each
    group's ENTIRE history through one task, which melts when a group is
    corpus-sized (a hot event_type, a whole-table scan with one group).

    Level 1 windows within (group, chunk) — parallel across chunks of
    the same group; level 2 computes per-(group, chunk) totals and
    prefix-sums THOSE (a per-group window over chunk-summary rows only),
    joining the offsets back. ``chunk_col`` must be a deterministic
    value-based bucketing of the order columns (e.g. the day of a
    timestamp) so chunk order agrees with row order.

    The offsets table has one row per (group, chunk) — usually tiny, but
    with high-cardinality group_cols it can be data-sized, so the join
    strategy is left to AQE (which broadcasts when the built side is
    small) rather than forced with a broadcast hint that could exceed
    executor memory.

    Every row is kept, NULL keys included. The group columns and the
    chunk travel as ONE struct key, never NULL itself and equal field by
    field with NULL == NULL, so the offsets join back as a plain
    equi-join on the column the level-1 window is partitioned by (no
    extra exchange on the data side), and the group values ride the
    data shuffle once, inside the key. A NULL chunk orders first, as a
    NULL order value does. Callers that must leave NULL groups out
    filter them first. Output: the input columns, group columns first,
    plus ``out_col``.
    """
    from pyspark.sql import Window

    key = "__gk" if group_cols else "__chunk"
    rest = [c for c in df.columns if c not in group_cols]
    keyed = df.select(
        *rest, F.struct(*group_cols, chunk_col.alias("__chunk")).alias(key)
    )
    w_local = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = keyed.withColumn("__local", F.sum(value_col).over(w_local))
    # Totals: a map-side-combined rollup of the same rows per key. The
    # optimizer prunes the unused window from this branch, so it reads
    # the input again and exchanges its own partial sums (the data-side
    # exchange above is not reused).
    totals = local.groupBy(key).agg(F.sum(value_col).alias("__tot"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__cv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        key,
        "__tot",
        *[F.col(key)[c].alias(c) for c in group_cols],
        F.col(key)["__chunk"].alias("__cv"),
    ).select(key, F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"))
    return local.join(offsets, key).select(
        *[F.col(key)[c].alias(c) for c in group_cols],
        *rest,
        (F.col("__local") + F.col("__off")).alias(out_col),
    )
