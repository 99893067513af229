"""Join operators.

Parity targets (SURVEY.md §2.3):
- ``CompositeInputFormat`` map-side merge join — reference
  ``mr-core/mapreduce/lib/join/CompositeInputFormat.java:56`` with the
  ``inner(...)/outer(...)/override(...)`` expression grammar
  (``Parser.java:75``). Here the N-way composition is a chained
  ``DataFrame.join``; Catalyst picks sort-merge for big×big (shuffle-free
  when inputs are bucketed/pre-sorted on the key) and broadcast-hash for
  small sides — the same physical strategies the reference hand-builds.
- ``InnerJoinRecordReader.java:34`` → ``how='inner'``.
- ``OuterJoinRecordReader.java:34`` → ``how='full_outer'``.
- ``OverrideRecordReader.java:42`` (rightmost source wins per key) →
  full-outer N-way + ``coalesce`` with reversed source order.
- DataJoin reduce-side tagged join
  (``hadoop-tools/hadoop-datajoin/.../DataJoinReducerBase.java:33``):
  cross-product per key is exactly SQL inner-join semantics — no code
  needed beyond ``df.join``.
- Map-side hash join via DistributedCache idiom (``Job.java:1088``) →
  ``F.broadcast``.
- Semi/anti joins are not in the reference; Spark gives them natively and
  we expose them as first-class surface.

Scale notes: the composed join never materializes the tuple — Catalyst
reorders/pipelines; for 100 TB fact⋈fact, pre-bucket both sides on the
key (``df.write.bucketBy``) to get the reference's "no shuffle on
pre-partitioned sorted inputs" property.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compose_join(key: str | list[str], how: str, *dfs: DataFrame) -> DataFrame:
    """N-way join on a shared key — the ``compose()`` helper of
    CompositeInputFormat (reference ``CompositeInputFormat.java:151-185``).

    ``how='inner'`` emits keys present in ALL sources;
    ``how='full_outer'`` emits keys present in ANY source (missing sides
    null) — matching Inner/OuterJoinRecordReader semantics.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return reduce(lambda a, b: a.join(b, on=keys, how=how), dfs)


def override_join(key: str | list[str], value_col: str, *dfs: DataFrame) -> DataFrame:
    """Per key, emit the value from the RIGHTMOST source that has it —
    ``OverrideRecordReader.java:42`` precedence join.

    Implemented as a full-outer N-way join + ``coalesce`` over sources in
    reverse order. Each input must expose ``key`` and ``value_col``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    renamed = [df.select(*keys, F.col(value_col).alias(f"__v{i}")) for i, df in enumerate(dfs)]
    joined = compose_join(keys, "full_outer", *renamed)
    prec = [F.col(f"__v{i}") for i in reversed(range(len(dfs)))]
    return joined.select(*keys, F.coalesce(*prec).alias(value_col))


def broadcast_join(big: DataFrame, small: DataFrame, on, how: str = "inner") -> DataFrame:
    """Map-side hash join: small side shipped to every task — the
    DistributedCache-HashMap idiom (reference ``Job.java:1079-1104``),
    expressed as a broadcast-hash join."""
    return big.join(F.broadcast(small), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — engine surface beyond the reference (SURVEY §2.3 last row)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS — engine surface beyond the reference."""
    return left.join(right, on=on, how="left_anti")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    partition_col: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    suffix: str = "_asof",
    right_id: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    right_ts <= left_ts in the same partition key (ties: the right row
    at exactly left_ts matches).

    Whole-row semantics, like pd.merge_asof: the matched right row's
    value columns are taken together (a NULL in one value column of the
    matched row stays NULL — it is NOT skipped in favor of an older
    non-NULL value). Internally the right values ride in one struct, so
    last(ignorenulls) sees NULL only where no right row exists at all.

    Ties among right rows at the identical timestamp are broken
    deterministically: by `right_id` ascending when given (the matched
    row is the one with the GREATEST right_id at that timestamp), else
    by a hash of the value struct (arbitrary but stable across runs).

    Scalable formulation — NO per-row subquery and NO range cross
    product: union both sides tagged, one window pass per partition key
    carrying the last non-null right struct forward
    (last(ignorenulls) over rows-unbounded-preceding), then keep left
    rows. One shuffle on the partition key; works at any scale where a
    single key's timeline fits a partition (salt the key by time range
    if one entity's history is itself huge).

    The reference has no as-of join (SURVEY §2.3) — this is declared
    engine surface beyond parity; per-group pd.merge_asof via
    applyInPandas is the alternative when the window form doesn't fit.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    lcols = left.columns
    vals_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in right_value_cols]
    )
    if right_id is not None:
        tb = F.col(right_id)
        tb_type = right.schema[right_id].dataType
    else:
        from pyspark.sql.types import LongType

        tb = F.xxhash64(*[F.col(c) for c in right_value_cols])
        tb_type = LongType()
    r2 = right.select(
        F.col(partition_col),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        tb.alias("__tb"),
        F.struct(*[F.col(c).alias(c) for c in right_value_cols]).alias("__vals"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != partition_col],
    )
    l2 = left.select(
        F.col(partition_col),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(tb_type).alias("__tb"),
        F.lit(None).cast(vals_type).alias("__vals"),
        *[F.col(c) for c in lcols if c != partition_col],
    )
    unioned = r2.unionByName(l2)
    w = (
        Window.partitionBy(partition_col)
        .orderBy("__ts", "__tag", F.col("__tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*", F.last("__vals", ignorenulls=True).over(w).alias("__m")
    )
    return carried.filter(F.col("__tag") == 1).select(
        partition_col,
        *[F.col(c) for c in lcols if c != partition_col],
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_value_cols],
    )


def range_join(
    big: DataFrame, buckets: DataFrame, value_col: str, lo_col: str = "lo", hi_col: str = "hi"
) -> DataFrame:
    """Theta/range join: rows matched to [lo, hi) buckets. The bucket
    side is broadcast (BroadcastNestedLoopJoin) — correct strategy for
    a small range dimension at any fact-table scale; for big×big range
    joins, bucketize the range key to an equi-join prefix first."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return big.join(F.broadcast(buckets), cond)


def bucketized_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 1.0,
) -> DataFrame:
    """Big×big range join without a nested loop: both sides are mapped
    onto integer buckets of `bucket_width` (intervals explode into every
    bucket they overlap), the join becomes an equi-join on bucket id,
    and the exact [lo, hi) predicate filters within the bucket.

    Cost: |points| + Σ interval_span/bucket_width join rows — linear,
    shuffled on bucket id, instead of |points|×|intervals|. Pick
    bucket_width ≈ median interval span so intervals explode into O(1)
    buckets. This is the documented scale path of `range_join` for when
    the interval side is too big to broadcast.
    """
    pb = points.withColumn("__bucket", F.floor(F.col(point_col) / bucket_width).cast("long"))
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width).cast("long"),
                # hi is exclusive: a bucket starting exactly at hi can't match
                F.floor(
                    (F.col(hi_col) - F.lit(1e-9)) / bucket_width
                ).cast("long"),
            )
        ),
    )
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    return pb.join(ib, "__bucket").filter(cond).drop("__bucket")


def trailing_band_join(
    anchors: DataFrame,
    events: DataFrame,
    anchor_key: str,
    event_key: str,
    anchor_ts: str,
    event_ts: str,
    band_us: int,
) -> DataFrame:
    """Trailing time-band join made EQUI: pair every anchor row with the
    same-key event rows whose timestamp lies in the inclusive band
    [anchor_ts − band_us, anchor_ts] — the attribution-window /
    lookback-feature kernel.

    A plain key equi-join + band filter materializes P×E rows per key
    before filtering — a hot user with 10⁴ purchases and 10⁵ events is
    10⁹ join rows. Here both sides also carry an integer epoch bucket of
    width ``band_us`` (exact long division of unix_micros — no float
    anywhere), the anchor side explodes into the 2 buckets its band can
    span (floor((a−W)/W) == floor(a/W) − 1 exactly for W-wide bands), and
    the join key becomes (key, bucket): a hot key's fan-out is bounded by
    its per-band-width activity, not its lifetime totals, and the salt-free
    shuffle spreads one user across time. The exact band predicate then
    filters within the bucket — results are identical to the naive join.

    Bucketing is exact FLOOR division (x − pmod(x, W)) div W — integer
    ``div`` alone truncates toward zero, which mis-buckets pre-1970
    (negative-epoch) timestamps and would silently drop true band
    matches. The two sides must carry
    DISJOINT column names (the natural self-join shape needs the
    anchor side pre-renamed, e.g. user_id→p_user) — enforced here with
    a clear error instead of Spark's late AMBIGUOUS_REFERENCE. Output:
    anchor columns + event columns, band matches only (inner).
    """
    if band_us <= 0:
        raise ValueError(f"band_us must be positive, got {band_us}")
    overlap = set(anchors.columns) & set(events.columns)
    if overlap:
        raise ValueError(
            f"anchor/event column names must be disjoint, both have: "
            f"{sorted(overlap)} — rename the anchor side (e.g. "
            f"user_id -> p_user) before joining"
        )
    def _floor_bucket(ts_col: str) -> str:
        # exact integer floor-div: pmod makes the remainder non-negative,
        # so the subtraction is exactly divisible and div == floor for
        # EITHER sign of epoch (plain div truncates toward zero).
        x = f"unix_micros({ts_col})"
        return f"(({x} - pmod({x}, {band_us})) div {band_us})"

    a = anchors.withColumn(
        "__abkt",
        F.explode(
            F.array(
                F.expr(_floor_bucket(anchor_ts)) - 1,
                F.expr(_floor_bucket(anchor_ts)),
            )
        ),
    )
    e = events.withColumn("__ebkt", F.expr(_floor_bucket(event_ts)))
    band = (F.col(event_ts) <= F.col(anchor_ts)) & (
        F.unix_micros(F.col(anchor_ts)) - F.unix_micros(F.col(event_ts))
        <= band_us
    )
    return (
        a.join(
            e,
            (F.col(anchor_key) == F.col(event_key))
            & (F.col("__abkt") == F.col("__ebkt")),
        )
        .filter(band)
        .drop("__abkt", "__ebkt")
    )


def hash_prefilter_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    modulus: int = 1 << 22,
) -> DataFrame:
    """Semi-join with a broadcast hash-digest prefilter — Spark's
    runtime bloom-filter pattern (SPARK-32268's InjectRuntimeFilter)
    written out explicitly so it applies even where the optimizer
    declines to inject one.

    Stage 1 broadcasts the DISTINCT 8-byte digests of the small side's
    keys (``xxhash64 % modulus`` — at most min(|small|, modulus) longs,
    a bloom-filter-sized payload with a tunable false-positive rate of
    ~|small|/modulus) and drops every big-side row whose digest misses:
    a broadcast hash join, whole-stage codegen, zero shuffle of the big
    side. Stage 2 scrubs the false positives with the exact semi-join —
    whose shuffle now moves only the prefiltered survivors. Result is
    EXACTLY ``big ⋉ small`` (stage 1 can only drop rows stage 2 would
    drop); the win at 100 TB is the big-side shuffle shrinking by the
    prefilter's selectivity.
    """
    if modulus <= 0:
        raise ValueError(f"modulus must be positive, got {modulus}")
    digests = (
        small.select((F.pmod(F.xxhash64(F.col(key)), F.lit(modulus))).alias("__d"))
        .distinct()
    )
    pre = big.join(
        F.broadcast(digests),
        F.pmod(F.xxhash64(big[key]), F.lit(modulus)) == F.col("__d"),
        "left_semi",
    )
    return pre.join(small.select(key), key, "left_semi")


def global_as_of_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    right_value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join with NO partition key: for each left row, the right
    row with the greatest ``right_on`` <= ``left_on`` (ties at the exact
    key match). ``as_of_join`` puts each partition key's timeline
    through one window task — with a single global timeline that's the
    whole dataset, so this variant is the ``ops.sort._range_scan``
    "last" combine over the tagged union instead: range-partitioned on
    the key (right rows sort before left at equal keys), the last
    non-NULL right-row struct carried forward inside each partition and
    across partitions by the per-partition last-right summaries. Right
    keys must be unique (e.g. a cumulative grain); the struct tiebreak
    for duplicate keys is last-by-row-id within a partition, documented
    not guaranteed across the boundary.

    Returns left rows + matched right value columns (suffixed), NULL
    when no right key <= the left key exists anywhere."""
    from pyspark.sql.types import StructField, StructType

    from hadoop_fcfs_spark.ops.sort import _range_scan

    lcols = left.columns
    vals_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in right_value_cols]
    )
    r2 = right.select(
        F.col(right_on).alias("__kk"),
        F.lit(0).alias("__tag"),
        F.struct(*[F.col(c).alias(c) for c in right_value_cols]).alias("__vals"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l2 = left.select(
        F.col(left_on).alias("__kk"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(vals_type).alias("__vals"),
        *[F.col(c) for c in lcols],
    )
    out = _range_scan(
        r2.unionByName(l2), ["__kk", "__tag"], "last", ["__vals"], ["__m"]
    ).filter(F.col("__tag") == 1)
    return out.select(
        *[F.col(c) for c in lcols],
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_value_cols],
    )
