"""Statistical profiling operators: anomaly scoring, correlation,
mutual information.

Complements ops/validate.profile_table (nulls/distincts) with the
distribution-level statistics a data-quality pipeline monitors:
z-score anomaly flags on grain-level aggregates, linear correlation
between numeric columns, and mutual information between categorical
columns (the feature-redundancy / leakage screen).

Scale shape: every operator aggregates FIRST (grain rows or scalar
moments) and computes statistics on the aggregate — the raw table is
touched exactly once, map-side combined, and no window ever spans
data-sized input. MI's contingency table is |X|x|Y| categories —
assert that's small before calling (it's a categorical-column op, not
a join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _value_prefix(grain: DataFrame, arm_prefix: bool = False) -> DataFrame:
    """Exclusive prefix over a value grain whose FIRST column is the
    value: ``__before`` = rows strictly below each value (the prefix of
    ``__c``) and, with ``arm_prefix``, ``__cabef`` = the same prefix of
    arm a's count ``__ca``. One range-partitioned two-level scan
    (ops.sort.global_running_sum), never an unpartitioned window."""
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    k = 1 + arm_prefix
    return global_running_sum(
        grain, grain.columns[:1], ["__c", "__ca"][:k], ["__before", "__cabef"][:k],
        inclusive=False,
    )


def _rank_grain(
    rows: DataFrame, value: Column, arm: Column, arm_prefix: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The value grain under the rank statistics: the reference's
    SecondarySort shape (sort by score, one reducer scans ranks, SURVEY
    §2.5) without a global sort or a per-row rank.

    ``rows`` are the caller's filtered rows (NULL values are dropped
    there: they are never ranked), ``value`` the aliased value
    expression, ``arm`` the predicate of arm a. ONE map-side-combined
    shuffle builds the grain (value, ``__ca`` = arm a's count, ``__c`` =
    count(*)) as a waypoint, since it feeds both the prefix and the
    totals; :func:`_value_prefix` adds ``__before`` (and ``__cabef``),
    and ``__cb`` = c − c_a counts the other rows (arm b). Returns
    (prefix, totals), the totals one row (``__n`` = Σc, ``__na`` = Σc_a)
    that only the callers that broadcast it back ever run.

    Tie rule: equal values share one grain row, so a tie block of c
    rows above ``before`` lower ones holds ranks before+1 … before+c,
    and every row of it gets the block's average rank before + (c+1)/2
    — carried doubled as the exact integer :func:`_midrank2`."""
    from hadoop_fcfs_spark.caching import waypoint

    # __ca before __c: in the other order the grain's shuffles wrote
    # 7-14 % more (compressed) bytes at sf0.01, with the same plan
    grain = waypoint(
        rows.groupBy(value).agg(
            F.sum(F.when(arm, 1).otherwise(0)).cast("long").alias("__ca"),
            F.count("*").cast("long").alias("__c"),
        )
    )
    tot = grain.agg(
        F.sum("__c").cast("long").alias("__n"),
        F.sum("__ca").cast("long").alias("__na"),
    )
    before = _value_prefix(grain, arm_prefix)
    return before.withColumn("__cb", F.col("__c") - F.col("__ca")), tot


def _midrank2() -> Column:
    """Twice the average rank of a tie block of ``__c`` rows above
    ``__before`` lower ones: 2·before + c + 1, an exact integer."""
    return 2 * F.col("__before") + F.col("__c") + 1


def zscore_anomalies(
    df: DataFrame,
    group_cols: list[str],
    grain_col: Column,
    value_expr: Column,
    threshold: float = 2.0,
) -> DataFrame:
    """Grain-level anomaly detection: aggregate ``value_expr`` per
    (group, grain) — e.g. events per (event_type, day) — then z-score
    each grain row against ITS GROUP's mean/stddev and flag
    |z| > threshold. The aggregate-first shape: the window runs over
    grain summaries (days, not events), so a hot group never funnels
    raw rows through one task. Output: group_cols + (grain, metric,
    z_e6, is_anomaly)."""
    from hadoop_fcfs_spark.caching import waypoint

    # grain summaries feed BOTH the stats aggregation and the final
    # join; without a persist each consumer re-derives the lineage and
    # scans the raw table again (Catalyst does not dedupe common
    # DataFrame subplans) — waypoint keeps it to ONE raw scan
    grains = waypoint(
        df.groupBy(*group_cols, grain_col.alias("grain")).agg(
            value_expr.alias("metric")
        )
    )
    stats = grains.groupBy(*group_cols).agg(
        F.avg("metric").alias("__mu"),
        F.stddev_samp("metric").alias("__sd"),
    )
    z = (F.col("metric") - F.col("__mu")) / F.col("__sd")
    return (
        grains.join(stats, group_cols)
        .select(
            *group_cols,
            "grain",
            "metric",
            F.floor(z * 1_000_000).cast("long").alias("z_e6"),
            (F.abs(z) > threshold).alias("is_anomaly"),
        )
    )


def column_corr(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation matrix over numeric columns, upper triangle
    only: one pass over the data (all pairwise moments in a single
    aggregation — Spark compiles each corr() to its own partial
    moments, map-side combined). Output: (col_a, col_b, corr) rounded
    to 6 decimals (accumulation-order float noise sits at ~1e-12 for
    corpus-sized inputs; 6 decimals is stable AND catches real
    regressions)."""
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns, got {cols}")
    aggs = [
        F.corr(a, b).alias(f"{a}|{b}")
        for i, a in enumerate(cols)
        for b in cols[i + 1 :]
    ]
    row = df.agg(*aggs)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name.split("|")[0]).alias("col_a"),
                    F.lit(name.split("|")[1]).alias("col_b"),
                    F.round(F.col(f"`{name}`"), 6).alias("corr"),
                )
                for name in row.columns
            ]
        )
    )
    return row.select(pairs.alias("p")).select("p.col_a", "p.col_b", "p.corr")


def mutual_information(
    df: DataFrame, col_x: str, col_y: str
) -> DataFrame:
    """Mutual information I(X;Y) in nats between two categorical
    columns — the dependence/leakage screen feature pipelines run
    before training (a feature with high MI against the label grain is
    a leak; two features with MI ≈ H are redundant).

    I = Σ p(x,y) · ln(p(x,y) / (p(x)·p(y))) from the exact contingency
    table: one (x, y) count aggregation (map-side combined), marginals
    re-aggregated FROM the table (never a second data scan), one
    broadcast scalar N. Output: 1 row (mi_e6, n_x, n_y)."""
    from hadoop_fcfs_spark.caching import waypoint

    # the contingency table feeds marginals, total, the term join and
    # the cardinality row — persist it so the raw table is scanned ONCE
    # (re-derivation would re-scan per consumer)
    joint = waypoint(
        df.groupBy(F.col(col_x).alias("__x"), F.col(col_y).alias("__y")).agg(
            F.count("*").alias("__nxy")
        )
    )
    mx = joint.groupBy("__x").agg(F.sum("__nxy").alias("__nx"))
    my = joint.groupBy("__y").agg(F.sum("__nxy").alias("__ny"))
    total = joint.agg(F.sum("__nxy").cast("double").alias("__n"))
    terms = (
        joint.join(mx, "__x")
        .join(my, "__y")
        .crossJoin(F.broadcast(total))
        .select(
            (
                (F.col("__nxy") / F.col("__n"))
                * F.log(
                    (F.col("__nxy") * F.col("__n"))
                    / (F.col("__nx") * F.col("__ny"))
                )
            ).alias("__t")
        )
    )
    return terms.agg(
        F.floor(F.sum("__t") * 1_000_000).cast("long").alias("mi_e6")
    ).crossJoin(
        F.broadcast(
            joint.agg(
                F.countDistinct("__x").cast("long").alias("n_x"),
                F.countDistinct("__y").cast("long").alias("n_y"),
            )
        )
    )


def theil_u(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Theil's uncertainty coefficient U between two categorical
    columns, BOTH directions — the normalized, asymmetric member of
    the categorical-association family (:func:`mutual_information` is
    the raw nats, :func:`cramers_v` the symmetric χ²-based effect
    size; U(Y|X) = I(X;Y)/H(Y) answers "what fraction of Y's
    uncertainty does knowing X remove" and U(Y|X) ≠ U(X|Y) exposes
    WHICH column predicts which — the direction a leakage screen
    actually cares about).

    Exactness (token_entropy's floor-micro discipline, no
    order-dependent float sums): each entropy is H_e6 = ⌊ln N·10⁶⌋ −
    (Σ c·⌊ln c·10⁶⌋) div N with the weighted log sum an exact
    DECIMAL(38,0); I comes from the quantized identity I = H(X) +
    H(Y) − H(X,Y) (exact in the micro algebra, within a few µnats of
    the true value), and each U is one flooring BIGINT division.
    U NULL when the conditioning entropy is 0 (a constant column —
    no uncertainty to remove). mi_q_e6 is clamped at 0 (quantization
    can push an independent pair a few µ negative).

    Scale shape: ONE map-side-combined pass to the contingency grain
    (the mutual_information/cramers_v contract: observed cells only,
    marginals re-aggregated FROM the cells, never a second data
    scan), then three cell-grain aggregates broadcast-crossed.
    Output: 1 row (n, n_x, n_y, hx_e6, hy_e6, hxy_e6, mi_q_e6,
    theil_u_yx_e6, theil_u_xy_e6)."""
    from hadoop_fcfs_spark.caching import waypoint

    joint = waypoint(
        df.groupBy(F.col(col_x).alias("__x"), F.col(col_y).alias("__y")).agg(
            F.count("*").cast("long").alias("__nxy")
        )
    )

    def ent(cells: DataFrame, cnt_col: str, out: str) -> DataFrame:
        # H_e6 = lnn - (sum c*floor(ln c * 1e6)) div N, token_entropy's
        # per-term quantization: exact DECIMAL sum, order-independent
        m = cells.agg(
            F.sum(cnt_col).cast("long").alias("__N"),
            F.sum(
                F.col(cnt_col).cast("decimal(38,0)")
                * F.floor(F.log(F.col(cnt_col).cast("double")) * 1_000_000)
                .cast("long")
            ).cast("decimal(38,0)").alias("__sfl"),
            F.count("*").cast("long").alias("__k"),
        )
        return m.selectExpr(
            "__N",
            "__k",
            "CAST(CAST(FLOOR(LN(CAST(__N AS DOUBLE)) * 1000000) AS BIGINT)"
            f" - __sfl div __N AS BIGINT) AS {out}",
        )
    hx = ent(
        joint.groupBy("__x").agg(F.sum("__nxy").cast("long").alias("__c")),
        "__c", "hx_e6",
    ).selectExpr("__k AS n_x", "hx_e6")
    hy = ent(
        joint.groupBy("__y").agg(F.sum("__nxy").cast("long").alias("__c")),
        "__c", "hy_e6",
    ).selectExpr("__k AS n_y", "hy_e6")
    hxy = ent(joint, "__nxy", "hxy_e6").selectExpr("__N AS n", "hxy_e6")
    return (
        hxy.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .selectExpr(
            # empty input: counts pin to 0, entropies stay NULL (the
            # honest "undefined" answer), the Us NULL with them
            "COALESCE(n, 0) AS n",
            "COALESCE(n_x, 0) AS n_x",
            "COALESCE(n_y, 0) AS n_y",
            "hx_e6", "hy_e6", "hxy_e6",
            "GREATEST(CAST(0 AS BIGINT),"
            " CAST(hx_e6 + hy_e6 - hxy_e6 AS BIGINT)) AS mi_q_e6",
            "CASE WHEN hy_e6 > 0 THEN"
            " GREATEST(CAST(0 AS BIGINT),"
            "  CAST(hx_e6 + hy_e6 - hxy_e6 AS BIGINT)) * 1000000 div hy_e6"
            " END AS theil_u_yx_e6",
            "CASE WHEN hx_e6 > 0 THEN"
            " GREATEST(CAST(0 AS BIGINT),"
            "  CAST(hx_e6 + hy_e6 - hxy_e6 AS BIGINT)) * 1000000 div hx_e6"
            " END AS theil_u_xy_e6",
        )
    )


def key_skew_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key-distribution skew diagnostic — the planning report you run
    BEFORE choosing a partitioning/salting strategy (ops.skew has the
    cures; this measures the disease). One output row per analyzed key
    column:

        key_col, n_rows, n_keys, max_cnt, top10_cnt,
        top1_share_e6, top10_share_e6, cv_e6

    cv (coefficient of variation of the per-key counts) comes from the
    EXACT integer moments S1=Σc, S2=Σc² of the key-count table —
    aggregate-only, no sort over the key space — so the float math is
    two divisions and one sqrt over exact integers (engine-reproducible
    with identical expression shapes). top10 is a TakeOrdered over the
    count table (k-bounded). Per column: one count aggregation
    (map-side combined) + one moment aggregation over keys, never over
    rows.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    from hadoop_fcfs_spark.caching import waypoint

    outs = []
    for c in key_cols:
        # the count table feeds the moment agg AND the top-10 — persist
        # so each analyzed column scans the raw table once
        counts = waypoint(
            df.groupBy(F.col(c).alias("__k")).agg(F.count("*").alias("cnt"))
        )
        moments = counts.agg(
            F.count("*").alias("n_keys"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("__s2"),
            F.max("cnt").alias("max_cnt"),
        )
        top10 = (
            counts.orderBy(F.desc("cnt"), F.asc("__k"))
            .limit(10)
            .agg(F.sum("cnt").cast("long").alias("top10_cnt"))
        )
        nd = F.col("n_keys").cast("double")
        s1 = F.col("n_rows").cast("double")
        var = (F.col("n_keys") * F.col("__s2") - F.col("n_rows") * F.col("n_rows")).cast(
            "double"
        ) / (nd * nd)
        mean = s1 / nd
        row = moments.crossJoin(F.broadcast(top10)).select(
            F.lit(c).alias("key_col"),
            "n_rows",
            "n_keys",
            "max_cnt",
            "top10_cnt",
            F.floor(F.col("max_cnt") / s1 * 1_000_000).cast("long").alias("top1_share_e6"),
            F.floor(F.col("top10_cnt") / s1 * 1_000_000).cast("long").alias("top10_share_e6"),
            F.floor(F.sqrt(var) / mean * 1_000_000).cast("long").alias("cv_e6"),
        )
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def mad_anomalies(
    df: DataFrame,
    group_cols: list[str],
    grain_col: Column,
    value_expr: Column,
    threshold: float = 3.0,
) -> DataFrame:
    """Robust (median/MAD) grain-level anomaly detection — the
    outlier-resistant twin of zscore_anomalies: a single huge spike
    inflates the mean AND stddev enough to hide itself from a z-score,
    while the median and MAD (median absolute deviation) barely move.
    Flags |x - median| > threshold · 1.4826 · MAD (1.4826 scales MAD
    to sigma-equivalents under normality).

    Same aggregate-first shape as the z-score version: one raw-table
    pass to grain summaries, then two grouped EXACT percentiles over
    grain rows (days, not events) with a join between — group-bounded,
    no data-sized window. Groups with MAD = 0 (constant metric) emit
    NULL rz and never flag. Output: group_cols + (grain, metric,
    rz_e6, is_anomaly)."""
    from hadoop_fcfs_spark.caching import waypoint

    grains = waypoint(
        df.groupBy(*group_cols, grain_col.alias("grain")).agg(
            value_expr.alias("metric")
        )
    )
    med = grains.groupBy(*group_cols).agg(
        F.percentile("metric", F.lit(0.5)).alias("__med")
    )
    # deviations feed the MAD percentile AND the final projection
    dev = waypoint(
        grains.join(med, group_cols).withColumn(
            "__ad", F.abs(F.col("metric") - F.col("__med"))
        )
    )
    mad = dev.groupBy(*group_cols).agg(
        F.percentile("__ad", F.lit(0.5)).alias("__mad")
    )
    scale = F.lit(1.4826) * F.col("__mad")
    rz = (F.col("metric") - F.col("__med")) / scale
    return dev.join(mad, group_cols).select(
        *group_cols,
        "grain",
        "metric",
        F.when(F.col("__mad") > 0, F.floor(rz * 1_000_000).cast("long")).alias("rz_e6"),
        ((F.col("__mad") > 0) & (F.col("__ad") > F.lit(threshold) * scale)).alias(
            "is_anomaly"
        ),
    )


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
    chunk_of,
) -> DataFrame:
    """2D Pareto frontier (skyline, maximize both dimensions): keep the
    (x, y) points not dominated by any other point — no q with
    q.x > p.x and q.y >= p.y, after collapsing ties on x to their best
    y. The classic "best tradeoff curve" query (price vs recency,
    quality vs cost).

    Scale shape: the naive formulation is an all-pairs NOT EXISTS
    (quadratic) or a full-table running max over one sort (one task).
    This is the chunked_running_sum two-level scan with MAX as the
    monoid: (1) collapse to one row per distinct x (groupBy — the only
    data-sized shuffle), (2) STRICT-prefix running max of y within each
    chunk ordered by x desc, (3) prefix max OVER chunk maxima (a window
    on the chunk-summary rows only), (4) keep rows whose y beats both.
    ``chunk_of`` maps the x column to a deterministic MONOTONE bucket
    (e.g. the year of a date) so chunk order agrees with x order;
    windows never span more than one chunk of distinct-x rows.

    Reference analog: secondary-sort + single-reducer sweep (the
    MapReduce skyline idiom); here the sweep is parallel per chunk.
    Output: (x_col, y_col) frontier vertices."""
    from pyspark.sql import Window

    best = (
        df.groupBy(F.col(x_col).alias("__x"))
        .agg(F.max(y_col).alias("__y"))
        .withColumn("__chunk", chunk_of(F.col("__x")))
    )
    w_local = (
        Window.partitionBy("__chunk")
        .orderBy(F.col("__x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = best.withColumn("__lmax", F.max("__y").over(w_local))
    chunk_max = best.groupBy("__chunk").agg(F.max("__y").alias("__cmax"))
    w_off = (
        Window.orderBy(F.col("__chunk").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # chunk-summary rows only (one per chunk) — bounded by construction
    offsets = chunk_max.withColumn("__omax", F.max("__cmax").over(w_off)).select(
        "__chunk", "__omax"
    )
    dominated_by = F.greatest(
        F.coalesce(F.col("__lmax"), F.lit(float("-inf"))),
        F.coalesce(F.col("__omax"), F.lit(float("-inf"))),
    )
    return (
        local.join(offsets, "__chunk")
        .filter(F.col("__y") > dominated_by)
        .select(F.col("__x").alias(x_col), F.col("__y").alias(y_col))
    )


def theil_sen_trend(
    grains: DataFrame,
    group_cols: list[str],
    idx_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend per group: slope = median of all pairwise
    slopes (y_j − y_i)/(x_j − x_i), intercept = median residual — the
    outlier-resistant twin of the REGR_* least-squares fit
    (volume_trend): a single wild day barely moves the median of
    slopes, while it drags OLS arbitrarily.

    Scale shape: expects GRAIN rows (aggregate first); each group's
    points collapse to ONE sorted array and the O(grid²) pair slopes
    are generated inside it (one explode, no grain self-join) — the
    quadratic is bounded by the calendar grid, never by event count.
    Two grouped exact percentiles; division-only float math. Requires
    unique idx per (group, idx) — i.e. genuine grain rows.

    Output: group_cols + (n_points, slope, intercept)."""
    pts = grains.groupBy(*group_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(idx_col).alias("x"), F.col(value_col).alias("y")))
        ).alias("__pts")
    )
    arr = F.col("__pts")
    slopes = F.flatten(
        F.transform(
            arr,
            lambda p, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda q: (q["y"] - p["y"]) * F.lit(1.0) / (q["x"] - p["x"]),
            ),
        )
    )
    sl = (
        pts.select(*group_cols, F.size(arr).alias("n_points"), F.explode(slopes).alias("__s"))
        .groupBy(*group_cols, "n_points")
        .agg(F.percentile("__s", F.lit(0.5)).alias("slope"))
    )
    resid = (
        grains.join(sl, group_cols)
        .select(
            *group_cols,
            (F.col(value_col) - F.col("slope") * F.col(idx_col)).alias("__r"),
        )
        .groupBy(*group_cols)
        .agg(F.percentile("__r", F.lit(0.5)).alias("intercept"))
    )
    return sl.join(resid, group_cols).select(
        *group_cols, "n_points", "slope", "intercept"
    )


def chi_squared_independence(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns: X² = Σ (observed − expected)² / expected over the exact
    contingency table, dof = (|X|−1)(|Y|−1) — the significance-flavored
    sibling of mutual_information (same table, different statistic).

    Same aggregate-of-aggregate shape: one (x, y) count pass (map-side
    combined), marginals re-aggregated from the table, one broadcast
    scalar N. All counts integer; the statistic is division-only float.
    Output: 1 row (chi2_e6, dof, n)."""
    from hadoop_fcfs_spark.caching import waypoint

    joint = waypoint(
        df.groupBy(F.col(col_x).alias("__x"), F.col(col_y).alias("__y")).agg(
            F.count("*").alias("__nxy")
        )
    )
    mx = joint.groupBy("__x").agg(F.sum("__nxy").alias("__nx"))
    my = joint.groupBy("__y").agg(F.sum("__nxy").alias("__ny"))
    total = joint.agg(F.sum("__nxy").cast("double").alias("__n"))
    # observed cells only, plus the missing-cell correction: cells with
    # observed 0 contribute exactly `expected`, and Σ expected over ALL
    # cells is N — so X² = Σ_obs((o-e)²/e - e) + N, no dense cross join
    exp = F.col("__nx") * F.col("__ny") / F.col("__n")
    terms = (
        joint.join(mx, "__x")
        .join(my, "__y")
        .crossJoin(F.broadcast(total))
        .select(
            (
                (F.col("__nxy") - exp) * (F.col("__nxy") - exp) / exp - exp
            ).alias("__t")
        )
    )
    card = joint.agg(
        F.countDistinct("__x").alias("__cx"),
        F.countDistinct("__y").alias("__cy"),
        F.sum("__nxy").cast("long").alias("n"),
    )
    return (
        terms.agg(F.sum("__t").alias("__s"))
        .crossJoin(F.broadcast(card))
        .select(
            F.floor((F.col("__s") + F.col("n")) * 1_000_000).cast("long").alias("chi2_e6"),
            ((F.col("__cx") - 1) * (F.col("__cy") - 1)).cast("long").alias("dof"),
            F.col("n"),
        )
    )


def two_proportion_ztest(
    df: DataFrame,
    variant_col: Column,
    success_agg: Column,
    unit_col: str,
) -> DataFrame:
    """A/B conversion test: pooled two-proportion z-statistic between
    variant FALSE (control) and TRUE (treatment), computed per UNIT
    (the correct grain for conversion tests — events per user are not
    independent trials). ``success_agg`` is a boolean AGGREGATE over
    one unit's rows (e.g. ``F.max(cond.cast("int")) == 1`` for
    converted-at-all, or a count threshold for engagement metrics).

    One unit-grain aggregation, then a 4-integer scalar reduce; z is
    division-only float over exact integers, NULL when the pooled
    standard error is 0 (degenerate all-converted / none-converted
    splits) or either arm is empty. Output: 1 row (n_control,
    conv_control, n_treat, conv_treat, z_e6)."""
    units = df.groupBy(F.col(unit_col)).agg(
        F.max(variant_col.cast("int")).alias("__v"),
        success_agg.cast("int").alias("__s"),
    )
    c = units.agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0)).cast("long").alias("n_control"),
        F.sum(F.when((F.col("__v") == 0) & (F.col("__s") == 1), 1).otherwise(0))
        .cast("long").alias("conv_control"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0)).cast("long").alias("n_treat"),
        F.sum(F.when((F.col("__v") == 1) & (F.col("__s") == 1), 1).otherwise(0))
        .cast("long").alias("conv_treat"),
    )
    p1 = F.col("conv_control") / F.col("n_control")
    p2 = F.col("conv_treat") / F.col("n_treat")
    pp = (F.col("conv_control") + F.col("conv_treat")) / (
        F.col("n_control") + F.col("n_treat")
    )
    se = F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_control") + 1.0 / F.col("n_treat")))
    # The empty-arm guard must wrap the se>0 test too: under ANSI Spark,
    # evaluating p1/p2/se with n==0 throws DIVIDE_BY_ZERO before the
    # inner WHEN could return NULL. Nested CASE short-circuits.
    z = F.when(se > 0, F.floor((p2 - p1) / se * 1_000_000).cast("long"))
    return c.select(
        "n_control", "conv_control", "n_treat", "conv_treat",
        F.when(
            (F.col("n_control") > 0) & (F.col("n_treat") > 0), z
        ).alias("z_e6"),
    )


def population_stability_index(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """PSI drift score between a reference and a current sample of a
    numeric column over FIXED equal-width bins on [lo, hi] (fixed bins
    keep the statistic engine-replayable and ref/cur comparable;
    out-of-range values clamp into the edge bins, the standard
    scorecard-monitoring convention): PSI = Σ (p_cur − p_ref) ·
    ln(p_cur / p_ref), add-half-count smoothed so empty bins stay
    finite. < 0.1 stable, > 0.25 shifted.

    One count aggregation per side over the binned value (map-side
    combined), a bins-sized join, one scalar row each. Output: 1 row
    (psi_e6, n_ref, n_cur)."""
    if not (hi > lo and n_bins >= 2):
        raise ValueError("need hi > lo and n_bins >= 2")
    width = (hi - lo) / n_bins

    def binned(d: DataFrame, name: str) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col) - lo) / width).cast("long"), F.lit(0)
            ),
            F.lit(n_bins - 1),
        )
        return d.groupBy(b.alias("bin")).agg(F.count("*").alias(name))

    r = binned(ref, "__nr")
    c = binned(cur, "__nc")
    tr = r.agg(F.sum("__nr").cast("double").alias("__tr"))
    tc = c.agg(F.sum("__nc").cast("double").alias("__tc"))
    joined = (
        r.join(c, "bin", "full_outer")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tc))
    )
    pr = (F.coalesce(F.col("__nr"), F.lit(0)) + 0.5) / (F.col("__tr") + 0.5 * n_bins)
    pc = (F.coalesce(F.col("__nc"), F.lit(0)) + 0.5) / (F.col("__tc") + 0.5 * n_bins)
    return (
        joined.select(
            ((pc - pr) * F.log(pc / pr)).alias("__t"),
            F.col("__tr"), F.col("__tc"),
        )
        .groupBy("__tr", "__tc")
        .agg(F.sum("__t").alias("__psi"))
        .select(
            F.floor(F.col("__psi") * 1_000_000).cast("long").alias("psi_e6"),
            F.col("__tr").cast("long").alias("n_ref"),
            F.col("__tc").cast("long").alias("n_cur"),
        )
    )


def kaplan_meier(
    durations: DataFrame,
    duration_col: str,
    censored_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimator over integer durations (user
    lifetime in days, onboarding-to-churn, ticket age): at each
    duration t with observed (uncensored) exits, S(t) = Π_{s≤t}
    (1 − d_s/n_s), where n_s counts subjects still at risk (duration ≥
    s) and d_s the uncensored exits at s. Right-censored subjects
    (still active at observation end) leave the risk set without
    counting as exits — dropping them instead is the classic retention
    anti-pattern this operator exists to avoid.

    Scale shape: one subject-level aggregation to (duration, exits,
    total) GRAIN rows; n_s is total − prefix-sum and S(t) is
    exp(Σ ln(1 − d/n)) — both windows run over the duration-grain
    summary (days, not subjects). surv_e6 is ROUNDED, not floored: the
    true survival is a product of small rationals that often lands
    EXACTLY on a 1e-6 multiple, and the exp/ln reconstruction sits one
    ulp either side of it per engine — floor would split engines at
    those values (seen live at sf0.1), round reunites them. Output
    rows only at durations with exits: (t, n_risk, d_events,
    surv_e6)."""
    from hadoop_fcfs_spark.caching import waypoint
    from pyspark.sql import Window

    grain = waypoint(
        durations.groupBy(F.col(duration_col).alias("t")).agg(
            F.sum(F.when(~F.col(censored_col), 1).otherwise(0)).alias("__d"),
            F.count("*").alias("__all"),
        )
    )
    total = grain.agg(F.sum("__all").alias("__n"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # duration-grain summary windows: bounded by the observation span
    at_risk = (
        grain.crossJoin(F.broadcast(total))
        .withColumn("__left", F.coalesce(F.sum("__all").over(w_prev), F.lit(0)))
        .withColumn("n_risk", (F.col("__n") - F.col("__left")).cast("long"))
    )
    # Exhausted risk set (d == n): the step factor is 0 and S(t) must hit
    # 0 exactly from that t onward. Under Spark ln(0) is NULL and the
    # window SUM would silently DROP it, freezing S at the previous value
    # — emit -inf instead, which the SUM propagates and exp() maps to 0
    # (IEEE semantics, identical in DuckDB via CAST('-inf' AS DOUBLE)).
    step = F.when(
        F.col("__d") < F.col("n_risk"),
        F.log(1.0 - F.col("__d") / F.col("n_risk")),
    ).otherwise(F.lit(float("-inf")))
    surv = F.exp(F.sum(step).over(w_run))
    return (
        at_risk.withColumn("__s", surv)
        .filter(F.col("__d") > 0)
        .select(
            F.col("t").cast("long").alias("t"),
            "n_risk",
            F.col("__d").cast("long").alias("d_events"),
            F.round(F.col("__s") * 1_000_000).cast("long").alias("surv_e6"),
        )
    )


def spearman_corr(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotone-dependence screen (Pearson's column_corr misses nonlinear
    but monotone relations; Spearman is Pearson ON AVERAGE RANKS, ties
    sharing their fractional mean rank).

    Scale shape: ranks are NOT computed with a global row window — each
    column collapses to its distinct-VALUE grain (count per value), the
    average rank of a value comes from :func:`_value_prefix` and the
    :func:`_midrank2` tie rule, and rows join their rank back on the
    value, so even a CONTINUOUS column — where the distinct-value grain
    is data-sized — never collapses into one window task. The
    per-column grain is not a waypoint (one consumer each), so it uses
    only the prefix half of :func:`_rank_grain`. The final Pearson over
    rank pairs is one moment aggregation. Output: 1 row (spearman
    rounded @6, n)."""
    from hadoop_fcfs_spark.caching import waypoint

    def avg_ranks(c: str, alias: str) -> DataFrame:
        grain = df.groupBy(F.col(c).alias("__v")).agg(F.count("*").alias("__c"))
        return _value_prefix(grain).withColumn(
            alias, _midrank2() / 2.0
        ).select(F.col("__v").alias(c), alias)
    base = waypoint(df.select(col_x, col_y))
    rx = avg_ranks(col_x, "__rx")
    ry = avg_ranks(col_y, "__ry")
    ranked = base.join(rx, col_x).join(ry, col_y)
    return ranked.agg(
        F.round(F.corr("__rx", "__ry"), 6).alias("spearman"),
        F.count("*").cast("long").alias("n"),
    )


def weighted_median(
    df: DataFrame, value_col: str, weight_col: str
) -> DataFrame:
    """Weighted (lower) median: the smallest value whose cumulative
    weight reaches half the total — the price-where-half-the-VOLUME-
    trades question that the unweighted median gets wrong whenever
    weight correlates with value.

    Scale shape: collapse to the distinct-VALUE grain (sum of weights
    per value — the only data-sized pass, map-side combined), prefix-
    sum the grain through ops.sort.global_running_sum (range-
    partitioned two-level scan — a continuous value column's grain is
    data-sized, so the cumulative sum must not be a single-task
    window), keep the first crossing (min value with 2·cum ≥ total).
    Integer weights keep the crossing comparison exact across engines.
    Output: 1 row (wmedian, total_weight)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    grain = waypoint(
        df.groupBy(F.col(value_col).alias("__v")).agg(
            F.sum(F.col(weight_col).cast("long")).alias("__w")
        )
    )
    total = grain.agg(F.sum("__w").alias("__tot"))
    cum = global_running_sum(grain, ["__v"], "__w", out_col="__cum")
    return (
        cum.crossJoin(F.broadcast(total))
        .filter(2 * F.col("__cum") >= F.col("__tot"))
        .agg(
            F.min("__v").alias("wmedian"),
            F.max("__tot").cast("long").alias("total_weight"),
        )
    )


def hodges_lehmann_shift(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Hodges–Lehmann shift estimator: the median of all pairwise
    differences a_i − b_j between two groups — the EFFECT-SIZE
    companion to :func:`mann_whitney_u` (MWU says "the distributions
    differ"; HL says "by this much", robustly — unlike the difference
    of means it ignores outliers, and unlike the difference of
    medians it uses every pair). The rank-family counterpart of
    effect_sizes' Cohen's d.

    Input values must be INTEGERS (counts, cents, micros) so the
    estimator is exact: the 2x-median idiom reports hl2_shift =
    lower-median + upper-median of the n_a·n_b differences (divide by
    2 downstream; for odd pair counts both crossings coincide).

    Scale shape: each group collapses to its distinct-VALUE grain
    first (map-side combined — the caller should already be passing a
    bounded grain, e.g. daily counts, since the pair grid is
    |V_A|·|V_B| — quadratic in the GRAIN, never in the data), then the
    difference distribution is a cross join of the two grains with
    weight c_a·c_b, re-collapsed to the difference grain, prefix-
    summed through ops.sort.global_running_sum (range-partitioned —
    no single-task window), and the two central order statistics are
    the first threshold crossings (the weighted_median 2·cum rule).
    Output: 1 row (n_a, n_b, n_pairs, hl2_shift)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    base = df.filter(F.col(value_col).isNotNull())
    ga = waypoint(
        base.filter(F.col(group_col) == group_a)
        .groupBy(F.col(value_col).cast("long").alias("__va"))
        .agg(F.count("*").cast("long").alias("__ca"))
    )
    gb = waypoint(
        base.filter(F.col(group_col) == group_b)
        .groupBy(F.col(value_col).cast("long").alias("__vb"))
        .agg(F.count("*").cast("long").alias("__cb"))
    )
    grain = waypoint(
        ga.crossJoin(gb)
        .groupBy((F.col("__va") - F.col("__vb")).alias("__d"))
        .agg(F.sum(F.col("__ca") * F.col("__cb")).cast("long").alias("__w"))
    )
    tot = grain.agg(F.sum("__w").cast("long").alias("__np"))
    cumt = global_running_sum(grain, ["__d"], "__w", out_col="__cum").crossJoin(
        F.broadcast(tot)
    )
    lo = cumt.filter(2 * F.col("__cum") >= F.col("__np")).agg(
        F.min("__d").alias("__lo")
    )
    hi = cumt.filter(
        2 * F.col("__cum") >= F.col("__np") + 2 - F.col("__np") % 2
    ).agg(F.min("__d").alias("__hi"))
    na = ga.agg(F.sum("__ca").cast("long").alias("n_a"))
    nb = gb.agg(F.sum("__cb").cast("long").alias("n_b"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .selectExpr(
            "n_a", "n_b", "__np AS n_pairs",
            "CAST(__lo + __hi AS BIGINT) AS hl2_shift",
        )
    )


def wilson_lower_bound(
    successes: Column, trials: Column, z: float = 1.96
) -> Column:
    """Wilson-score lower confidence bound for a binomial proportion —
    the correct way to RANK conversion/success rates across arms with
    very different sample sizes (a 2/2 channel must not outrank a
    480/520 one; the naive rate and the normal-approximation interval
    both get this wrong at small n).

    Division-only float over exact integer (successes, trials) inputs
    with a single correctly-rounded sqrt — the expression shape is kept
    flat so an ANSI-SQL mirror built the same way produces bit-identical
    doubles. NULL when trials == 0 (guarded BEFORE any division — ANSI
    division by zero throws)."""
    s = successes.cast("double")
    n = trials.cast("double")
    z2 = z * z
    p = s / n
    center = p + z2 / (2 * n)
    margin = z * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    # clamp: at p=0 the exact bound is 0 but center/margin cancel one
    # ulp apart, leaving ~-2e-17 which would floor-quantize to -1
    return F.when(
        trials > 0,
        F.greatest(F.lit(0.0), (center - margin) / (1 + z2 / n)),
    )


def emd_two_sample(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Exact 1-D earth mover's distance (Wasserstein-1) between two
    groups of an INTEGER-valued column: W₁ = ∫|F_A − F_B| dv — the
    drift measure that completes the family with a magnitude KS lacks
    (KS = worst vertical ECDF gap, unit-free; PSI/JSD need binning
    choices; EMD integrates the gap in the MEASUREMENT'S OWN UNITS,
    so "the price distribution moved by ~$3.20" is readable straight
    off it). Integer values (cents, counts — caller quantizes) make
    it exact: over the value grain, W₁·n_A·n_B = Σ (v_next − v) ·
    |cumA·n_B − cumB·n_A|, every term an exact product, summed in
    DECIMAL(38,0) (the HUGEINT parity route); emd_value_e6 is one
    truncating division back to value units × 1e6.

    Scale shape (the ks_two_sample contract): one map-side-combined
    collapse to the value grain, then ONE global_running_sum pass
    carrying THREE running columns (cumA, cumB, rank — the multi-
    column ride, no second scan), and the v_next lookup is a rank
    equi-join (rank = rank+1) — the range-partitioned LEAD, never a
    single-task window. The max row has no successor and drops from
    the sum (its gap is 0 by construction: both CDFs are 1).
    Output: 1 row (n_a, n_b, emd_value_e6)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    grain = waypoint(
        df.filter(
            F.col(value_col).isNotNull()
            & F.col(group_col).isin([group_a, group_b])
        )
        .groupBy(F.col(value_col).cast("long").alias("__v"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, 1).otherwise(0)
            ).cast("long").alias("__ca"),
            F.sum(
                F.when(F.col(group_col) == group_b, 1).otherwise(0)
            ).cast("long").alias("__cb"),
        )
        .withColumn("__one", F.lit(1).cast("long"))
    )
    tot = grain.agg(
        F.sum("__ca").cast("long").alias("__na"),
        F.sum("__cb").cast("long").alias("__nb"),
    )
    cums = waypoint(
        global_running_sum(
            grain, ["__v"], ["__ca", "__cb", "__one"],
            out_col=["__cua", "__cub", "__rk"],
        ).select("__v", "__cua", "__cub", "__rk")
    )
    nxt = cums.select(
        (F.col("__rk") - 1).alias("__rk"), F.col("__v").alias("__nv")
    )
    terms = (
        cums.join(nxt, "__rk")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("__nv") - F.col("__v")).cast("decimal(38,0)")
                * F.abs(
                    F.col("__cua") * F.col("__nb")
                    - F.col("__cub") * F.col("__na")
                )
            ).alias("__t")
        )
        .agg(F.sum("__t").cast("decimal(38,0)").alias("__w1"))
    )
    return terms.crossJoin(F.broadcast(tot)).selectExpr(
        "__na AS n_a", "__nb AS n_b",
        "CASE WHEN __na > 0 AND __nb > 0 THEN"
        " CAST((COALESCE(__w1, 0) * 1000000)"
        " div (CAST(__na AS DECIMAL(38,0)) * __nb) AS BIGINT)"
        " END AS emd_value_e6",
    )


def ks_two_sample(
    df: DataFrame, value_col: str, group_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic: the maximum vertical
    gap between the empirical CDFs of ``value_col`` in groups A and B —
    the standard nonparametric screen for "did this distribution shift"
    (drift monitoring between cohorts/snapshots), sensitive to location,
    scale AND shape changes where PSI needs binning choices.

    Scale shape (reference parity: distribution audits that classic
    MapReduce jobs ran as sorted-reduce scans): collapse to the
    distinct-VALUE grain with per-group counts (one data-sized pass,
    map-side combined), cumulative counts via TWO passes of
    ops.sort.global_running_sum over the grain (range-partitioned
    two-level prefix sum — a continuous column's grain is data-sized,
    so no single-task window), then D = max over grain rows of
    |cumA/nA - cumB/nB|. Every per-row double is built from exact
    BIGINT counts with one division each (correctly rounded, identical
    cross-engine), and max() is order-independent — so the floor-micro
    output is deterministic. Output: 1 row (d_e6, n_a, n_b)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    # NULL values have no place on an ECDF axis (and NULL grain keys
    # sort differently across engines) — excluded, like every
    # distribution op in this tier
    grain = waypoint(
        df.filter(
            F.col(group_col).isin([group_a, group_b])
            & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0))
            .cast("long")
            .alias("__ca"),
            F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0))
            .cast("long")
            .alias("__cb"),
        )
    )
    cum = global_running_sum(
        grain, ["__v"], ["__ca", "__cb"], out_col=["__cuma", "__cumb"]
    )
    totals = grain.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    # nullif denominators: an EMPTY arm must yield NULL D, not an ANSI
    # divide-by-zero (the two_proportion_ztest lesson from ADVICE r4)
    gap = F.abs(
        F.col("__cuma").cast("double")
        / F.nullif(F.col("__na"), F.lit(0)).cast("double")
        - F.col("__cumb").cast("double")
        / F.nullif(F.col("__nb"), F.lit(0)).cast("double")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.floor(F.max(gap) * 1_000_000).cast("long").alias("d_e6"),
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
        )
    )


def mann_whitney_u(
    df: DataFrame, value_col: str, group_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: does group A's
    distribution stochastically dominate group B's — the nonparametric
    two-sample location test (Welch's t assumes near-normal means; this
    ranks instead, robust to outliers and skew).

    Scale shape: the value grain with per-group counts and its
    exclusive prefix (:func:`_rank_grain`) give each value's rank
    block, and the rank-sum uses average ranks for ties — all in exact
    BIGINT by carrying 2x quantities: 2*R_A = sum over values of
    ca * :func:`_midrank2`. Output u2 = 2*U_A exactly; z uses the
    normal approximation WITH tie correction, built from exact integer
    aggregates (sum of c^3 - c over tie groups).

    Integer bounds (documented, ANSI throws on overflow rather than
    corrupting): 2*R_A <= n_a*(2N+1) needs N < ~2.1e9 rows in the two
    groups combined; the tie term needs the largest tie group < ~2.1e6
    rows. Beyond that, pre-quantize values to a coarser grain. NULL z
    when either arm is empty or the tie-corrected variance is 0 (all
    values identical)."""
    g = F.col(group_col)
    before, _ = _rank_grain(
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull()),
        F.col(value_col).alias("__v"),
        g == group_a,
    )
    agg = before.agg(
        F.sum(F.col("__ca") * _midrank2()).alias("__r2a"),
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("__ties"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    n = na + nb
    u2 = F.col("__r2a") - na * (na + 1)  # = 2 * U_A, exact BIGINT
    nad, nbd, nd = (
        na.cast("double"),
        nb.cast("double"),
        n.cast("double"),
    )
    # Var(U) with tie correction: na*nb/12 * ((N+1) - sum(c^3-c)/(N(N-1)))
    # nullif the N(N-1) denominator: with fewer than 2 pooled rows the
    # tie correction is undefined and z must be NULL, not an ANSI error
    var_u = (
        nad * nbd / 12.0
        * (
            (nd + 1.0)
            - F.col("__ties").cast("double")
            / F.nullif(nd * (nd - 1.0), F.lit(0.0))
        )
    )
    # z on the 2x scale: (2U - na*nb) / (2*sd)
    z = (u2.cast("double") - nad * nbd) / (2.0 * F.sqrt(var_u))
    return agg.select(
        u2.cast("long").alias("u2"),
        F.when(
            (na > 0) & (nb > 0) & (var_u > 0),
            F.floor(z * 1_000_000).cast("long"),
        ).alias("z_e6"),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
    )


def brunner_munzel(
    df: DataFrame, value_col: str, group_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Brunner–Munzel test (generalized Wilcoxon, Brunner & Munzel
    2000): tests P(A < B) + ½P(A = B) = ½ WITHOUT the equal-variance /
    equal-shape assumption :func:`mann_whitney_u` inherits — the
    rank-world analogue of Welch-vs-Student. MWU's normal z is exact
    only under exchangeability; when the two arms have different
    spread (the common real case: a treatment that also widens the
    distribution), BM's studentized statistic with Welch–Satterthwaite
    df is the textbook replacement.

    Exactness on the MWU substrate: :func:`_rank_grain` with the
    group-A prefix as well (pooled ``__before`` and group-A
    ``__cabef``; group B's prefix is their difference), then all rank
    moments are exact integers on the 2x midrank scale: 2R̄ sums r2g =
    Σ c_g·(2·bef + c + 1), and the BM rank-variance sums collapse per
    VALUE because tied observations share both their pooled and
    within-group midrank: with dg = 2·(pooled − within midrank) = 2bef
    + c − 2bef_g − c_g and centered gg = n_g·dg − r2g + n_g(n_g+1),
    Q_g = Σ c_g·gg² is an exact DECIMAL(38,0) sum and
    S_g² = Q_g/(4·n_g²·(n_g−1)). The statistic and df are then flat
    float expressions over those integers (identical shape both
    engines): with T_g = Q_g/(n_g(n_g−1)), W = (n_a·r2b −
    n_b·r2a)/(N·√(T_a+T_b)) and df = (T_a+T_b)²/(T_a²/(n_a−1) +
    T_b²/(n_b−1)). The common-language effect estimate p̂ =
    P(A<B)+½P(A=B) = (r2b − n_b(n_b+1)) div (2·n_a·n_b) floors to micros
    on nonnegative BIGINTs (r2b is minimal exactly when every B ranks
    below every A).

    Integer bounds (documented; ANSI throws rather than corrupting):
    |gg| ≤ ~3·n_g·N so Q_g ≤ ~9·n_g³·N² — DECIMAL(38,0) holds it for
    N up to ~5·10⁷ pooled rows; beyond that pre-quantize values to a
    coarser grain (same remedy as MWU's tie-term bound). NULL w/df
    when either arm has < 2 rows or both rank variances are 0 (the
    degenerate all-tied case — scipy warns, we NULL). Output: 1 row
    (n_a, n_b, phat_e6, w_e6, df_e3)."""
    dec = "decimal(38,0)"
    g = F.col(group_col)
    before, _ = _rank_grain(
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull()),
        F.col(value_col).alias("__v"),
        g == group_a,
        arm_prefix=True,
    )
    tot = before.agg(
        F.sum("__ca").cast("long").alias("__na"),
        F.sum("__cb").cast("long").alias("__nb"),
        F.sum(F.col("__ca") * _midrank2()).cast("long").alias("__r2a"),
        F.sum(F.col("__cb") * _midrank2()).cast("long").alias("__r2b"),
    )
    # per-value centered rank deviations need the arm totals: broadcast
    # the 1-row scalar back over the value grain (pr_auc precedent);
    # d_g = pooled 2x midrank − within-arm 2x midrank
    befb = F.col("__before") - F.col("__cabef")
    cent = (
        before.crossJoin(F.broadcast(tot))
        .withColumn(
            "__da", _midrank2() - (2 * F.col("__cabef") + F.col("__ca") + 1)
        )
        .withColumn("__db", _midrank2() - (2 * befb + F.col("__cb") + 1))
        .withColumn(
            "__ga",
            F.col("__na").cast(dec) * F.col("__da") - F.col("__r2a")
            + F.col("__na").cast(dec) * (F.col("__na") + 1),
        )
        .withColumn(
            "__gb",
            F.col("__nb").cast(dec) * F.col("__db") - F.col("__r2b")
            + F.col("__nb").cast(dec) * (F.col("__nb") + 1),
        )
    )
    q = cent.agg(
        F.max("__na").alias("__na"), F.max("__nb").alias("__nb"),
        F.max("__r2a").alias("__r2a"), F.max("__r2b").alias("__r2b"),
        F.sum(F.col("__ca") * F.col("__ga") * F.col("__ga"))
        .cast(dec).alias("__qa"),
        F.sum(F.col("__cb") * F.col("__gb") * F.col("__gb"))
        .cast(dec).alias("__qb"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    nd = (na + nb).cast("double")
    ta = F.col("__qa").cast("double") / (
        na.cast("double") * (na.cast("double") - 1.0)
    )
    tb = F.col("__qb").cast("double") / (
        nb.cast("double") * (nb.cast("double") - 1.0)
    )
    w = (
        na.cast("double") * F.col("__r2b").cast("double")
        - nb.cast("double") * F.col("__r2a").cast("double")
    ) / (nd * F.sqrt(ta + tb))
    dfree = (ta + tb) * (ta + tb) / (
        ta * ta / (na.cast("double") - 1.0)
        + tb * tb / (nb.cast("double") - 1.0)
    )
    ok = (na > 1) & (nb > 1) & (F.col("__qa") + F.col("__qb") > 0)
    # empty-input contract: with no qualifying rows the grain is empty
    # and the maxes are NULL — read as (0, 0, NULL, NULL, NULL) like
    # the other scalar gates (property-test-found, r11)
    return q.select(
        F.coalesce(na, F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(nb, F.lit(0)).cast("long").alias("n_b"),
        F.when(
            (na > 0) & (nb > 0),
            F.expr(
                "CAST((CAST(__r2b AS DECIMAL(38,0)) - CAST(__nb AS "
                "DECIMAL(38,0)) * (__nb + 1)) * 1000000 div "
                "(2 * CAST(__na AS DECIMAL(38,0)) * __nb) AS BIGINT)"
            ),
        ).alias("phat_e6"),
        F.when(ok, F.floor(w * 1_000_000).cast("long")).alias("w_e6"),
        F.when(ok, F.floor(dfree * 1_000).cast("long")).alias("df_e3"),
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    scale: int = 100,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups' means, with
    the Welch-Satterthwaite degrees of freedom — the default two-sample
    mean comparison (pooled-variance Student's t silently assumes equal
    variances; Welch does not).

    Values are floor-quantized to 1/``scale`` units (cents by default)
    so each arm's moments (n, S1, S2) accumulate as EXACT BIGINTs in
    one map-side-combined pass — never float sums, whose accumulation
    order differs across engines. t is scale-invariant under the shared
    quantization, so the statistic equals the plain Welch t of the
    quantized values; mean/variance/t/df are then a flat, identical
    division+sqrt shape over those integers in both engines. NULL t/df
    when either arm has n < 2 or both variances are 0. Output: 1 row
    (t_e6, df_e3, n_a, n_b)."""
    q = F.floor(F.col(value_col) * scale).cast("long")
    tagged = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), q.alias("__q"))

    def arm(g: str, sfx: str) -> Column:
        flag = F.when(F.col("__g") == g, F.col("__q"))
        return [
            F.count(flag).cast("long").alias(f"__n{sfx}"),
            F.coalesce(F.sum(flag), F.lit(0)).cast("long").alias(f"__s1{sfx}"),
            F.coalesce(F.sum(flag * flag), F.lit(0))
            .cast("long")
            .alias(f"__s2{sfx}"),
        ]

    m = tagged.agg(*arm(group_a, "a"), *arm(group_b, "b"))
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    s1a, s2a = F.col("__s1a").cast("double"), F.col("__s2a").cast("double")
    s1b, s2b = F.col("__s1b").cast("double"), F.col("__s2b").cast("double")
    # nullif denominators: an arm with n < 2 makes t/df NULL through the
    # ok-guard instead of throwing on the eagerly-evaluated condition
    va = (s2a - s1a * s1a / F.nullif(na, F.lit(0.0))) / F.nullif(
        na - 1.0, F.lit(0.0)
    )
    vb = (s2b - s1b * s1b / F.nullif(nb, F.lit(0.0))) / F.nullif(
        nb - 1.0, F.lit(0.0)
    )
    sea, seb = va / na, vb / nb
    t_stat = (
        s1a / F.nullif(na, F.lit(0.0)) - s1b / F.nullif(nb, F.lit(0.0))
    ) / F.sqrt(sea + seb)
    df_ws = (sea + seb) * (sea + seb) / F.nullif(
        sea * sea / F.nullif(na - 1.0, F.lit(0.0))
        + seb * seb / F.nullif(nb - 1.0, F.lit(0.0)),
        F.lit(0.0),
    )
    ok = (F.col("__na") > 1) & (F.col("__nb") > 1) & (sea + seb > 0)
    return m.select(
        F.when(ok, F.floor(t_stat * 1_000_000).cast("long")).alias("t_e6"),
        F.when(ok, F.floor(df_ws * 1_000).cast("long")).alias("df_e3"),
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
    )


def nelson_aalen(
    durations: DataFrame,
    duration_col: str,
    censored_col: str,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over integer durations:
    H(t) = Σ_{s≤t} d_s/n_s — the additive twin of kaplan_meier's
    product (S ≈ exp(−H)), preferred when hazards themselves are the
    quantity monitored (failure intensity, churn pressure) and when
    comparing groups by hazard ratio. Right-censored subjects leave
    the risk set without counting as exits, exactly as in KM.

    Determinism without transcendentals (unlike KM's ln/exp
    reconstruction): each step d/n floor-quantizes to nano units
    (one correctly-rounded division+multiply+floor per grain row), and
    the cumulative sum is EXACT BIGINT — order-independent, no ulp
    coupling between engines; accumulated quantization error is
    < #event-times·1e-9. Scale shape: subject-level aggregation to the
    duration grain once (:func:`_rank_grain`, exits as arm a); the risk
    set is the subject total minus the exclusive prefix and the running
    hazard a second ops.sort.global_running_sum (no unpartitioned
    windows at any grain size). Output rows at durations with exits:
    (t, n_risk, d_events, hazard_e9 with hazard = Σ floor(1e9·d/n))."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    before, tot = _rank_grain(
        durations.filter(F.col(duration_col).isNotNull()),
        F.col(duration_col).alias("t"),
        ~F.col(censored_col),
    )
    stepped = waypoint(
        before.crossJoin(F.broadcast(tot))
        .withColumn("n_risk", (F.col("__n") - F.col("__before")).cast("long"))
        .withColumn(
            "__step_e9",
            F.floor(
                F.col("__ca").cast("double") / F.col("n_risk").cast("double")
                * 1_000_000_000.0
            ).cast("long"),
        )
    )
    cum = global_running_sum(stepped, ["t"], "__step_e9", out_col="hazard_e9")
    return cum.filter(F.col("__ca") > 0).select(
        F.col("t").cast("long").alias("t"),
        "n_risk",
        F.col("__ca").alias("d_events"),
        F.col("hazard_e9").cast("long").alias("hazard_e9"),
    )


def anova_oneway(
    df: DataFrame, value_col: str, group_col: str, scale: int = 100
) -> DataFrame:
    """One-way ANOVA F-test: do k group means differ more than
    within-group noise predicts — the k-arm generalization of
    welch_ttest (classic equal-variance F; use Welch pairwise for
    heteroscedastic follow-ups). F = (SSB/(k−1)) / (SSW/(n−k)).

    Values floor-quantize to 1/``scale`` units so every group's
    (n, S1, S2) is an EXACT BIGINT triple from one map-side-combined
    pass; SSB/SSW come from those integers in doubles with an
    identical flat expression shape cross-engine (F is scale-invariant
    under shared quantization). NULL F when n ≤ k, k < 2, or SSW = 0.
    Output: 1 row (k_groups, n_rows, f_e6, df_between, df_within)."""
    q = F.floor(F.col(value_col) * scale).cast("long")
    # NULL values excluded BEFORE the count so n counts exactly the rows
    # the moments accumulate (count(*) over unfiltered rows would diverge
    # from S1/S2, which skip NULLs)
    g = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), q.alias("__q")
    ).groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__q").cast("long").alias("__s1"),
        F.sum(F.col("__q") * F.col("__q")).cast("long").alias("__s2"),
    )
    m = g.agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__n").cast("long").alias("__nn"),
        F.sum("__s1").cast("long").alias("__ts1"),
        F.sum("__s2").cast("long").alias("__ts2"),
        F.sum(
            F.col("__s1").cast("double") * F.col("__s1").cast("double")
            / F.col("__n").cast("double")
        ).alias("__sgm"),  # Σ S1_g²/n_g — one division per GROUP row
    )
    nn, k = F.col("__nn").cast("double"), F.col("__k").cast("double")
    ts1, ts2 = F.col("__ts1").cast("double"), F.col("__ts2").cast("double")
    ssb = F.col("__sgm") - ts1 * ts1 / nn
    ssw = ts2 - F.col("__sgm")
    f_stat = (ssb / F.nullif(k - 1.0, F.lit(0.0))) / F.nullif(
        ssw / F.nullif(nn - k, F.lit(0.0)), F.lit(0.0)
    )
    ok = (F.col("__k") > 1) & (F.col("__nn") > F.col("__k")) & (ssw > 0)
    return m.select(
        F.col("__k").alias("k_groups"),
        F.col("__nn").alias("n_rows"),
        F.when(ok, F.floor(f_stat * 1_000_000).cast("long")).alias("f_e6"),
        (F.col("__k") - 1).alias("df_between"),
        (F.col("__nn") - F.col("__k")).alias("df_within"),
    )


def trimmed_mean(
    df: DataFrame, value_col: str, trim_permille: int = 50, scale: int = 100
) -> DataFrame:
    """Symmetric trimmed mean: drop the k = floor(n·trim/1000) smallest
    and k largest observations and average the rest — the robust
    location estimate between the mean (trim 0) and the median (trim
    500); the outlier-resistant complement to winsorize (which CLAMPS
    the tails instead of dropping them).

    Entirely exact integer arithmetic: values floor-quantize to
    1/``scale`` units and collapse to the distinct-value grain; the
    cumulative count per grain row comes from ops.sort.
    global_running_sum; each grain row contributes
    max(0, min(cum, n−k) − max(before, k)) copies to the kept window —
    tie groups straddling a cut contribute PARTIALLY, which rank-
    filter formulations get wrong. One division at the end. Output:
    1 row (n_rows, n_kept, trimmed_mean_e4)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    q = F.floor(F.col(value_col) * scale).cast("long")
    grain = waypoint(
        df.filter(F.col(value_col).isNotNull())
        .select(q.alias("__q")).groupBy("__q").agg(
            F.count("*").cast("long").alias("__c")
        )
    )
    total = grain.agg(F.sum("__c").alias("__n"))
    cum = global_running_sum(grain, ["__q"], "__c", out_col="__cum")
    with_k = cum.crossJoin(F.broadcast(total)).withColumn(
        "__k", F.expr(f"__n * {int(trim_permille)} div 1000").cast("long")
    )
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), F.col("__n") - F.col("__k"))
        - F.greatest(F.col("__cum") - F.col("__c"), F.col("__k")),
    )
    agg = with_k.agg(
        F.max("__n").alias("__nn"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(kept * F.col("__q")).cast("long").alias("__sq"),
    )
    return agg.select(
        F.col("__nn").cast("long").alias("n_rows"),
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.floor(
                F.col("__sq").cast("double") / F.col("n_kept").cast("double")
                / scale * 10_000.0
            ).cast("long"),
        ).alias("trimmed_mean_e4"),
    )


def quantile_normalize(
    df: DataFrame, value_col: str, group_col: str, scale: int = 100
) -> DataFrame:
    """Quantile normalization: map every group's value distribution
    onto the GLOBAL distribution — each value is replaced by the global
    value at the same (midpoint) rank fraction. The cross-batch /
    cross-source feature equalizer (classic in expression-array
    pipelines; in a training-data pipeline it aligns per-source score
    distributions so one source's grader drift doesn't starve the
    others at a global threshold).

    Scale shape, exact at the grain level: values floor-quantize to
    1/``scale`` units; per-group cumulative counts run through
    ops.sort.chunked_running_sum (value-bucket chunks — no per-group
    window task even when one group is corpus-sized) and the global
    cumulative through global_running_sum. Each side's rank fraction
    p = (2·cum − c)/(2n) is ONE division over exact BIGINTs; the
    group→global mapping is ops.joins.global_as_of_join on p (greatest
    global p' ≤ p, the lower-quantile convention; groups below the
    global minimum fraction fall back to the global minimum value).
    Output: one row per group — (group, n_rows, mean_norm_e4,
    mean_raw_e4) with exact-integer weighted sums and one final
    division each."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.joins import global_as_of_join
    from hadoop_fcfs_spark.ops.sort import chunked_running_sum, global_running_sum

    q = F.floor(F.col(value_col) * scale).cast("long")
    gg = waypoint(
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("__g"), q.alias("__q"))
        .groupBy("__g", "__q")
        .agg(F.count("*").cast("long").alias("__c"))
    )
    ng = gg.groupBy("__g").agg(F.sum("__c").alias("__ng"))
    gcum = chunked_running_sum(
        gg, ["__g"], F.shiftright("__q", 20), ["__q"], "__c", out_col="__cum"
    )
    lp = (
        gcum.join(ng, "__g")
        .withColumn(
            "__p",
            (2 * F.col("__cum") - F.col("__c")).cast("double")
            / (2 * F.col("__ng")).cast("double"),
        )
    )
    glob = waypoint(
        gg.groupBy("__q").agg(F.sum("__c").alias("__cc"))
    )
    nn = glob.agg(F.sum("__cc").alias("__nn"))
    gmin = glob.agg(F.min("__q").alias("__qmin"))
    rp = (
        global_running_sum(glob, ["__q"], "__cc", out_col="__gcm")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("__q").alias("__gq"),
            ((2 * F.col("__gcm") - F.col("__cc")).cast("double")
             / (2 * F.col("__nn")).cast("double")).alias("__gp"),
        )
    )
    mapped = global_as_of_join(
        lp.select("__g", "__q", "__c", "__ng", "__p"),
        rp, "__p", "__gp", ["__gq"],
    )
    return (
        mapped.crossJoin(F.broadcast(gmin))
        .withColumn("__norm", F.coalesce(F.col("__gq_asof"), F.col("__qmin")))
        .groupBy("__g")
        .agg(
            F.max("__ng").alias("__n"),
            F.sum(F.col("__c") * F.col("__norm")).alias("__sn"),
            F.sum(F.col("__c") * F.col("__q")).alias("__sr"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__n").cast("long").alias("n_rows"),
            F.floor(
                F.col("__sn").cast("double") / F.col("__n").cast("double")
                / scale * 10_000.0
            ).cast("long").alias("mean_norm_e4"),
            F.floor(
                F.col("__sr").cast("double") / F.col("__n").cast("double")
                / scale * 10_000.0
            ).cast("long").alias("mean_raw_e4"),
        )
    )


def logrank_test(
    durations: DataFrame,
    duration_col: str,
    censored_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-group log-rank test: do the groups share a survival curve —
    the standard significance companion to kaplan_meier/nelson_aalen
    (eyeballing two KM curves is not a test). At each pooled event
    time: O accumulates group-1's observed events, E its expected
    events d·n1/n under the null, V the hypergeometric variance
    d·(n1/n)·(1−n1/n)·(n−d)/(n−1); z = (O−E)/√V.

    Determinism like nelson_aalen: per-step E and V terms are each a
    flat division chain over exact BIGINT risk-set counts,
    floor-quantized to nano units, and SUMMED AS BIGINTs —
    order-independent, no float accumulation; z is then one
    subtraction + sqrt over the integer totals. Risk sets per group
    via exclusive global_running_sum passes over the pooled duration
    grain (no unpartitioned windows at any grain size). Group 1/2 =
    rows where ``group_col`` equals ``group_a``/``group_b`` (other rows
    ignored, like the rest of the two-sample tier). Output: 1 row
    (n_1, n_2, o_1, e1_e9, v_e9, z_e6 — NULL z when V = 0)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    g1 = F.col(group_col) == F.lit(group_a)
    grain = waypoint(
        durations.filter(
            F.col(group_col).isin([group_a, group_b])
            & F.col(duration_col).isNotNull()
        )
        .groupBy(F.col(duration_col).alias("t")).agg(
            F.sum(F.when(g1 & ~F.col(censored_col), 1).otherwise(0))
            .cast("long").alias("__d1"),
            F.sum(F.when(~g1 & ~F.col(censored_col), 1).otherwise(0))
            .cast("long").alias("__d2"),
            F.sum(F.when(g1, 1).otherwise(0)).cast("long").alias("__a1"),
            F.sum(F.when(~g1, 1).otherwise(0)).cast("long").alias("__a2"),
        )
    )
    tot = grain.agg(
        F.sum("__a1").alias("__n1t"), F.sum("__a2").alias("__n2t")
    )
    cum = global_running_sum(
        grain, ["t"], ["__a1", "__a2"], out_col=["__b1", "__b2"],
        inclusive=False,
    )
    r = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("__r1", F.col("__n1t") - F.col("__b1"))
        .withColumn("__r2", F.col("__n2t") - F.col("__b2"))
        .withColumn("__n", F.col("__r1") + F.col("__r2"))
        .withColumn("__d", F.col("__d1") + F.col("__d2"))
        .filter(F.col("__d") > 0)
    )
    d, n, r1 = (
        F.col("__d").cast("double"),
        F.col("__n").cast("double"),
        F.col("__r1").cast("double"),
    )
    e_term = F.floor(d * r1 / n * 1_000_000_000.0).cast("long")
    v_term = F.when(
        F.col("__n") > 1,
        F.floor(
            d * (r1 / n) * (1.0 - r1 / n) * ((n - d) / (n - 1.0))
            * 1_000_000_000.0
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = r.agg(
        F.sum("__d1").cast("long").alias("o_1"),
        F.sum(e_term).cast("long").alias("e1_e9"),
        F.sum(v_term).cast("long").alias("v_e9"),
        F.max("__n1t").cast("long").alias("n_1"),
        F.max("__n2t").cast("long").alias("n_2"),
    )
    o9 = F.col("o_1") * F.lit(1_000_000_000)
    z = (o9 - F.col("e1_e9")).cast("double") / F.sqrt(
        F.lit(1_000_000_000.0) * F.col("v_e9").cast("double")
    )
    return agg.select(
        "n_1", "n_2", "o_1", "e1_e9", "v_e9",
        F.when(F.col("v_e9") > 0, F.floor(z * 1_000_000).cast("long"))
        .alias("z_e6"),
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    permilles: list[int],
) -> DataFrame:
    """Weighted quantile ladder: for each requested permille p, the
    smallest value whose cumulative weight reaches p/1000 of the total
    — weighted_median generalized to a whole report row of cut points
    (p25/p50/p75/p95…), and the EXACT complement to the KLL sketch
    tier (KLL is approximate and unweighted; this is exact and
    weighted, at the cost of a grain shuffle).

    One value-grain collapse (integer weight sums, map-side combined),
    ONE global_running_sum pass shared by every quantile, then each
    permille keeps its first crossing via exact integer
    cross-multiplication (cum·1000 ≥ p·total — no float fraction
    anywhere; lower-quantile convention, no interpolation, matching
    weighted_median at p=500 up to its 2·cum ≥ t tie rule). The
    permille list broadcasts across grain rows (|grain|×|P| filter,
    P tiny). Output: one row per permille (p_permille, value,
    total_weight), ordered by p."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    if not permilles or any(p < 1 or p > 1000 for p in permilles):
        raise ValueError(f"permilles must be within [1, 1000], got {permilles}")
    grain = waypoint(
        df.filter(
            F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
        )
        .groupBy(F.col(value_col).alias("__v")).agg(
            F.sum(F.col(weight_col).cast("long")).alias("__w")
        )
    )
    total = grain.agg(F.sum("__w").alias("__tot"))
    cum = global_running_sum(grain, ["__v"], "__w", out_col="__cum")
    ps = F.explode(
        F.array(*[F.lit(int(p)) for p in sorted(set(permilles))])
    ).alias("p_permille")
    return (
        cum.crossJoin(F.broadcast(total))
        .select("__v", "__cum", "__tot", ps)
        .filter(1000 * F.col("__cum") >= F.col("p_permille") * F.col("__tot"))
        .groupBy("p_permille")
        .agg(
            F.min("__v").alias("value"),
            F.max("__tot").cast("long").alias("total_weight"),
        )
        .orderBy("p_permille")
    )


def ks_group_drift(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Per-group distribution drift: for EVERY group at once, the
    Kolmogorov–Smirnov D between the group's ECDF and the GLOBAL ECDF
    — the "which source drifted" report (ks_two_sample answers one
    pairwise question; monitors want the whole fleet scored per run).

    Exactness: the sup gap can occur at a value the group never takes
    (its ECDF flat, the global one rising), so the gap at the group's
    own points alone UNDERSTATES D. The two-sided endpoint rule is
    exact: between two consecutive values of group g, g's ECDF is
    flat and the pooled ECDF only rises, so the signed gap only falls
    there and its absolute value peaks at an end of the flat stretch —
    at one of g's own values v (group cumulative cum_g(v), pooled
    gcum(v)) or just before v (cum_g(v) − c(g, v) and gcum(v) − cc(v),
    cc the pooled count at v). Before g's first value the group side
    is 0; after its last value the group ECDF is 1 and the gap only
    shrinks, so it peaks at that last value. Every "just before v"
    point has the integer operands of the last pooled value below v
    (or is 0), so evaluating both points per (g, v) row with the one
    formula |a/n_g − b/n_total| over exact BIGINTs reproduces the max
    of the dense (group × pooled value) grid bit for bit: correctly
    rounded division and subtraction are monotone, so no grid point
    between the two evaluated ones can exceed them in doubles either.

    Scale shape: the (g, v) counts, partially aggregated, move ONCE
    to their value chunk (truncation-monotone shiftright of the value
    cast to long) and are held as one waypoint; inside each chunk
    partition three windows take the per-(g, chunk) prefix, the pooled
    prefix (a RANGE frame on the value, so ties across groups count)
    and the pooled count at the value, with no exchange. The
    (g, chunk) summary — G × chunks rows — carries each group's
    exclusive chunk offset (one small hash exchange on g), then rides
    ONE partition (SCALING.md, "Group-grain tables ride one
    partition") for n_g, n_total and the pooled exclusive chunk
    offset, and is broadcast back on (g null-safe, chunk). The G-row
    output is coalesced the same way and sorted within that one
    partition in place of a global ORDER BY. Output: one row per group
    (group, n_g, n_total, d_e6), d vs the global distribution
    including the group itself (self-inclusive convention), sorted by
    group with the NULL group first; NULL values are dropped."""
    from pyspark.sql import Window

    from hadoop_fcfs_spark.caching import waypoint

    # The waypoint lets the summary branch and the probe branch read
    # one chunk exchange: without it each branch prunes its own
    # columns, AQE reuses neither exchange, and the upstream runs twice.
    cells = waypoint(
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
        .agg(F.count("*").cast("long").alias("__c"))
        .withColumn("__k", F.shiftright(F.col("__v").cast("long"), 8))
        .repartition("__k")
    )
    before = (Window.unboundedPreceding, -1)
    # every window below is keyed by the chunk, so it rides the chunk
    # partitioning (a value's rows, all groups, sit in one chunk)
    local = cells.select(
        "__g",
        "__k",
        "__c",
        F.sum("__c")
        .over(
            Window.partitionBy("__g", "__k")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("__lp"),
        F.sum("__c")
        .over(
            Window.partitionBy("__k")
            .orderBy("__v")
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        .alias("__pp"),
        F.sum("__c").over(Window.partitionBy("__k", "__v")).alias("__cc"),
    )
    summary = (
        local.groupBy("__g", "__k")
        .agg(F.max("__lp").alias("__t"))
        .withColumn(
            "__goff",
            F.sum("__t").over(
                Window.partitionBy("__g").orderBy("__k").rowsBetween(*before)
            ),
        )
        .coalesce(1)
        .select(
            F.col("__g").alias("__sg"),
            F.col("__k").alias("__sk"),
            F.coalesce(F.col("__goff"), F.lit(0)).alias("__goff"),
            F.sum("__t").over(Window.partitionBy("__g")).alias("__ng"),
            # Σ over every (group, chunk), NULL group included == the
            # non-NULL value count
            F.sum("__t").over(Window.partitionBy()).alias("__nn"),
            F.coalesce(
                F.sum("__t").over(Window.orderBy("__k").rangeBetween(*before)),
                F.lit(0),
            ).alias("__poff"),
        )
    )
    cum = local.join(
        F.broadcast(summary),
        F.col("__g").eqNullSafe(F.col("__sg")) & (F.col("__k") == F.col("__sk")),
    )
    at_g = F.col("__goff") + F.col("__lp")
    at_p = F.col("__poff") + F.col("__pp")

    def gap(a, b):
        return F.abs(
            a.cast("double") / F.col("__ng").cast("double")
            - b.cast("double") / F.col("__nn").cast("double")
        )

    return (
        cum.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.max("__ng").cast("long").alias("n_g"),
            F.max("__nn").cast("long").alias("n_total"),
            F.floor(
                F.max(
                    F.greatest(
                        gap(at_g, at_p),
                        gap(at_g - F.col("__c"), at_p - F.col("__cc")),
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("d_e6"),
        )
        .coalesce(1)
        .sortWithinPartitions(group_col)
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    scale: int = 100,
    chunk_shift: int = 16,
) -> DataFrame:
    """Per-group Gini coefficient: G = (2·Σ rᵢxᵢ − (n+1)·Σx)/(n·Σx)
    over each group's values sorted ascending — WITHIN-group
    inequality, the slice the global gini/lorenz gates can't answer
    (which nation's spend is whale-dominated; which source's doc
    lengths are head-heavy).

    Exact path: values floor-quantize to 1/``scale`` units; per-group
    ranks come from ops.sort.chunked_running_sum over (value, id)
    order (value-bucket chunks — a corpus-sized group never funnels
    through one window task); Σrx and Σx accumulate as exact BIGINTs
    and G is one double division, floored to micros. Ties take
    consecutive ranks by id — the same G as fractional tie-ranks
    because Σrx over a tie block is invariant under within-block
    permutation totals. NULL values excluded; NULL G for groups with
    n·Σx = 0 (all-zero or empty).

    Bounds, honestly: the only 64-bit integer accumulation is
    Σ rᵢ·qᵢ, bounded by n·Σq per group — keep that under 2^63
    (pre-scale coarser when a group's n·total approaches 9e18); the
    G arithmetic itself runs in doubles (exact while 2·Σrq < 2^53,
    then ~1e-16 relative — invisible at e6 flooring) so n·total never
    overflows an ANSI long. ``chunk_shift`` sets the value-bucket
    width for the grouped prefix scan: any FIXED width trades the
    two window levels against each other (too narrow → many
    chunk-summary rows per group in the level-2 task; too wide → a
    dense value region concentrates a chunk's rows in one level-1
    task) — the default 2^16 units is a practical middle for
    money-like domains; tune toward ~sqrt(group size) chunks.
    Output: (group, n, total_q, gini_e6)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import chunked_running_sum

    q = F.floor(F.col(value_col) * scale).cast("long")
    base = waypoint(
        df.filter(F.col(value_col).isNotNull()).select(
            F.col(group_col).alias("__g"),
            F.col(id_col).alias("__id"),
            q.alias("__q"),
        ).withColumn("__one", F.lit(1).cast("long"))
    )
    ranked = chunked_running_sum(
        base,
        ["__g"],
        F.shiftright(F.col("__q"), int(chunk_shift)),
        ["__q", "__id"],
        "__one",
        out_col="__r",
    )
    agg = ranked.groupBy("__g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__q").cast("long").alias("total_q"),
        F.sum(F.col("__r") * F.col("__q")).cast("long").alias("__srx"),
    )
    # G arithmetic in doubles: n*total_q as a LONG product overflows at
    # ~sf100 group sizes under ANSI even when every input fits — the
    # double product merely rounds (identical shape in the oracle)
    nd = F.col("n").cast("double")
    td = F.col("total_q").cast("double")
    num = 2.0 * F.col("__srx").cast("double") - (nd + 1.0) * td
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        "total_q",
        F.when(
            nd * td != 0.0,
            F.floor(num / (nd * td) * 1_000_000).cast("long"),
        ).alias("gini_e6"),
    )


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between two
    categorical labelings of the same rows — the labeling-QA scalar
    (rater-vs-rater, model-vs-truth) where raw accuracy flatters any
    skewed label distribution. κ = (p_o − p_e)/(1 − p_e) with p_e from
    the raters' marginals.

    Exact-integer path: with n rows, observed agreement a = Σ[A=B] and
    expected-agreement numerator e = Σ_label cnt_A(l)·cnt_B(l), kappa
    is the exact rational (n·a − e)/(n² − e) — computed as one double
    division at the end, floored to e6 (n·a and n² stay inside BIGINT
    to n ~3e9 rows). Scale shape: one count pass (map-side combined),
    two marginal aggregates over #labels keys joined label-to-label
    (broadcast-sized by contract: label vocabularies are small), no
    data shuffle beyond the marginal aggregates. Rows with a NULL on
    either side are excluded (no labeling to agree about). NULL kappa
    when n² = e (both raters constant — chance agreement is total and
    κ is undefined). Output: 1 row (n, n_agree, pe_num, kappa_e6)."""
    pairs = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    base = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    ca = pairs.groupBy(F.col("__a").alias("__l")).agg(
        F.count("*").cast("long").alias("__ca")
    )
    cb = pairs.groupBy(F.col("__b").alias("__l")).agg(
        F.count("*").cast("long").alias("__cb")
    )
    pe = (
        ca.join(cb, "__l")
        .agg(
            F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
            .cast("long")
            .alias("pe_num")
        )
    )
    n, a, e = (
        F.col("n").cast("double"),
        F.col("n_agree").cast("double"),
        F.col("pe_num").cast("double"),
    )
    return base.crossJoin(F.broadcast(pe)).select(
        "n",
        "n_agree",
        "pe_num",
        F.when(
            F.col("n") * F.col("n") != F.col("pe_num"),
            F.floor((n * a - e) / (n * n - e) * 1_000_000).cast("long"),
        ).alias("kappa_e6"),
    )


def roc_auc(df: DataFrame, score_col: str, label_col: Column | str) -> DataFrame:
    """Exact ROC-AUC of a continuous score against a binary label —
    the discrimination half of a model-eval loop (its calibration twin
    is :func:`calibration_bins`). AUC is the probability a random
    positive outscores a random negative, ties counting half — i.e.
    the Mann-Whitney statistic rescaled: AUC = U_pos / (n_pos·n_neg).

    Rather than sorting rows, collapse to the distinct-SCORE grain
    with per-class counts and its exclusive prefix
    (:func:`_rank_grain`, as mann_whitney_u). Carrying 2x quantities
    keeps everything exact BIGINT: 2·R_pos = Σ ca·(2·before + c + 1)
    with average ranks for ties (:func:`_midrank2`),
    u2 = 2·U_pos = 2·R_pos − n_pos·(n_pos+1), and
    auc_micro = floor(u2·10⁶ / (2·n_pos·n_neg)) — one integer
    division, zero float sums, so the value is bit-identical across
    engines and partitionings.

    Integer bound (ANSI throws rather than corrupting): u2·10⁶ < 2⁶³
    needs n_pos·(2N+1) < ~9.2e12 — e.g. n_pos ~ 1e6 against N ~ 4.6e6
    rows. Beyond that, pre-aggregate scores to a coarser grain or
    evaluate on a sampled eval split (the normal practice at corpus
    scale). NULL auc when either class is empty.

    Reference parity: the reference has no model-eval surface; this is
    the exact-arithmetic AUC a MapReduce job would compute as
    sort-by-score + a single reducer rank scan
    (hadoop-mapreduce-examples SecondarySort shape), done without the
    global sort."""
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, _ = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
    )
    agg = before.agg(
        F.sum(F.col("__ca") * _midrank2()).alias("__r2a"),
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    u2 = F.col("__r2a") - na * (na + 1)
    # SQL `div` = exact BIGINT division (double / would round above
    # 2^53 and drift from the oracle's integer //)
    return agg.select(
        na.cast("long").alias("n_pos"),
        nb.cast("long").alias("n_neg"),
        u2.cast("long").alias("__u2"),
    ).selectExpr(
        "n_pos", "n_neg",
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
        "CAST((__u2 * 1000000) div (2 * n_pos * n_neg) AS BIGINT) "
        "END AS auc_micro",
    )


def calibration_bins(
    df: DataFrame, score_col: str, label_col: Column | str, n_bins: int = 10
) -> DataFrame:
    """Reliability-diagram table: rank-bin the score into ``n_bins``
    quantile bins and report each bin's size, positive count, and
    observed positive rate — the calibration half of a model-eval
    loop (discrimination half: :func:`roc_auc`). A well-calibrated
    score has the observed rate rise monotonically across bins and
    track the mean score within each.

    Binning is on the EXCLUSIVE prefix count of the distinct-score
    grain (:func:`_rank_grain` — no global sort, no NTILE over an
    unpartitioned window): bin = floor(before·n_bins / N). Tied
    scores share one grain row and therefore always land in ONE bin —
    deterministic under any partitioning, unlike row-level NTILE
    where ties straddle bins in engine order. Bins are near-equal
    COUNT weighted by tie blocks, which is the honest choice when the
    score is discrete-ish. All outputs are exact integers plus one
    flooring division for the rate, so the table is bit-identical
    cross-engine.

    Scale shape: one shuffle to the score grain, the range-partitioned
    prefix, then a groupBy over n_bins keys — map-side combinable,
    output is n_bins rows regardless of input size."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
    )
    # N is not known per-row; broadcast the scalar total, then exact
    # BIGINT div (not double /) keeps bins and rates bit-identical.
    binned = before.crossJoin(F.broadcast(tot)).withColumn(
        "bin", F.expr(f"CAST(__before * {int(n_bins)} div __n AS BIGINT)")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("__c").cast("long").alias("n"),
            F.sum("__ca").cast("long").alias("n_pos"),
            F.min("__v").alias("score_lo"),
            F.max("__v").alias("score_hi"),
        )
        .withColumn(
            "rate_micro",
            F.expr("CAST(n_pos * 1000000 div n AS BIGINT)"),
        )
    )


def brier_decomposition(
    df: DataFrame, score_col: str, label_col: Column | str, n_bins: int = 10
) -> DataFrame:
    """Murphy decomposition of the Brier score for a score used as a
    probability forecast: BS = RELIABILITY − RESOLUTION + UNCERTAINTY.
    Reliability penalizes bins whose mean forecast drifts from the
    observed rate (what :func:`calibration_bins` tabulates), resolution
    rewards bins whose observed rates spread away from the base rate,
    uncertainty is the label's own variance floor ō(1−ō). The one-row
    scalar complement of the calibration table — a drift monitor can
    alert on reliability alone.

    The forecast is the score's EXCLUSIVE-prefix percentile
    floor(before·10⁶/N) on the distinct-score grain — calibration_bins'
    :func:`_rank_grain` + broadcast scalar total (ties share a grain
    row, so forecast and bin are deterministic under any partitioning).
    Per-bin sums (n_b, positives_b, Σforecast_micro) stay exact BIGINT
    (bound: Σ c·f_micro ≤ N·10⁶ < 2⁶³ needs N < ~9.2e12); the three
    components are then k=n_bins-element double sums — the anova
    precedent: the only engine-ordered float arithmetic is over the
    fixed bin count, never over data rows — rounded to 6 decimals.

    The 3-term identity BS = REL − RES + UNC is exact when forecasts
    are constant within bins (pytest pins it on such data); with
    varying within-bin forecasts the within-bin variance/covariance
    terms (Stephenson's generalized decomposition) are folded into
    reliability, the standard binned-forecast convention.

    Reference parity: no model-eval surface in the reference; this is
    the single-reducer pass a MapReduce scorer would do after
    sort-by-score (SecondarySort shape), minus the global sort."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
    )
    binned = (
        before.crossJoin(F.broadcast(tot))
        .selectExpr(
            "__ca", "__c",
            f"CAST(__before * {int(n_bins)} div __n AS BIGINT) AS bin",
            "CAST(__before * 1000000 div __n AS BIGINT) AS __f",
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("__c").cast("long").alias("__nb"),
        F.sum("__ca").cast("long").alias("__cab"),
        F.sum(F.col("__c") * F.col("__f")).cast("long").alias("__sb"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .agg(
            F.max("__n").alias("n"),
            F.max("__na").alias("n_pos"),
            # Σ_b (mean forecast − observed rate)² · n_b / N
            F.sum(
                F.pow(
                    F.col("__sb").cast("double") / 1e6
                    - F.col("__cab").cast("double"),
                    F.lit(2.0),
                )
                / F.col("__nb").cast("double")
            ).alias("__rel_num"),
            # Σ_b n_b (o_b − ō)² / N
            F.sum(
                F.col("__nb").cast("double")
                * F.pow(
                    F.col("__cab").cast("double")
                    / F.col("__nb").cast("double")
                    - F.col("__na").cast("double") / F.col("__n").cast("double"),
                    F.lit(2.0),
                )
            ).alias("__res_num"),
        )
        .selectExpr(
            "n", "n_pos",
            "ROUND(__rel_num / n, 6) AS reliability_r6",
            "ROUND(__res_num / n, 6) AS resolution_r6",
            "ROUND(CAST(n_pos AS DOUBLE) / n"
            " * (1.0 - CAST(n_pos AS DOUBLE) / n), 6) AS uncertainty_r6",
            "ROUND(__rel_num / n - __res_num / n"
            " + CAST(n_pos AS DOUBLE) / n"
            " * (1.0 - CAST(n_pos AS DOUBLE) / n), 6) AS brier_r6",
        )
    )


def fleiss_kappa(
    df: DataFrame, id_col: str, rater_cols: list[str]
) -> DataFrame:
    """Fleiss' kappa: chance-corrected agreement among r ≥ 2 raters
    assigning one categorical label per item — the multi-rater
    generalization of :func:`cohens_kappa`, the standard
    inter-annotator-agreement scalar for labeling/RLHF-judgment QA
    (can these r judges even be aggregated?).

    Exact-integer reduction: unpivot the r rater columns to (item,
    label) rows, count n_ij per (item, label), then
    A = Σ_i Σ_j n_ij² (one groupBy item) and S2 = Σ_j c_j² over the
    category totals. P̄ = (A − Nr)/(Nr(r−1)), P̄ₑ = S2/(Nr)², κ =
    (P̄ − P̄ₑ)/(1 − P̄ₑ) — evaluated as flat scalar double arithmetic
    over the exact BIGINTs (welch precedent; an all-BIGINT κ ratio
    would need N³ products and overflow at ~2e6 items), floored to
    micro like cohens_kappa. NULL when P̄ₑ = 1 (all raters one
    category) or no items.

    Scale shape: the unpivot is a projection (r× rows, no shuffle);
    one groupBy (item, label) → one groupBy item, plus the tiny
    category rollup — all map-side combinable; output is one row.
    NULL rater labels are kept as a real category ('absent' must
    lower agreement, not silently shrink r)."""
    if len(rater_cols) < 2:
        raise ValueError(f"need >= 2 raters, got {len(rater_cols)}")
    r = len(rater_cols)
    votes = df.select(
        F.col(id_col).alias("__i"),
        F.explode(
            F.array(*[
                F.coalesce(F.col(c).cast("string"), F.lit("__null__"))
                for c in rater_cols
            ])
        ).alias("__l"),
    )
    nij = votes.groupBy("__i", "__l").agg(F.count("*").alias("__nij"))
    a = nij.groupBy("__i").agg(
        F.sum(F.col("__nij") * F.col("__nij")).alias("__ai")
    ).agg(
        F.sum("__ai").cast("long").alias("__a"),
        F.count("*").cast("long").alias("__n_items"),
    )
    s2 = nij.groupBy("__l").agg(F.sum("__nij").alias("__cj")).agg(
        F.sum(F.col("__cj") * F.col("__cj")).cast("long").alias("__s2")
    )
    return (
        a.crossJoin(F.broadcast(s2))
        .selectExpr(
            "__n_items AS n_items",
            f"CAST({r} AS BIGINT) AS n_raters",
            f"CAST(__a AS DOUBLE) AS __ad",
            f"CAST(__n_items AS DOUBLE) * {r} AS __nr",
            "CAST(__s2 AS DOUBLE) AS __s2d",
        )
        .selectExpr(
            "n_items", "n_raters",
            f"(__ad - __nr) / (__nr * {r - 1}) AS __pbar",
            "__s2d / (__nr * __nr) AS __pe",
        )
        .selectExpr(
            "n_items", "n_raters",
            "CASE WHEN n_items > 0 AND __pe <> 1.0 THEN "
            "CAST(FLOOR((__pbar - __pe) / (1.0 - __pe) * 1000000) AS BIGINT) "
            "END AS kappa_e6",
        )
    )


def js_divergence_binned(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bin_width: int = 64,
) -> DataFrame:
    """Per-group Jensen–Shannon divergence (bits) between the group's
    distribution of a bucketed integer value and the GLOBAL
    distribution — the bounded, symmetric, always-finite drift scalar
    (KL blows up on empty bins; JSD ∈ [0,1] never does), the
    distributional complement of ks_group_drift's max-gap statistic.

    Evaluation is on the DENSE (group × global-bucket) grid — the
    ks_source_drift lesson: own-points-only evaluation understates
    divergence because buckets the group MISSES entirely are exactly
    where it diverges (p=0, q>0 contributes 0.5·q bits). Buckets are
    exact integer floor-divisions (non-negative values; one bucket per
    ``bin_width`` units). Counts stay exact BIGINT; the per-bucket
    p·log2(p/m) terms are double arithmetic summed over the bounded
    bucket grid (the MI/perplexity precedent: engine-ordered float
    sums over a BOUNDED category grid, never over data rows), rounded
    to 6 decimals.

    Scale shape: one (group, bucket) aggregation + two tiny rollups
    (bucket totals, group totals), dense grid by broadcast crossJoin of
    the two small sides, one bounded-key groupBy back. Output: one row
    per group."""
    if bin_width < 1:
        raise ValueError(f"bin_width must be >= 1, got {bin_width}")
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.expr(f"CAST({value_col} div {int(bin_width)} AS BIGINT)").alias(
            "__b"
        ),
    )
    gb = base.groupBy("__g", "__b").agg(F.count("*").cast("long").alias("__c"))
    buckets = gb.groupBy("__b").agg(F.sum("__c").cast("long").alias("__gc"))
    groups = gb.groupBy("__g").agg(F.sum("__c").cast("long").alias("__ns"))
    tot = buckets.agg(F.sum("__gc").cast("long").alias("__n"))
    grid = (
        groups.crossJoin(F.broadcast(buckets))
        .crossJoin(F.broadcast(tot))
        .join(gb, ["__g", "__b"], "left")
        .fillna({"__c": 0})
    )
    p = F.col("__c").cast("double") / F.col("__ns").cast("double")
    q = F.col("__gc").cast("double") / F.col("__n").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("__c") > 0, p * F.log2(p / m) / F.lit(2.0)).otherwise(
            F.lit(0.0)
        )
        + q * F.log2(q / m) / F.lit(2.0)
    )
    return (
        grid.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.max("__ns").alias("n_group"),
            F.round(F.sum(term), 6).alias("jsd_r6"),
        )
    )


def ab_power_required_n(
    df: DataFrame,
    group_col: str,
    success_col: Column | str,
    rel_lift: float = 0.1,
) -> DataFrame:
    """A/B-test power analysis from observed baselines: for each
    group, the per-arm sample size needed to detect a ``rel_lift``
    relative improvement of the group's observed success rate at
    alpha = 0.05 (two-sided) and power = 0.80 — the design-stage
    complement of ops.stats.two_proportion_ztest (which judges a
    finished experiment; this sizes the next one):

      n = ceil[ (z_a·sqrt(2·p̄q̄) + z_b·sqrt(p1·q1 + p2·q2))² / (p2−p1)² ]

    with p2 = min(p1·(1+lift), 1), p̄ the arm average, and the normal
    quantiles FROZEN as double literals (z_0.975 = 1.959964,
    z_0.80 = 0.841621 — the NDCG frozen-constant discipline:
    no quantile function runs at query time on either engine).
    Counts are exact BIGINT; the formula is flat per-group scalar
    double arithmetic (welch precedent) — no float sums over data.
    required_n is NULL when the group is empty, p1 = 0 (nothing to
    lift), or p2 = p1 (degenerate effect at p1 = 1).

    Output: (group, n_obs, successes, required_n_per_arm)."""
    if rel_lift <= 0:
        raise ValueError(f"rel_lift must be > 0, got {rel_lift}")
    suc = F.col(success_col) if isinstance(success_col, str) else success_col
    agg = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias(group_col))
        .agg(
            F.count("*").cast("long").alias("n_obs"),
            F.sum(F.when(suc, 1).otherwise(0)).cast("long").alias("successes"),
        )
    )
    lift = float(rel_lift)
    return agg.selectExpr(
        group_col, "n_obs", "successes",
        "CAST(successes AS DOUBLE) / n_obs AS __p1",
    ).selectExpr(
        group_col, "n_obs", "successes",
        "__p1",
        f"LEAST(__p1 * (1.0 + {lift!r}), 1.0) AS __p2",
    ).selectExpr(
        group_col, "n_obs", "successes",
        "CASE WHEN n_obs > 0 AND __p1 > 0 AND __p2 <> __p1 THEN "
        "CAST(CEIL(POWER(1.959964 * SQRT(2.0 * ((__p1 + __p2) / 2.0)"
        " * (1.0 - (__p1 + __p2) / 2.0))"
        " + 0.841621 * SQRT(__p1 * (1.0 - __p1) + __p2 * (1.0 - __p2)), 2)"
        " / POWER(__p2 - __p1, 2)) AS BIGINT) "
        "END AS required_n_per_arm",
    )


def smd_balance(
    df: DataFrame,
    stratum_col: str,
    arm_col: Column | str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Standardized mean difference of ``value_col`` between two arms
    within each stratum — the covariate-balance diagnostic of
    observational comparisons (|SMD| < 0.1 is the usual 'balanced'
    bar): SMD = (m₁ − m₀) / sqrt((s₁² + s₀²)/2).

    Moments are exact: values quantize to 1/``scale`` units (the
    welch_ttest cent discipline) and each arm carries exact BIGINT
    (n, Σv, Σv²) through ONE map-side-combined aggregation per
    (stratum, arm) — overflow bound Σv² < 2⁶³ documented at welch.
    The SMD itself is flat per-stratum scalar double arithmetic
    (sample variances with the n−1 divisor), rounded to 6 decimals;
    NULL when either arm has < 2 rows or both variances are 0.

    Output: (stratum, n_treat, n_ctrl, mean_diff_r6, smd_r6)."""
    arm = F.col(arm_col) if isinstance(arm_col, str) else arm_col
    q = F.round(F.col(value_col) * scale).cast("long")
    agg = (
        df.filter(
            F.col(stratum_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(stratum_col).alias(stratum_col))
        .agg(
            F.sum(F.when(arm, 1).otherwise(0)).cast("long").alias("n_treat"),
            F.sum(F.when(arm, q).otherwise(0)).cast("long").alias("__s1t"),
            F.sum(F.when(arm, q * q).otherwise(0)).cast("long").alias("__s2t"),
            F.sum(F.when(arm, 0).otherwise(1)).cast("long").alias("n_ctrl"),
            F.sum(F.when(arm, 0).otherwise(q)).cast("long").alias("__s1c"),
            F.sum(F.when(arm, 0).otherwise(q * q)).cast("long").alias("__s2c"),
        )
    )
    sc = float(scale)
    return agg.selectExpr(
        stratum_col, "n_treat", "n_ctrl",
        f"CAST(__s1t AS DOUBLE) / {sc!r} AS __sum_t",
        f"CAST(__s1c AS DOUBLE) / {sc!r} AS __sum_c",
        f"CAST(__s2t AS DOUBLE) / {sc!r} / {sc!r} AS __sq_t",
        f"CAST(__s2c AS DOUBLE) / {sc!r} / {sc!r} AS __sq_c",
    ).selectExpr(
        stratum_col, "n_treat", "n_ctrl",
        "CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN "
        "ROUND(__sum_t / n_treat - __sum_c / n_ctrl, 6) END AS mean_diff_r6",
        "CASE WHEN n_treat >= 2 AND n_ctrl >= 2 AND "
        "((__sq_t - __sum_t * __sum_t / n_treat) / (n_treat - 1)"
        " + (__sq_c - __sum_c * __sum_c / n_ctrl) / (n_ctrl - 1)) > 0 THEN "
        "ROUND((__sum_t / n_treat - __sum_c / n_ctrl)"
        " / SQRT(((__sq_t - __sum_t * __sum_t / n_treat) / (n_treat - 1)"
        "         + (__sq_c - __sum_c * __sum_c / n_ctrl) / (n_ctrl - 1))"
        "        / 2.0), 6) "
        "END AS smd_r6",
    )


def conformal_threshold(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha_permille: int = 100,
    chunk_width: int = 1000,
) -> DataFrame:
    """Split-conformal calibration threshold per group: the
    ⌈(n+1)(1−α)⌉-th smallest calibration score — the finite-sample
    quantile that makes "predict, then flag anything above the
    threshold" a coverage-guaranteed (1−α) procedure (Vovk;
    Angelopoulos & Bates). The (n+1) adjustment is the whole point:
    a plain 90th percentile undercovers in finite samples, which is
    why this is its own operator and not weighted_quantiles at p=900.

    Exact order statistic, scale-safely: one (group, value)-grain
    collapse, a chunked_running_sum per-group cumulative (value-bucket
    chunks of ``chunk_width`` units — corpus-sized groups never ride
    one window task), per-group totals joined back (AQE broadcasts the
    group-grain side), then the first grain row whose inclusive count
    crosses idx = ⌈(n+1)·(1000−α)/1000⌉ via exact integer arithmetic
    (idx = ((n+1)·(1000−α) + 999) div 1000 — no float fraction).
    threshold is NULL when idx > n (group too small to conformalize at
    this α — the honest answer, not the max).

    Output: (group, n, q_index, threshold)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import chunked_running_sum

    if not 1 <= alpha_permille <= 999:
        raise ValueError(
            f"alpha_permille must be in [1, 999], got {alpha_permille}"
        )
    grain = waypoint(
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
        .agg(F.count("*").cast("long").alias("__c"))
    )
    cum = chunked_running_sum(
        grain,
        ["__g"],
        F.floor(F.col("__v") / F.lit(float(chunk_width))).cast("long"),
        ["__v"],
        "__c",
        out_col="__cum",
    )
    totals = grain.groupBy("__g").agg(F.sum("__c").cast("long").alias("__n"))
    keep = int(1000 - alpha_permille)
    joined = cum.join(totals, "__g").withColumn(
        "__idx", F.expr(f"((__n + 1) * {keep} + 999) div 1000")
    )
    return (
        joined.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.max("__n").alias("n"),
            F.max("__idx").alias("q_index"),
            F.min(F.when(F.col("__cum") >= F.col("__idx"), F.col("__v"))).alias(
                "threshold"
            ),
        )
    )


def info_gain(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> DataFrame:
    """Information-gain ranking of categorical features against a
    categorical label: IG(f) = H(y) − H(y|f) — the filter-style
    feature-selection scalar (which columns are worth encoding at
    all), mutual_information generalized to a ranked REPORT over many
    candidate features in one pass.

    All features melt into (feature, value, label) count rows via one
    posexplode projection — ONE data shuffle to that grain no matter
    how many features are audited, then bounded per-feature rollups.
    Counts are exact BIGINT; entropies are double Σ p·log2 p over the
    bounded category grids only (MI/perplexity precedent), rounded to
    6. NULL feature values are kept as a real category ('absent'
    carries information); NULL labels are dropped.

    Output: (feature, n, h_label_r6, h_cond_r6, info_gain_r6),
    one row per audited feature."""
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    melted = (
        df.filter(F.col(label_col).isNotNull())
        .select(
            F.col(label_col).cast("string").alias("__y"),
            F.posexplode(
                F.array(*[
                    F.coalesce(F.col(c).cast("string"), F.lit("__null__"))
                    for c in feature_cols
                ])
            ).alias("__fi", "__x"),
        )
    )
    names = F.array(*[F.lit(c) for c in feature_cols])
    counts = melted.groupBy("__fi", "__x", "__y").agg(
        F.count("*").cast("long").alias("__c")
    )
    xtot = counts.groupBy("__fi", "__x").agg(
        F.sum("__c").cast("long").alias("__nx")
    )
    # conditional entropy: Σ_x (n_x/N) Σ_y −(c/n_x)log2(c/n_x)
    # = (1/N)·Σ_{x,y} −c·log2(c/n_x)
    cond = (
        counts.join(xtot, ["__fi", "__x"])
        .groupBy("__fi")
        .agg(
            F.sum(
                -F.col("__c").cast("double")
                * F.log2(
                    F.col("__c").cast("double") / F.col("__nx").cast("double")
                )
            ).alias("__hc_num"),
            F.sum("__c").cast("long").alias("__n"),
        )
    )
    # label marginal entropy (identical for every feature; broadcast)
    ymarg = (
        df.filter(F.col(label_col).isNotNull())
        .groupBy(F.col(label_col).cast("string").alias("__y"))
        .agg(F.count("*").cast("long").alias("__cy"))
    )
    hy = ymarg.agg(
        F.sum("__cy").cast("long").alias("__ny"),
        F.sum(-F.col("__cy").cast("double") * F.log2(F.col("__cy"))).alias(
            "__hy_part"
        ),
    ).selectExpr(
        "__hy_part / __ny + log2(CAST(__ny AS DOUBLE)) AS __hy"
    )
    return (
        cond.crossJoin(F.broadcast(hy))
        .select(
            F.element_at(names, F.col("__fi") + 1).alias("feature"),
            F.col("__n").alias("n"),
            F.round(F.col("__hy"), 6).alias("h_label_r6"),
            F.round(F.col("__hc_num") / F.col("__n"), 6).alias("h_cond_r6"),
            F.round(
                F.col("__hy") - F.col("__hc_num") / F.col("__n"), 6
            ).alias("info_gain_r6"),
        )
    )


def mann_kendall_trend(
    df: DataFrame, index_col: str, value_col: str
) -> DataFrame:
    """Mann–Kendall trend test on a regular series: S = Σ_{i<j}
    sign(x_j − x_i) with the tie-corrected variance and the
    ±1-continuity z statistic — the nonparametric IS-there-a-trend
    test that pairs with :func:`theil_sen_trend` (that estimates the
    slope; this one says whether the monotone drift is significant at
    all, robust to outliers and any monotone transform of the metric).
    Kendall's tau-b (tie-corrected effect size) rides along.

    ``df`` must already be the aggregated series grain (one row per
    integer ``index_col`` step — the acf_lags contract): the pair set
    is a bounded quadratic over GRAIN rows (a broadcast
    nested-loop self-join on i < j — ~n²/2 pairs of a day-grain
    series, never data rows), which is the honest way to get the
    exact tie-aware S. Everything integer stays exact BIGINT:
    S, the 18·Var(S) numerator n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5),
    the concordance denominators D = n(n−1)/2 and tie total
    T_v = Σ t_g(t_g−1)/2. Only the final z and tau-b divisions are
    doubles (flat, single-sqrt — the wilson discipline), rounded @6;
    both NULL when the variance (resp. denominator) degenerates to 0
    (constant series), which is the honest answer.

    Output: 1 row (n, s_stat, var18_num, z_r6, tau_b_r6)."""
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(index_col).cast("long").alias("__i"),
        F.col(value_col).alias("__x"),
    )
    a = base.select(F.col("__i").alias("__ia"), F.col("__x").alias("__xa"))
    b = base.select(F.col("__i").alias("__ib"), F.col("__x").alias("__xb"))
    s = (
        a.join(F.broadcast(b), F.col("__ia") < F.col("__ib"))
        .agg(
            F.sum(
                F.signum(
                    F.col("__xb").cast("double") - F.col("__xa").cast("double")
                ).cast("long")
            ).alias("__s")
        )
    )
    ties = base.groupBy("__x").agg(F.count("*").cast("long").alias("__t"))
    scalars = ties.agg(
        F.sum("__t").cast("long").alias("__n"),
        F.sum(
            F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
        ).cast("long").alias("__tv18"),
        F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long").alias("__tv2"),
    )
    return (
        s.crossJoin(F.broadcast(scalars))
        .selectExpr(
            "__n AS n",
            "CAST(COALESCE(__s, 0) AS BIGINT) AS s_stat",
            "CAST(__n * (__n - 1) * (2 * __n + 5) - __tv18 AS BIGINT)"
            " AS var18_num",
            # z with the standard ±1 continuity correction; NULL on a
            # degenerate (constant / too-short) series
            "CASE WHEN __n * (__n - 1) * (2 * __n + 5) - __tv18 > 0 THEN"
            " ROUND((CAST(COALESCE(__s, 0) AS DOUBLE)"
            "   - CAST(SIGN(COALESCE(__s, 0)) AS DOUBLE))"
            "  / SQRT((CAST(__n AS DOUBLE) * (__n - 1) * (2 * __n + 5)"
            "          - __tv18) / 18.0), 6) END AS z_r6",
            # tau-b: S / sqrt(D·(D − T_v)); time axis has no ties so the
            # second correction factor is D itself
            "CASE WHEN __n >= 2 AND (__n * (__n - 1)) div 2 - __tv2 div 2 > 0"
            " THEN ROUND(CAST(COALESCE(__s, 0) AS DOUBLE)"
            "  / SQRT(CAST((__n * (__n - 1)) div 2 AS DOUBLE)"
            "         * CAST((__n * (__n - 1)) div 2 - __tv2 div 2"
            "                AS DOUBLE)), 6) END AS tau_b_r6",
        )
    )


def kendall_tau_b_cells(
    df: DataFrame,
    x_col: Column | str,
    y_col: Column | str,
    max_cells: int | None = 4096,
) -> DataFrame:
    """Kendall's tau-b between two BOUNDED-DOMAIN columns of RAW data
    rows — the cell-grain sibling of :func:`kendall_tau_b` (that one
    censuses i<j ROW pairs, so it is only usable on an
    already-bounded summary grain; this one collapses to the distinct
    value-pair CELL grain first, so a 10⁹-row fact table with 50×11
    distinct cells pays a 550²-cell quadratic, never a row
    quadratic). Goodman & Kruskal's gamma (the ties-excluded variant)
    rides along from the same cells.

    The pair set collapses to the distinct VALUE-PAIR grain first
    (the brunner_munzel discipline): group to cells (x, y, count),
    then a broadcast nested-loop self-join over ordered CELL pairs —
    concordant/discordant masses are n_a·n_b products, so the
    quadratic is bounded by (#distinct x · #distinct y)², never data
    rows. Within-cell pairs are joint ties: they enter the tau-b
    denominator through the marginal tie totals and never C or D.

    Exactness: C, D, the marginal tie-pair totals T_x = Σ t(t−1)/2,
    T_y, the joint T_xy and D₀ = n(n−1)/2 are summed in DECIMAL(38,0)
    (the brunner_munzel remedy — n² products overflow BIGINT past
    ~3·10⁹ rows, and at 100 TB the fact table IS past it), so the
    statistics stay exact to 10³⁸; only the REPORTED count columns
    cast back to BIGINT (they saturate to NULL past ~9.2·10¹⁸ pairs
    while tau_b/gamma remain correct). The final tau_b =
    (C−D)/√((D₀−T_x)(D₀−T_y)) and gamma = (C−D)/(C+D) are flat
    doubles rounded @6, NULL when their denominators degenerate (a
    constant axis / no untied pair).

    Misuse guard: the cell-pair census is quadratic in #cells, so a
    continuous column would silently degenerate to an n²-cell
    broadcast NLJ — ``max_cells`` (default 4096) counts the cells
    up-front (one bounded job at plan-construction time) and raises
    past the cap; pass ``max_cells=None`` to skip the eager check
    when the domain is known-bounded and the extra scan matters.

    Output: 1 row (n, n_concordant, n_discordant, ties_x, ties_y,
    ties_xy, tau_b_r6, gamma_r6)."""
    xc = F.col(x_col) if isinstance(x_col, str) else x_col
    yc = F.col(y_col) if isinstance(y_col, str) else y_col
    base = df.select(xc.alias("__x"), yc.alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    cells = base.groupBy("__x", "__y").agg(
        F.count("*").cast("long").alias("__c")
    )
    if max_cells is not None:
        n_cells = cells.limit(max_cells + 1).count()
        if n_cells > max_cells:
            raise ValueError(
                f"kendall_tau_b_cells: >{max_cells} distinct value-pair "
                "cells — the cell-pair census is quadratic in #cells, so "
                "a continuous axis degenerates to an n²-cell broadcast "
                "NLJ. Pre-quantize the axis (key_skew_report is the "
                "pre-check) or raise max_cells explicitly."
            )
    a = cells.select(
        F.col("__x").alias("__xa"), F.col("__y").alias("__ya"),
        F.col("__c").alias("__ca"),
    )
    b = cells.select(
        F.col("__x").alias("__xb"), F.col("__y").alias("__yb"),
        F.col("__c").alias("__cb"),
    )
    # ordered cell pairs: strict lexicographic (xa, ya) < (xb, yb) so
    # each unordered pair is evaluated exactly once; xa = xb pairs are
    # x-ties and contribute to neither C nor D
    pairs = a.join(
        F.broadcast(b),
        (F.col("__xa") < F.col("__xb"))
        | ((F.col("__xa") == F.col("__xb")) & (F.col("__ya") < F.col("__yb"))),
    )
    # DECIMAL(38,0) sums throughout (the brunner_munzel remedy): every
    # term below is an n² product, BIGINT-unsafe past ~3e9 rows
    dec = "decimal(38,0)"
    cd = pairs.agg(
        F.sum(
            F.when(
                (F.col("__xa") < F.col("__xb")) & (F.col("__ya") < F.col("__yb")),
                F.col("__ca").cast(dec) * F.col("__cb"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("__C"),
        F.sum(
            F.when(
                (F.col("__xa") < F.col("__xb")) & (F.col("__ya") > F.col("__yb")),
                F.col("__ca").cast(dec) * F.col("__cb"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("__D"),
    )
    tx = base.groupBy("__x").agg(F.count("*").cast("long").alias("__t")).agg(
        F.sum("__t").cast("long").alias("__n"),
        F.sum(F.col("__t").cast(dec) * (F.col("__t") - 1)).alias("__tx2"),
    )
    ty = base.groupBy("__y").agg(F.count("*").cast("long").alias("__t")).agg(
        F.sum(F.col("__t").cast(dec) * (F.col("__t") - 1)).alias("__ty2"),
    )
    txy = cells.agg(
        F.sum(F.col("__c").cast(dec) * (F.col("__c") - 1)).alias("__txy2"),
    )
    return (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(txy))
        .selectExpr(
            # empty input pins to the all-zero row (brunner_munzel
            # empty-contract precedent); count columns cast back to
            # BIGINT for the reported schema — the statistics below
            # stay on the DECIMAL(38,0) path
            "COALESCE(__n, 0) AS n",
            "TRY_CAST(COALESCE(__C, 0) AS BIGINT) AS n_concordant",
            "TRY_CAST(COALESCE(__D, 0) AS BIGINT) AS n_discordant",
            "TRY_CAST(COALESCE(__tx2, 0) / 2 AS BIGINT) AS ties_x",
            "TRY_CAST(COALESCE(__ty2, 0) / 2 AS BIGINT) AS ties_y",
            "TRY_CAST(COALESCE(__txy2, 0) / 2 AS BIGINT) AS ties_xy",
            # D0 - T_x = (n(n-1) - Σt(t-1)) / 2 computed in
            # DECIMAL(38,0): both terms even, the half exact; the
            # double conversion happens once at the SQRT boundary
            "CASE WHEN CAST(__n AS DECIMAL(38,0)) * (__n - 1)"
            "          - COALESCE(__tx2, 0) > 0"
            " AND CAST(__n AS DECIMAL(38,0)) * (__n - 1)"
            "          - COALESCE(__ty2, 0) > 0 THEN"
            " ROUND(CAST(COALESCE(__C, 0) - COALESCE(__D, 0) AS DOUBLE)"
            "  / SQRT(CAST(CAST(__n AS DECIMAL(38,0)) * (__n - 1)"
            "              - COALESCE(__tx2, 0) AS DOUBLE) / 2"
            "         * (CAST(CAST(__n AS DECIMAL(38,0)) * (__n - 1)"
            "                 - COALESCE(__ty2, 0) AS DOUBLE) / 2)), 6)"
            " END AS tau_b_r6",
            "CASE WHEN COALESCE(__C, 0) + COALESCE(__D, 0) > 0 THEN"
            " ROUND(CAST(COALESCE(__C, 0) - COALESCE(__D, 0) AS DOUBLE)"
            "  / CAST(COALESCE(__C, 0) + COALESCE(__D, 0) AS DOUBLE), 6)"
            " END AS gamma_r6",
        )
    )


def mcnemar_test(
    df: DataFrame, correct_a_col: Column | str, correct_b_col: Column | str
) -> DataFrame:
    """McNemar paired-classifier test: given per-item correctness of
    two models evaluated on the SAME items, the continuity-corrected
    χ² = (|b − c| − 1)²/(b + c) over the discordant counts b (A right,
    B wrong) and c (A wrong, B right) — the right significance test
    for "is model A actually better than model B" on a shared eval
    set (two independent-sample accuracy intervals ignore the pairing
    and overstate the needed evidence). The concordant counts never
    enter the statistic; they're reported for the audit trail.

    One map-side-combined Boolean-pair count pass — four exact BIGINT
    cells of the 2×2 discordance table, then flat scalar double
    arithmetic (anova precedent), rounded @6. χ² is NULL when
    b + c = 0 (the models never disagree — no evidence either way,
    not χ²=0). Rows where either correctness is NULL are dropped
    (item not scored by both models — not a pair).

    Output: 1 row (n, both_right, both_wrong, a_only, b_only,
    chi2_cc_r6)."""
    ca = (
        F.col(correct_a_col) if isinstance(correct_a_col, str)
        else correct_a_col
    )
    cb = (
        F.col(correct_b_col) if isinstance(correct_b_col, str)
        else correct_b_col
    )
    cells = df.filter(ca.isNotNull() & cb.isNotNull()).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(ca & cb, 1).otherwise(0)).cast("long")
        .alias("both_right"),
        F.sum(F.when(~ca & ~cb, 1).otherwise(0)).cast("long")
        .alias("both_wrong"),
        F.sum(F.when(ca & ~cb, 1).otherwise(0)).cast("long").alias("a_only"),
        F.sum(F.when(~ca & cb, 1).otherwise(0)).cast("long").alias("b_only"),
    )
    return cells.selectExpr(
        "n", "both_right", "both_wrong", "a_only", "b_only",
        "CASE WHEN a_only + b_only > 0 THEN"
        " ROUND((ABS(CAST(a_only AS DOUBLE) - b_only) - 1)"
        "  * (ABS(CAST(a_only AS DOUBLE) - b_only) - 1)"
        "  / (CAST(a_only AS DOUBLE) + b_only), 6) END AS chi2_cc_r6",
    )


def cumulative_gains(
    df: DataFrame, score_col: str, label_col: Column | str, n_bins: int = 10
) -> DataFrame:
    """Cumulative-gains / lift table: rank-bin the score DESCENDING
    into ``n_bins`` near-equal bins and report, per bin, how much of
    the total positive mass the top bins have captured and the
    cumulative lift over random targeting — the
    how-deep-do-I-have-to-score operational view that completes the
    model-eval block (roc_auc: discrimination; calibration_bins:
    probability quality; this: yield per unit of targeting budget).

    Machinery is :func:`calibration_bins` verbatim on the NEGATED
    score (negation is exact for any numeric, and turns the
    exclusive-prefix ascending grain pass into a descending binning —
    ties still share one grain row, so bin assignment stays
    deterministic under any partitioning): :func:`_rank_grain` and
    its broadcast scalar totals. The cumulative across bins is a
    triangular self-join of the ≤``n_bins``-row bin table (broadcast,
    bounded — never a window over data rows). capture_micro =
    cum_pos·10⁶ div total_pos stays exact BIGINT (bound total_pos <
    ~9.2e12 — the roc_auc contract); cum_lift_r6 is one flat double
    ratio over exact integers, rounded @6, NULL when the denominators
    degenerate (no positives / empty bin prefix).

    Output: (bin, n, n_pos, score_lo, score_hi, cum_n, cum_pos,
    capture_micro, cum_lift_r6) — bin 0 = highest scores."""
    from hadoop_fcfs_spark.caching import waypoint

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        (-F.col(score_col)).alias("__v"),
        lab,
    )
    binned = before.crossJoin(F.broadcast(tot)).withColumn(
        "bin", F.expr(f"CAST(__before * {int(n_bins)} div __n AS BIGINT)")
    )
    per_bin = waypoint(
        binned.groupBy("bin").agg(
            F.sum("__c").cast("long").alias("n"),
            F.sum("__ca").cast("long").alias("n_pos"),
            F.min(-F.col("__v")).alias("score_lo"),
            F.max(-F.col("__v")).alias("score_hi"),
        )
    )
    prior = per_bin.select(
        F.col("bin").alias("__b2"),
        F.col("n").alias("__n2"),
        F.col("n_pos").alias("__p2"),
    )
    cum = (
        per_bin.join(F.broadcast(prior), F.col("__b2") <= F.col("bin"))
        .groupBy("bin")
        .agg(
            F.max("n").alias("n"),
            F.max("n_pos").alias("n_pos"),
            F.max("score_lo").alias("score_lo"),
            F.max("score_hi").alias("score_hi"),
            F.sum("__n2").cast("long").alias("cum_n"),
            F.sum("__p2").cast("long").alias("cum_pos"),
        )
    )
    return cum.crossJoin(F.broadcast(tot)).selectExpr(
        "bin", "n", "n_pos", "score_lo", "score_hi", "cum_n", "cum_pos",
        "CASE WHEN __na > 0 THEN CAST(cum_pos * 1000000 div __na AS BIGINT)"
        " END AS capture_micro",
        "CASE WHEN __na > 0 AND cum_n > 0 THEN"
        " ROUND(CAST(cum_pos AS DOUBLE) * __n"
        "  / (CAST(cum_n AS DOUBLE) * __na), 6) END AS cum_lift_r6",
    )


def expected_calibration_error(
    df: DataFrame, score_col: str, label_col: Column | str, n_bins: int = 10
) -> DataFrame:
    """Expected / maximum calibration error: the one-row scalar rollup
    of the reliability diagram — ECE = Σ_b (n_b/N)·|acc_b − conf_b|,
    MCE = max_b |acc_b − conf_b| — the alert-threshold companion to
    :func:`calibration_bins` (that's the diagnostic table; this is the
    number a drift monitor pages on) and the binned-forecast sibling
    of :func:`brier_decomposition`'s reliability term (same bins; L1
    instead of squared, so it's readable as 'average probability
    miscalibration').

    Forecast and bins are brier_decomposition's machinery verbatim:
    exclusive-prefix percentile forecast floor(before·10⁶/N) on the
    distinct-score grain (:func:`_rank_grain` + broadcast scalar
    total; ties never straddle bins). Per-bin (n_b, positives_b,
    Σc·f_micro) stay exact BIGINT (bound N·10⁶ < 2⁶³); the final
    |acc − conf| folds are doubles over the fixed ≤``n_bins`` bin rows
    only (anova precedent), rounded @6.

    Output: 1 row (n, n_bins_used, ece_r6, mce_r6)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
    )
    binned = before.crossJoin(F.broadcast(tot)).selectExpr(
        "__ca", "__c",
        f"CAST(__before * {int(n_bins)} div __n AS BIGINT) AS bin",
        "CAST(__before * 1000000 div __n AS BIGINT) AS __f",
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("__c").cast("long").alias("__nb"),
        F.sum("__ca").cast("long").alias("__cab"),
        F.sum(F.col("__c") * F.col("__f")).cast("long").alias("__sb"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .agg(
            F.max("__n").alias("n"),
            F.count("*").cast("long").alias("n_bins_used"),
            F.round(
                F.sum(
                    F.col("__nb").cast("double") / F.col("__n")
                    * F.abs(
                        F.col("__cab").cast("double") / F.col("__nb")
                        - F.col("__sb").cast("double")
                        / (F.col("__nb").cast("double") * 1000000.0)
                    )
                ),
                6,
            ).alias("ece_r6"),
            F.round(
                F.max(
                    F.abs(
                        F.col("__cab").cast("double") / F.col("__nb")
                        - F.col("__sb").cast("double")
                        / (F.col("__nb").cast("double") * 1000000.0)
                    )
                ),
                6,
            ).alias("mce_r6"),
        )
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Kruskal-Wallis H test: do k groups share one location, judged on
    ranks — the k-arm generalization of :func:`mann_whitney_u` and the
    nonparametric sibling of :func:`anova_oneway` (which assumes
    near-normal within-group noise; this ranks instead, robust to skew
    and outliers — the right omnibus screen before pairwise MWU
    follow-ups).

    Scale shape extends the MWU grain trick one level: ONE
    map-side-combined pass collapses data to the (group, value) grain;
    the value grain derives from that without touching data again, so
    it takes only the prefix half of :func:`_rank_grain`
    (:func:`_value_prefix`); a grain-sized equi-join hands each
    (group, value) cell its rank block. Exact arithmetic all the way
    to one double conversion: per-group 2x rank sums
    2R_g = Σ cg·(2·before + c + 1) (:func:`_midrank2`) are exact
    BIGINT; the H numerator Σ R_g²/n_g routes through DECIMAL(38,0)
    multiply + truncating integer division (Spark `div` = DuckDB `//` on
    the 2x scale: Σ (2R_g)² div (4·n_g), per-group truncation error < 1
    — beneath the e6 floor at any n), summed as BIGINT; ties Σ(c³−c) exact
    BIGINT. H, the tie-corrected H_c = H/(1 − ties/(N³−N)) and the
    ε² = (H − k + 1)/(N − k) effect size are flat double expressions
    of those integers (division-only, identical shape cross-engine).

    Integer bounds (ANSI throws rather than corrupts): Σ(2R_g)² div
    (4n_g) ≤ N(2N+1)²/4 < 2⁶³ needs N < ~6.5e5 per strict bound —
    in practice Σ R_g²/n_g ≈ N·R̄² stays far below it unless one
    group holds nearly everything; the tie term needs the largest tie
    group < ~2.1e6 (the MWU bound). NULL statistics when k < 2 or
    N ≤ k; NULL H_c when every value ties (correction hits 0).

    Output: 1 row (k_groups, n_rows, h_e6, hc_e6, eps2_e6)."""
    from hadoop_fcfs_spark.caching import waypoint

    gvg = waypoint(
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .agg(F.count("*").cast("long").alias("__cg"))
    )
    vg = waypoint(
        gvg.groupBy("__v").agg(F.sum("__cg").cast("long").alias("__c"))
    )
    per_g = (
        gvg.join(_value_prefix(vg), "__v")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__cg") * _midrank2()).cast("long").alias("__r2g"),
            F.sum("__cg").cast("long").alias("__ng"),
        )
    )
    m = per_g.selectExpr(
        "__ng",
        "CAST((CAST(__r2g AS DECIMAL(38,0)) * __r2g)"
        " div (4 * __ng) AS BIGINT) AS __term",
    ).agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__ng").cast("long").alias("__nn"),
        F.sum("__term").cast("long").alias("__srr"),
    )
    ties = vg.agg(
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).cast("long").alias("__ties")
    )
    return m.crossJoin(F.broadcast(ties)).selectExpr(
        "__k AS k_groups",
        "__nn AS n_rows",
        "CASE WHEN __k > 1 AND __nn > __k THEN CAST(FLOOR("
        "(12.0 * CAST(__srr AS DOUBLE)"
        " / (CAST(__nn AS DOUBLE) * (CAST(__nn AS DOUBLE) + 1.0))"
        " - 3.0 * (CAST(__nn AS DOUBLE) + 1.0)) * 1000000) AS BIGINT)"
        " END AS h_e6",
        "CASE WHEN __k > 1 AND __nn > __k AND"
        " (1.0 - CAST(__ties AS DOUBLE)"
        " / (CAST(__nn AS DOUBLE) * CAST(__nn AS DOUBLE)"
        " * CAST(__nn AS DOUBLE) - CAST(__nn AS DOUBLE))) > 0"
        " THEN CAST(FLOOR("
        "(12.0 * CAST(__srr AS DOUBLE)"
        " / (CAST(__nn AS DOUBLE) * (CAST(__nn AS DOUBLE) + 1.0))"
        " - 3.0 * (CAST(__nn AS DOUBLE) + 1.0))"
        " / (1.0 - CAST(__ties AS DOUBLE)"
        " / (CAST(__nn AS DOUBLE) * CAST(__nn AS DOUBLE)"
        " * CAST(__nn AS DOUBLE) - CAST(__nn AS DOUBLE)))"
        " * 1000000) AS BIGINT) END AS hc_e6",
        "CASE WHEN __k > 1 AND __nn > __k THEN CAST(FLOOR("
        "((12.0 * CAST(__srr AS DOUBLE)"
        " / (CAST(__nn AS DOUBLE) * (CAST(__nn AS DOUBLE) + 1.0))"
        " - 3.0 * (CAST(__nn AS DOUBLE) + 1.0))"
        " - CAST(__k AS DOUBLE) + 1.0)"
        " / (CAST(__nn AS DOUBLE) - CAST(__k AS DOUBLE))"
        " * 1000000) AS BIGINT) END AS eps2_e6",
    )


def roc_auc_by_group(
    df: DataFrame, score_col: str, label_col: Column | str, group_col: str
) -> DataFrame:
    """Per-group exact ROC-AUC — :func:`roc_auc` sliced by a segment
    column, the "is the model equally discriminative across cohorts"
    fairness/QA table (a global AUC hides a segment where the score
    inverts; this surfaces it).

    Same exact 2x rank machinery as roc_auc, with the grain keyed by
    (group, score) and the exclusive prefix via a window PARTITIONED
    by group over that grain — partitioned and grain-sized, so no
    single task ever sees more than one group's distinct scores (the
    grouped-running-sum shape, allowlisted by design; groups at this
    grain are segment-sized, and AQE skew-splits a dominant one).
    auc_micro = floor(u2·10⁶ div (2·n_pos·n_neg)) — exact BIGINT, one
    integer division per group, bit-identical cross-engine. Same
    integer bound as roc_auc, per group. Groups where either class is
    empty return NULL auc (present in the output — their absence
    would silently hide a degenerate segment).

    Output: 1 row per group (group, n_pos, n_neg, auc_micro)."""
    from pyspark.sql import Window

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    grain = (
        df.filter(
            F.col(score_col).isNotNull()
            & lab.isNotNull()
            & F.col(group_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("group"), F.col(score_col).alias("__v")
        )
        .agg(
            F.sum(F.when(lab, 1).otherwise(0)).cast("long").alias("__ca"),
            F.sum(F.when(lab, 0).otherwise(1)).cast("long").alias("__cb"),
        )
        .withColumn("__c", F.col("__ca") + F.col("__cb"))
    )
    w = Window.partitionBy("group").orderBy("__v")
    before = grain.withColumn(
        "__before", F.sum("__c").over(w) - F.col("__c")
    )
    agg = before.groupBy("group").agg(
        F.sum(F.col("__ca") * _midrank2()).cast("long").alias("__r2a"),
        F.sum("__ca").cast("long").alias("n_pos"),
        F.sum("__cb").cast("long").alias("n_neg"),
    )
    return agg.selectExpr(
        "group", "n_pos", "n_neg",
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
        "CAST(((__r2a - n_pos * (n_pos + 1)) * 1000000)"
        " div (2 * n_pos * n_neg) AS BIGINT) END AS auc_micro",
    )


def cochran_q(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cochran's Q test: do k paired binary treatments (classifiers
    judged right/wrong on the SAME subjects) share one success rate —
    the k-arm generalization of :func:`mcnemar_test` (k = 2 reduces to
    McNemar without continuity correction) and the binary sibling of
    Fleiss' kappa (kappa asks "do raters agree"; Q asks "is any rater
    actually better").

    ``cols`` are boolean columns, one row per subject; NULL counts as
    failure (the mcnemar gate's COALESCE convention — a classifier
    that abstained did not get it right). ONE map-side-combined pass
    accumulates exact BIGINTs: per-treatment success totals C_j, the
    grand total T, and Σ R_i² of per-subject success counts;
    Q = (k−1)(k·ΣC_j² − T²)/(k·T − ΣR_i²) is one double division of
    exact integers, floored to e6. Integer bound (ANSI throws, never
    corrupts): k·ΣC_j² ≤ k²n² < 2⁶³ needs k·n < ~3e9 subjects×arms.
    NULL Q when the denominator is 0 (every subject all-right or
    all-wrong — no discordance to test) or k < 2.

    Output: 1 row (n_subjects, k_treatments, t_total, q_e6)."""
    k = len(cols)
    if k < 2:
        raise ValueError(f"cochran_q needs >= 2 treatment columns, got {k}")
    ind = [
        F.when(F.col(c), F.lit(1)).otherwise(F.lit(0)).cast("long")
        for c in cols
    ]
    r = sum(ind[1:], ind[0])
    agg = df.select(
        r.alias("__r"), *[ix.alias(f"__i{j}") for j, ix in enumerate(ind)]
    ).agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__r").cast("long").alias("__t"),
        F.sum(F.col("__r") * F.col("__r")).cast("long").alias("__sr2"),
        *[F.sum(f"__i{j}").cast("long").alias(f"__c{j}") for j in range(k)],
    )
    sc2 = " + ".join(f"(__c{j} * __c{j})" for j in range(k))
    return agg.selectExpr(
        "__n AS n_subjects",
        f"CAST({k} AS BIGINT) AS k_treatments",
        "__t AS t_total",
        f"CASE WHEN ({k} * __t - __sr2) > 0 THEN CAST(FLOOR("
        f"CAST(({k} - 1) * ({k} * ({sc2}) - __t * __t) AS DOUBLE)"
        f" / CAST({k} * __t - __sr2 AS DOUBLE) * 1000000) AS BIGINT)"
        " END AS q_e6",
    )


def cramers_v(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Cramér's V: the [0,1] effect size of a chi-squared independence
    test, V = sqrt(X² / (N·min(|X|−1, |Y|−1))) — the "how strongly are
    these categoricals associated" number (chi2 alone grows with N, so
    it can't compare tables; V can — the categorical analogue of
    orders_mutual_info's normalized MI).

    Same observed-cells-only contingency shape as
    :func:`chi_squared_independence` (one (x,y) count pass, marginals
    re-aggregated from the table, X² = Σ_obs((o−e)²/e − e) + N). V is
    computed FROM the already-floored chi2_e6, so the one sqrt sees
    bit-identical inputs cross-engine (IEEE sqrt is correctly rounded
    — the wilson bound contract). NULL V when either cardinality is 1
    (min margin 0) or N = 0. Output: 1 row (chi2_e6, dof, n, v_e6)."""
    from hadoop_fcfs_spark.caching import waypoint

    joint = waypoint(
        df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .groupBy(F.col(col_x).alias("__x"), F.col(col_y).alias("__y"))
        .agg(F.count("*").alias("__nxy"))
    )
    mx = joint.groupBy("__x").agg(F.sum("__nxy").alias("__nx"))
    my = joint.groupBy("__y").agg(F.sum("__nxy").alias("__ny"))
    total = joint.agg(F.sum("__nxy").cast("double").alias("__n"))
    exp = F.col("__nx") * F.col("__ny") / F.col("__n")
    terms = (
        joint.join(mx, "__x")
        .join(my, "__y")
        .crossJoin(F.broadcast(total))
        .select(
            (
                (F.col("__nxy") - exp) * (F.col("__nxy") - exp) / exp - exp
            ).alias("__t")
        )
    )
    card = joint.agg(
        F.countDistinct("__x").alias("__cx"),
        F.countDistinct("__y").alias("__cy"),
        F.sum("__nxy").cast("long").alias("n"),
    )
    return (
        terms.agg(F.sum("__t").alias("__s"))
        .crossJoin(F.broadcast(card))
        .select(
            F.floor((F.col("__s") + F.col("n")) * 1_000_000)
            .cast("long")
            .alias("chi2_e6"),
            ((F.col("__cx") - 1) * (F.col("__cy") - 1))
            .cast("long")
            .alias("dof"),
            F.col("n"),
            F.least(F.col("__cx") - 1, F.col("__cy") - 1)
            .cast("long")
            .alias("__minm"),
        )
        .selectExpr(
            "chi2_e6", "dof", "n",
            "CASE WHEN __minm > 0 AND n > 0 THEN CAST(FLOOR(SQRT("
            "(CAST(chi2_e6 AS DOUBLE) / 1000000.0)"
            " / (CAST(n AS DOUBLE) * CAST(__minm AS DOUBLE)))"
            " * 1000000) AS BIGINT) END AS v_e6",
        )
    )


def friedman_test(
    df: DataFrame, block_col: str, treatment_col: str, value_col: str
) -> DataFrame:
    """Friedman test: do k treatments rank the same within every block
    — the repeated-measures / blocked-design omnibus that completes
    the rank-test family (:func:`mann_whitney_u` = 2 independent arms,
    :func:`kruskal_wallis` = k independent arms, this = k MATCHED
    arms; run pairwise Wilcoxon/MWU follow-ups on what it flags).
    Classic use here: do shipping modes keep one volume ordering
    month after month, or does the ranking genuinely shuffle?

    Input is one value per (block, treatment) cell; blocks missing any
    treatment are EXCLUDED (Friedman needs complete blocks — the count
    of kept blocks is in the output, so silent attrition is visible).
    Ranks are within-block midranks carried as exact 2x BIGINTs
    (2R = 2·before + c + 1 on the (block, value) sub-grain — the MWU
    idiom, partitioned by block so no global anything); per-treatment
    rank sums and the tie term Σ(c³−c) are exact BIGINT; the
    Σ(2R_j)²-style numerator reuses the kruskal DECIMAL(38,0) ·
    truncating-div route. Q and the tie-corrected
    Q_c = Q / (1 − Σties/(n·k·(k²−1))) are flat double expressions of
    exact integers. NULL statistics when k < 2 or no complete block;
    NULL Q_c when every block is all-ties.

    Scale shape: ONE map-side-combined pass to the (block, treatment)
    cell grain is the only data-sized step; every window after it is
    PARTITIONED by block over cell rows (k per block). Output: 1 row
    (k_treatments, n_blocks, q_e6, qc_e6)."""
    from pyspark.sql import Window

    # one value per (block, treatment) cell; if the caller left
    # duplicates, min() is the deterministic pick (document upstream)
    cells = (
        df.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("__b"), F.col(treatment_col).alias("__t")
        )
        .agg(F.min(value_col).alias("__v"))
    )
    k_df = cells.agg(F.countDistinct("__t").cast("long").alias("__k"))
    complete = (
        cells.groupBy("__b")
        .agg(F.count("*").cast("long").alias("__nt"))
        .crossJoin(F.broadcast(k_df))
        .filter(F.col("__nt") == F.col("__k"))
        .select("__b")
    )
    kept = cells.join(complete, "__b")
    # within-block midranks on the (block, value) sub-grain
    sub = kept.groupBy("__b", "__v").agg(F.count("*").cast("long").alias("__c"))
    w = Window.partitionBy("__b").orderBy("__v")
    sub = sub.withColumn("__before", F.sum("__c").over(w) - F.col("__c"))
    ranked = kept.join(sub, ["__b", "__v"]).withColumn("__r2", _midrank2())
    per_t = ranked.groupBy("__t").agg(
        F.sum("__r2").cast("long").alias("__r2j"),
        F.count("*").cast("long").alias("__nb"),
    )
    m = per_t.selectExpr(
        "__nb",
        "CAST((CAST(__r2j AS DECIMAL(38,0)) * __r2j) div 4 AS BIGINT) AS __term",
    ).agg(
        F.count("*").cast("long").alias("__k"),
        F.max("__nb").cast("long").alias("__n"),
        F.sum("__term").cast("long").alias("__srr"),
    )
    ties = sub.agg(
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).cast("long").alias("__ties")
    )
    return m.crossJoin(F.broadcast(ties)).selectExpr(
        "__k AS k_treatments",
        "COALESCE(__n, 0) AS n_blocks",
        "CASE WHEN __k > 1 AND __n > 0 THEN CAST(FLOOR("
        "(12.0 * CAST(__srr AS DOUBLE)"
        " / (CAST(__n AS DOUBLE) * CAST(__k AS DOUBLE)"
        " * (CAST(__k AS DOUBLE) + 1.0))"
        " - 3.0 * CAST(__n AS DOUBLE) * (CAST(__k AS DOUBLE) + 1.0))"
        " * 1000000) AS BIGINT) END AS q_e6",
        "CASE WHEN __k > 1 AND __n > 0 AND"
        " (1.0 - CAST(__ties AS DOUBLE)"
        " / (CAST(__n AS DOUBLE) * CAST(__k AS DOUBLE)"
        " * (CAST(__k AS DOUBLE) * CAST(__k AS DOUBLE) - 1.0))) > 0"
        " THEN CAST(FLOOR("
        "(12.0 * CAST(__srr AS DOUBLE)"
        " / (CAST(__n AS DOUBLE) * CAST(__k AS DOUBLE)"
        " * (CAST(__k AS DOUBLE) + 1.0))"
        " - 3.0 * CAST(__n AS DOUBLE) * (CAST(__k AS DOUBLE) + 1.0))"
        " / (1.0 - CAST(__ties AS DOUBLE)"
        " / (CAST(__n AS DOUBLE) * CAST(__k AS DOUBLE)"
        " * (CAST(__k AS DOUBLE) * CAST(__k AS DOUBLE) - 1.0)))"
        " * 1000000) AS BIGINT) END AS qc_e6",
    )


def page_trend_test(
    df: DataFrame, block_col: str, ord_col: str, value_col: str
) -> DataFrame:
    """Page's trend test: do k treatments follow one HYPOTHESIZED
    ordering within every block — the ordered-alternative sibling of
    :func:`friedman_test` (Friedman asks "do the arms differ at all
    across matched blocks"; Page asks "do they differ in THIS
    direction"), and the blocked sibling of the Jonckheere–Terpstra
    test (JT = ordered alternative over independent groups, this =
    ordered alternative over matched blocks). More powerful than
    Friedman whenever a monotone dose/priority/severity order exists.

    ``ord_col`` must hold the hypothesized treatment position as a
    DENSE integer 1..k (the caller maps labels to positions — e.g.
    the leading digit of '1-URGENT'..'5-LOW'); the statistic z is
    NULLed (l2 still reported) if the positions are not dense, since
    the classic moments assume scores 1..k. Blocks missing any
    treatment are EXCLUDED (complete-block rule, count visible).

    L = Σ_j j·R_j over within-block midranks; carried as the exact
    BIGINT 2L = Σ j·(2R) via the 2x-midrank idiom (2R = 2·before +
    c + 1 on the (block, value) sub-grain). Under H0, E[2L] =
    n·k·(k+1)²/2 (always an exact integer) and Var[L] =
    n·k²·(k+1)·(k²−1)/144 — the classic no-ties moments (midranks
    keep L well-defined under ties; the variance is then the
    standard conservative approximation). z = (2L − E[2L]) /
    sqrt(4·Var[L]) is ONE flat double expression of exact integers +
    one sqrt, floored to e6.

    Scale shape: identical to friedman_test — ONE map-side-combined
    pass to the (block, treatment) cell grain, block-partitioned
    windows over k-bounded cells, scalar reduce. Output: 1 row
    (k_treatments, n_blocks, l2, z_e6)."""
    from pyspark.sql import Window

    cells = (
        df.filter(
            F.col(block_col).isNotNull()
            & F.col(ord_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("__b"),
            F.col(ord_col).cast("long").alias("__j"),
        )
        .agg(F.min(value_col).alias("__v"))
    )
    k_df = cells.agg(
        F.countDistinct("__j").cast("long").alias("__k"),
        F.min("__j").cast("long").alias("__mn"),
        F.max("__j").cast("long").alias("__mx"),
    )
    complete = (
        cells.groupBy("__b")
        .agg(F.count("*").cast("long").alias("__nt"))
        .crossJoin(F.broadcast(k_df))
        .filter(F.col("__nt") == F.col("__k"))
        .select("__b")
    )
    kept = cells.join(complete, "__b")
    sub = kept.groupBy("__b", "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    w = Window.partitionBy("__b").orderBy("__v")
    sub = sub.withColumn("__before", F.sum("__c").over(w) - F.col("__c"))
    ranked = kept.join(sub, ["__b", "__v"]).withColumn("__r2", _midrank2())
    m = ranked.agg(
        F.sum(F.col("__j") * F.col("__r2")).cast("long").alias("__l2"),
        F.countDistinct("__b").cast("long").alias("__n"),
    )
    return m.crossJoin(F.broadcast(k_df)).selectExpr(
        "__k AS k_treatments",
        "COALESCE(__n, 0) AS n_blocks",
        "__l2 AS l2",
        "CASE WHEN __k > 1 AND __n > 0 AND __mn = 1 AND __mx = __k"
        " THEN CAST(FLOOR("
        "CAST(__l2 - (__n * __k * (__k + 1) * (__k + 1)) div 2 AS DOUBLE)"
        " / sqrt(CAST(__n AS DOUBLE) * CAST(__k AS DOUBLE)"
        " * CAST(__k AS DOUBLE) * (CAST(__k AS DOUBLE) + 1.0)"
        " * (CAST(__k AS DOUBLE) * CAST(__k AS DOUBLE) - 1.0) / 36.0)"
        " * 1000000) AS BIGINT) END AS z_e6",
    )


def isotonic_calibration(
    df: DataFrame, score_col: str, label_col: Column | str, n_bins: int = 10
) -> DataFrame:
    """Isotonic (PAV) calibration over the reliability-bin grain: the
    monotone-nondecreasing rate curve closest (weighted L2) to the
    observed per-bin rates — the calibration FIX under
    :func:`calibration_bins`' diagnosis (a model whose reliability
    diagram dips gets its scores remapped through this curve; the
    nonparametric alternative to Platt scaling). Computed via the
    minimax identity iso(i) = max_{j≤i} min_{l≥j} R(j..l) with R the
    pooled rate — the closed form of pool-adjacent-violators, which
    is sequential and would not distribute; the identity does, as
    bounded triangular joins.

    Everything data-sized happens inside calibration_bins (grain
    collapse + ONE range pass); this adds only n_bins²-bounded
    broadcast joins (≤55 pairs at 10 bins — the gains_orderstatus
    triangular-join precedent). Pooled rates are ONE double division
    of exact BIGINT pooled sums each; min/max over doubles are
    order-independent, so the floor-micro curve is deterministic
    cross-engine (two pooled rates collide in double only past 2⁵³
    counts). Output: (bin, n, n_pos, rate_micro, iso_micro) — one row
    per non-empty bin, iso_micro monotone nondecreasing in bin."""
    from hadoop_fcfs_spark.caching import waypoint

    bins = waypoint(
        calibration_bins(df, score_col, label_col, n_bins).select(
            "bin", "n", "n_pos", "rate_micro"
        )
    )
    j = bins.select(F.col("bin").alias("__j"))
    l = bins.select(F.col("bin").alias("__l"))
    m = bins.select(F.col("bin").alias("__m"), "n", "n_pos")
    pooled = (
        j.crossJoin(F.broadcast(l))
        .filter(F.col("__j") <= F.col("__l"))
        .join(
            F.broadcast(m),
            (F.col("__m") >= F.col("__j")) & (F.col("__m") <= F.col("__l")),
        )
        .groupBy("__j", "__l")
        .agg(
            F.sum("n").cast("long").alias("__sn"),
            F.sum("n_pos").cast("long").alias("__sp"),
        )
        .withColumn(
            "__q", F.col("__sp").cast("double") / F.col("__sn").cast("double")
        )
    )
    m1 = pooled.groupBy("__j").agg(F.min("__q").alias("__mn"))
    i = bins.select(F.col("bin").alias("__i"))
    iso = (
        i.join(F.broadcast(m1), F.col("__j") <= F.col("__i"))
        .groupBy("__i")
        .agg(F.max("__mn").alias("__iso"))
    )
    return (
        bins.join(iso, bins["bin"] == iso["__i"])
        .select(
            "bin", "n", "n_pos", "rate_micro",
            F.floor(F.col("__iso") * 1_000_000).cast("long").alias("iso_micro"),
        )
    )


def brown_forsythe(
    df: DataFrame, value_col: str, group_col: str, scale: int = 100
) -> DataFrame:
    """Brown–Forsythe test (the robust Levene variant): do k groups
    share one SPREAD — the variance-homogeneity screen that decides
    between :func:`anova_oneway` (assumes equal variances) and Welch
    pairwise follow-ups. W = the one-way ANOVA F computed on
    z = |x − median_g| instead of x; using group MEDIANS (not means)
    is what keeps the test honest under skew, which is the regime
    where the question matters.

    Two aggregate passes, both map-side combined, data rows never
    shuffle (the encode-tier contract): per-group exact integer
    medians from :func:`ops.encode.grouped_quartiles` (lower-crossing
    convention, #groups-row summary broadcast back), then per-group
    exact BIGINT (n, Σz, Σz²) of the quantized absolute deviations.
    The F arithmetic is anova_oneway's identical flat double shape
    (the only engine-ordered sum is the k-element Σ S1_g²/n_g —
    anova's documented risk class). NULL W when k < 2, n ≤ k, or the
    within-group deviation mass is 0 (every group constant). Output:
    1 row (k_groups, n_rows, w_e6, df_between, df_within)."""
    from hadoop_fcfs_spark.ops.encode import grouped_quartiles

    meds = grouped_quartiles(df, group_col, value_col, scale).select(
        F.col(group_col).alias("__mg"), "med_q"
    )
    q = F.floor(F.col(value_col) * scale).cast("long")
    z = F.abs(q - F.col("med_q"))
    g = (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(meds), F.col(group_col) == F.col("__mg"))
        .select(F.col(group_col).alias("__g"), z.alias("__z"))
        .groupBy("__g")
        .agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__z").cast("long").alias("__s1"),
            F.sum(F.col("__z") * F.col("__z")).cast("long").alias("__s2"),
        )
    )
    m = g.agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__n").cast("long").alias("__nn"),
        F.sum("__s1").cast("long").alias("__ts1"),
        F.sum("__s2").cast("long").alias("__ts2"),
        F.sum(
            F.col("__s1").cast("double") * F.col("__s1").cast("double")
            / F.col("__n").cast("double")
        ).alias("__sgm"),
    )
    nn, k = F.col("__nn").cast("double"), F.col("__k").cast("double")
    ts1, ts2 = F.col("__ts1").cast("double"), F.col("__ts2").cast("double")
    ssb = F.col("__sgm") - ts1 * ts1 / nn
    ssw = ts2 - F.col("__sgm")
    w_stat = (ssb / F.nullif(k - 1.0, F.lit(0.0))) / F.nullif(
        ssw / F.nullif(nn - k, F.lit(0.0)), F.lit(0.0)
    )
    ok = (F.col("__k") > 1) & (F.col("__nn") > F.col("__k")) & (ssw > 0)
    return m.select(
        F.col("__k").alias("k_groups"),
        F.col("__nn").alias("n_rows"),
        F.when(ok, F.floor(w_stat * 1_000_000).cast("long")).alias("w_e6"),
        (F.col("__k") - 1).alias("df_between"),
        (F.col("__nn") - F.col("__k")).alias("df_within"),
    )


def roc_auc_delong(
    df: DataFrame, score_col: str, label_col: Column | str, z: float = 1.96
) -> DataFrame:
    """ROC-AUC with DeLong standard error and confidence interval —
    the eval-tier upgrade of :func:`roc_auc` (a point AUC without an
    interval can't say whether 0.71 beats 0.69; DeLong 1988 is THE
    standard nonparametric AUC variance). Var(AUC) = S10/n₊ + S01/n₋
    where S10/S01 are the sample variances of the per-positive /
    per-negative placement values (the fraction of the other class
    each observation outranks, ties half).

    Same single grain collapse + ONE exclusive-prefix range pass as
    roc_auc; placements stay exact by carrying 2x numerators per
    GRAIN row (q₊ = 2·negBefore + negTies, q₋ = 2·posAbove +
    posTies), so the placement moments are exact: Σw·q in BIGINT and
    Σw·q² through DECIMAL(38,0) (the kruskal route — q² alone can
    pass 2⁶³). The variance/SE/CI are flat double expressions of
    those integers (division, one sqrt — correctly rounded, the
    wilson contract); CI clamped to [0, 1]. NULL SE/CI when either
    class has < 2 members (sample variance undefined) — auc_micro
    still exact via integer div. Output: 1 row (n_pos, n_neg,
    auc_micro, se_e9, ci_lo_e6, ci_hi_e6)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    grain = waypoint(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .groupBy(F.col(score_col).alias("__v"))
        .agg(
            F.sum(F.when(lab, 1).otherwise(0)).cast("long").alias("__ca"),
            F.sum(F.when(lab, 0).otherwise(1)).cast("long").alias("__cb"),
        )
    )
    pre = global_running_sum(
        grain, ["__v"], ["__ca", "__cb"],
        out_col=["__cuma", "__cumb"],
    )
    tot = grain.agg(
        F.sum("__ca").cast("long").alias("__na"),
        F.sum("__cb").cast("long").alias("__nb"),
    )
    rows = pre.crossJoin(F.broadcast(tot)).selectExpr(
        "__ca", "__cb", "__na", "__nb",
        # inclusive cum -> before = cum - own count
        "2 * (__cumb - __cb) + __cb AS __qp",
        "2 * (__na - __cuma) + __ca AS __qn",
    )
    agg = rows.selectExpr(
        "__ca", "__cb", "__qp", "__qn", "__na", "__nb",
        "CAST(CAST(__ca AS DECIMAL(38,0)) * __qp * __qp AS DECIMAL(38,0))"
        " AS __p2",
        "CAST(CAST(__cb AS DECIMAL(38,0)) * __qn * __qn AS DECIMAL(38,0))"
        " AS __n2",
    ).agg(
        F.max("__na").alias("n_pos"),
        F.max("__nb").alias("n_neg"),
        F.sum(F.col("__ca") * F.col("__qp")).cast("long").alias("__sp1"),
        F.sum(F.col("__cb") * F.col("__qn")).cast("long").alias("__sn1"),
        F.sum("__p2").cast("decimal(38,0)").alias("__sp2"),
        F.sum("__n2").cast("decimal(38,0)").alias("__sn2"),
    )
    return agg.selectExpr(
        "COALESCE(n_pos, 0) AS n_pos",
        "COALESCE(n_neg, 0) AS n_neg",
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN"
        " CAST((__sp1 * 1000000) div (2 * n_pos * n_neg) AS BIGINT)"
        " END AS auc_micro",
        "__sp1", "__sn1", "__sp2", "__sn2",
    ).selectExpr(
        "n_pos", "n_neg", "auc_micro",
        # flat double shapes of exact integers from here on
        f"""CASE WHEN n_pos > 1 AND n_neg > 1 THEN
          SQRT(
            ((CAST(__sp2 AS DOUBLE)
              - CAST(__sp1 AS DOUBLE) * CAST(__sp1 AS DOUBLE)
                / CAST(n_pos AS DOUBLE))
             / (CAST(n_pos AS DOUBLE) - 1.0)
             / (4.0 * CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE)))
            / CAST(n_pos AS DOUBLE)
            + ((CAST(__sn2 AS DOUBLE)
              - CAST(__sn1 AS DOUBLE) * CAST(__sn1 AS DOUBLE)
                / CAST(n_neg AS DOUBLE))
             / (CAST(n_neg AS DOUBLE) - 1.0)
             / (4.0 * CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE)))
            / CAST(n_neg AS DOUBLE))
        END AS __se""",
        "CAST(__sp1 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE)"
        " * CAST(n_neg AS DOUBLE)) AS __aucd",
    ).selectExpr(
        "n_pos", "n_neg", "auc_micro",
        "CASE WHEN __se IS NOT NULL THEN"
        " CAST(FLOOR(__se * 1000000000) AS BIGINT) END AS se_e9",
        f"CASE WHEN __se IS NOT NULL THEN CAST(FLOOR("
        f"GREATEST(0.0, __aucd - {z} * __se) * 1000000) AS BIGINT)"
        " END AS ci_lo_e6",
        f"CASE WHEN __se IS NOT NULL THEN CAST(FLOOR("
        f"LEAST(1.0, __aucd + {z} * __se) * 1000000) AS BIGINT)"
        " END AS ci_hi_e6",
    )


def jonckheere_terpstra(
    df: DataFrame, value_col: str, group_col: str, order: list
) -> DataFrame:
    """Jonckheere–Terpstra trend test: do the groups, taken in the
    GIVEN order, shift stochastically upward — the ordered-alternative
    sibling of :func:`kruskal_wallis` (KW asks "any difference"; JT
    asks "a monotone difference", with far more power when the
    ordering is the hypothesis: does price rise with priority tier,
    quality with source rank, latency with retry count). JT =
    Σ_{g<h} U_gh (pairwise Mann–Whitney counts over ordered group
    pairs), carried as exact 2x BIGINTs (2·#(x_g<x_h) + #ties); z
    uses the TIE-CORRECTED variance (Hollander–Wolfe 6.19 three-term
    form) built entirely from exact group-size and tie-group moments.

    Scale shape: one map-side-combined pass to the (group, value)
    grain; the grain expands ×(k−1) against a broadcast ordered-pair
    table (k ≤ dozens — this is an ordered-CATEGORY test) so each
    grain row deposits its count under every HIGHER group; per-h
    prefix over values runs through ops.sort.chunked_running_sum
    (floor(v)-bucket chunks — no single-task window even when one
    pair dominates). Values must be numeric (the chunking key).
    NULL z when k < 2 or the variance is 0. Output: 1 row
    (k_groups, n_rows, jt2, z_e6).

    Integer bounds (ANSI throws): jt2 < N² needs N < ~3e9; the
    variance terms use Σn³ and Σt³ (the MWU tie bound per group /
    tie block)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import chunked_running_sum

    k = len(order)
    if k < 2:
        raise ValueError(f"need >= 2 ordered groups, got {k}")
    if len(set(order)) != k:
        raise ValueError("order contains duplicate group labels")
    spark = df.sparkSession
    idx = spark.createDataFrame(
        [(g, i) for i, g in enumerate(order)], ["__glabel", "__gi"]
    )
    gvg = waypoint(
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isin(order))
        .join(F.broadcast(idx), F.col(group_col) == F.col("__glabel"))
        .groupBy(F.col("__gi"), F.col(value_col).alias("__v"))
        .agg(F.count("*").cast("long").alias("__c"))
    )
    pairs = spark.createDataFrame(
        [(g, h) for g in range(k) for h in range(k) if g < h],
        ["__lo", "__h"],
    )
    lower = (
        gvg.join(F.broadcast(pairs), gvg["__gi"] == F.col("__lo"))
        .select("__v", "__h", F.col("__c").alias("__lc"),
                F.lit(0).cast("long").alias("__hc"))
    )
    own = gvg.select(
        "__v", F.col("__gi").alias("__h"),
        F.lit(0).cast("long").alias("__lc"), F.col("__c").alias("__hc"),
    )
    lattice = (
        lower.unionByName(own)
        .groupBy("__v", "__h")
        .agg(
            F.sum("__lc").cast("long").alias("__L"),
            F.sum("__hc").cast("long").alias("__C"),
        )
    )
    cum = chunked_running_sum(
        lattice, ["__h"],
        F.shiftright(F.floor(F.col("__v")).cast("long"), 8),
        ["__v"], "__L", out_col="__cumL",
    )
    jt = cum.filter(F.col("__C") > 0).agg(
        F.sum(
            F.col("__C") * (2 * (F.col("__cumL") - F.col("__L")) + F.col("__L"))
        ).cast("long").alias("jt2")
    )
    sizes = gvg.groupBy("__gi").agg(F.sum("__c").cast("long").alias("__n"))
    gm = sizes.agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__n").cast("long").alias("__nn"),
        F.sum(F.col("__n") * (F.col("__n") - 1) * (2 * F.col("__n") + 5))
        .cast("long").alias("__g1"),
        F.sum(F.col("__n") * (F.col("__n") - 1) * (F.col("__n") - 2))
        .cast("long").alias("__g2"),
        F.sum(F.col("__n") * (F.col("__n") - 1)).cast("long").alias("__g3"),
    )
    tv = gvg.groupBy("__v").agg(F.sum("__c").cast("long").alias("__t"))
    tm = tv.agg(
        F.sum(F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5))
        .cast("long").alias("__t1"),
        F.sum(F.col("__t") * (F.col("__t") - 1) * (F.col("__t") - 2))
        .cast("long").alias("__t2"),
        F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long").alias("__t3"),
    )
    return (
        jt.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(tm))
        .selectExpr(
            "__k AS k_groups", "__nn AS n_rows", "jt2",
            # var from HW 6.19, all moments exact BIGINT, one flat
            # double shape (Σn² recovered as __g3 + N)
            """CASE WHEN __k > 1 AND __nn > 2 THEN
                (CAST(__nn AS DOUBLE) * (CAST(__nn AS DOUBLE) - 1.0)
                   * (2.0 * CAST(__nn AS DOUBLE) + 5.0)
                 - CAST(__g1 AS DOUBLE) - CAST(__t1 AS DOUBLE)) / 72.0
                + CAST(__g2 AS DOUBLE) * CAST(__t2 AS DOUBLE)
                  / (36.0 * CAST(__nn AS DOUBLE)
                     * (CAST(__nn AS DOUBLE) - 1.0)
                     * (CAST(__nn AS DOUBLE) - 2.0))
                + CAST(__g3 AS DOUBLE) * CAST(__t3 AS DOUBLE)
                  / (8.0 * CAST(__nn AS DOUBLE)
                     * (CAST(__nn AS DOUBLE) - 1.0))
            END AS __var""",
            "__g3", "__nn AS __nnd",
        )
        .selectExpr(
            "k_groups", "n_rows", "jt2",
            "CASE WHEN __var IS NOT NULL AND __var > 0 THEN CAST(FLOOR("
            "(CAST(jt2 AS DOUBLE) / 2.0"
            " - (CAST(__nnd AS DOUBLE) * CAST(__nnd AS DOUBLE)"
            "    - (CAST(__g3 AS DOUBLE) + CAST(__nnd AS DOUBLE))) / 4.0)"
            " / SQRT(__var) * 1000000) AS BIGINT) END AS z_e6",
        )
    )


def effect_sizes_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    scale: int = 100,
) -> DataFrame:
    """Two-sample effect sizes: Cliff's delta (rank-based: P(a>b) −
    P(a<b), the MWU's answer to "HOW different", robust to any
    distribution shape) and Cohen's d with pooled SD (the
    mean-difference counterpart) — the numbers a pipeline ACTS on
    where p-values only gatekeep (a significant z at n=10⁷ can be an
    operationally irrelevant delta; these say so).

    One pass builds both: the quantized-value grain with per-arm
    counts (:func:`_rank_grain`) gives the exact 2x rank sum
    (delta = (u2 − n_a·n_b)·10⁶ div (n_a·n_b) — exact BIGINT, one
    integer division), and the same grain's quantized moments
    (Σc·q, Σc·q²) give pooled-SD Cohen's d as a flat double of exact
    integers (d is scale-invariant under shared quantization, the
    welch_ttest contract). NULL d when pooled variance is 0 or
    either arm has < 2; NULL delta when either arm is empty. Output:
    1 row (n_a, n_b, cliffs_delta_micro, cohens_d_e6)."""
    g = F.col(group_col)
    before, _ = _rank_grain(
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull()),
        F.floor(F.col(value_col) * scale).cast("long").alias("__q"),
        g == group_a,
    )
    agg = before.agg(
        F.sum(F.col("__ca") * _midrank2()).cast("long").alias("__r2a"),
        F.sum("__ca").cast("long").alias("__na"),
        F.sum("__cb").cast("long").alias("__nb"),
        F.sum(F.col("__ca") * F.col("__q")).cast("long").alias("__sa1"),
        F.sum(F.col("__ca") * F.col("__q") * F.col("__q"))
        .cast("long").alias("__sa2"),
        F.sum(F.col("__cb") * F.col("__q")).cast("long").alias("__sb1"),
        F.sum(F.col("__cb") * F.col("__q") * F.col("__q"))
        .cast("long").alias("__sb2"),
    )
    return agg.selectExpr(
        "__na AS n_a", "__nb AS n_b",
        # u2 = 2*U_A; delta = 2*U/(n_a*n_b) - 1 = (u2 - n_a*n_b)/(n_a*n_b)
        "CASE WHEN __na > 0 AND __nb > 0 THEN"
        " CAST(((__r2a - __na * (__na + 1)) - __na * __nb) * 1000000"
        " div (__na * __nb) AS BIGINT) END AS cliffs_delta_micro",
        """CASE WHEN __na > 1 AND __nb > 1 AND
          ((CAST(__sa2 AS DOUBLE) - CAST(__sa1 AS DOUBLE)
              * CAST(__sa1 AS DOUBLE) / CAST(__na AS DOUBLE))
           + (CAST(__sb2 AS DOUBLE) - CAST(__sb1 AS DOUBLE)
              * CAST(__sb1 AS DOUBLE) / CAST(__nb AS DOUBLE))) > 0
        THEN CAST(FLOOR(
          (CAST(__sa1 AS DOUBLE) / CAST(__na AS DOUBLE)
           - CAST(__sb1 AS DOUBLE) / CAST(__nb AS DOUBLE))
          / SQRT(
            ((CAST(__sa2 AS DOUBLE) - CAST(__sa1 AS DOUBLE)
                * CAST(__sa1 AS DOUBLE) / CAST(__na AS DOUBLE))
             + (CAST(__sb2 AS DOUBLE) - CAST(__sb1 AS DOUBLE)
                * CAST(__sb1 AS DOUBLE) / CAST(__nb AS DOUBLE)))
            / (CAST(__na AS DOUBLE) + CAST(__nb AS DOUBLE) - 2.0))
          * 1000000) AS BIGINT) END AS cohens_d_e6""",
    )


def cuped_adjustment(
    df: DataFrame,
    unit_col: str,
    variant_col: Column,
    metric_agg: Column,
    covariate_agg: Column,
) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Existing Data, Deng et
    al. WSDM 2013): shrink an A/B metric's variance with a pre-period
    covariate — θ = cov(x, y)/var(x) fitted on the POOLED units,
    y′ = y − θ(x − x̄); the adjusted treatment-control difference has
    its variance cut by the squared x–y correlation, which is why
    every mature experimentation platform runs it (the same test
    detects an effect 1/(1−ρ²)× smaller at the same traffic).

    ``metric_agg`` / ``covariate_agg`` are integer-valued AGGREGATES
    over one unit's rows (counts, sums of integer units — the
    two_proportion_ztest grain convention: per-UNIT, because rows
    within a unit are not independent). One unit-grain aggregation,
    then one scalar reduce of exact BIGINT moments (Σx, Σy, Σxy, Σx²,
    Σy² — pooled and per arm); θ, the adjusted per-arm means, the
    adjusted difference, and the variance-reduction ratio
    ρ² = (nΣxy−ΣxΣy)²/((nΣx²−(Σx)²)(nΣy²−(Σy)²)) are flat double
    expressions of those integers. NULL adjustment when var(x) = 0
    (constant covariate — nothing to regress out) or either arm is
    empty; integer bound Σxy < 2⁶³ (ANSI throws).

    Output: 1 row (n_control, n_treat, theta_e6, raw_diff_e6,
    adj_diff_e6, var_reduction_micro)."""
    units = df.groupBy(F.col(unit_col)).agg(
        F.max(variant_col.cast("int")).alias("__v"),
        metric_agg.cast("long").alias("__y"),
        covariate_agg.cast("long").alias("__x"),
    )
    m = units.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0)).cast("long")
        .alias("n_control"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0)).cast("long")
        .alias("n_treat"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("long").alias("__syy"),
        F.sum(F.when(F.col("__v") == 0, F.col("__x")).otherwise(0))
        .cast("long").alias("__sxc"),
        F.sum(F.when(F.col("__v") == 0, F.col("__y")).otherwise(0))
        .cast("long").alias("__syc"),
        F.sum(F.when(F.col("__v") == 1, F.col("__x")).otherwise(0))
        .cast("long").alias("__sxt"),
        F.sum(F.when(F.col("__v") == 1, F.col("__y")).otherwise(0))
        .cast("long").alias("__syt"),
    )
    nd = "CAST(__n AS DOUBLE)"
    varx = f"({nd} * CAST(__sxx AS DOUBLE) - CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE))"
    vary = f"({nd} * CAST(__syy AS DOUBLE) - CAST(__sy AS DOUBLE) * CAST(__sy AS DOUBLE))"
    covxy = f"({nd} * CAST(__sxy AS DOUBLE) - CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE))"
    theta = f"({covxy} / {varx})"
    raw_diff = (
        "(CAST(__syt AS DOUBLE) / CAST(n_treat AS DOUBLE)"
        " - CAST(__syc AS DOUBLE) / CAST(n_control AS DOUBLE))"
    )
    adj_diff = (
        f"({raw_diff} - {theta}"
        " * (CAST(__sxt AS DOUBLE) / CAST(n_treat AS DOUBLE)"
        " - CAST(__sxc AS DOUBLE) / CAST(n_control AS DOUBLE)))"
    )
    ok = f"n_control > 0 AND n_treat > 0 AND {varx} > 0"
    return m.selectExpr(
        "n_control", "n_treat",
        f"CASE WHEN {ok} THEN"
        f" CAST(FLOOR({theta} * 1000000) AS BIGINT) END AS theta_e6",
        "CASE WHEN n_control > 0 AND n_treat > 0 THEN"
        f" CAST(FLOOR({raw_diff} * 1000000) AS BIGINT) END AS raw_diff_e6",
        f"CASE WHEN {ok} THEN"
        f" CAST(FLOOR({adj_diff} * 1000000) AS BIGINT) END AS adj_diff_e6",
        f"CASE WHEN {ok} AND {vary} > 0 THEN"
        f" CAST(FLOOR({covxy} * {covxy} / ({varx} * {vary}) * 1000000)"
        " AS BIGINT) END AS var_reduction_micro",
    )


def _concordance_counts(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Shared pair-census under the concordance statistics: one row
    (n, concordant, discordant, __n1 tied-in-x, __n2 tied-in-y,
    __n0 = n(n−1)/2 pairs) over the i < j pair set of a SUMMARY
    grain. Consumed by :func:`kendall_tau_b` (τ-b) and
    :func:`ordinal_association` (γ, Somers' D) so the two gates
    replay identical counts."""
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.monotonically_increasing_id().alias("__i"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )
    # monotonically_increasing_id is partition-dependent — fine here:
    # it only needs to be a DISTINCT pair key (i < j visits each
    # unordered pair once); every counted quantity is symmetric in
    # the pair, so the statistic is id-assignment-invariant.
    a = base.select(
        F.col("__i").alias("__ia"), F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
    )
    b = base.select(
        F.col("__i").alias("__ib"), F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("__ia") < F.col("__ib"))
    agg = pairs.agg(
        F.sum(
            F.when(
                ((F.col("__xa") < F.col("__xb")) & (F.col("__ya") < F.col("__yb")))
                | ((F.col("__xa") > F.col("__xb")) & (F.col("__ya") > F.col("__yb"))),
                1,
            ).otherwise(0)
        ).cast("long").alias("concordant"),
        F.sum(
            F.when(
                ((F.col("__xa") < F.col("__xb")) & (F.col("__ya") > F.col("__yb")))
                | ((F.col("__xa") > F.col("__xb")) & (F.col("__ya") < F.col("__yb"))),
                1,
            ).otherwise(0)
        ).cast("long").alias("discordant"),
        F.sum(F.when(F.col("__xa") == F.col("__xb"), 1).otherwise(0))
        .cast("long").alias("__n1"),
        F.sum(F.when(F.col("__ya") == F.col("__yb"), 1).otherwise(0))
        .cast("long").alias("__n2"),
        F.count("*").cast("long").alias("__n0"),
    )
    cnt = base.agg(F.count("*").cast("long").alias("n"))
    return agg.crossJoin(F.broadcast(cnt))


def kendall_tau_b(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Kendall's τ-b between two numeric columns of a SUMMARY grain —
    the concordance correlation that completes the dependence family
    (lineitem_corr = linear, spearman = monotone via ranks, this =
    pairwise concordance, the most ordinal-honest of the three and
    the one with the cleanest tie story). Use it where the grain is
    bounded (daily rollups, per-group summaries — the mann_kendall
    contract); τ-b IS mann_kendall's effect size with time swapped
    for a second metric.

    The pair set is a broadcast nested-loop self-join on i < j over
    GRAIN rows (~n²/2 pairs of a day-grain series, never data rows).
    Exact BIGINT counts: concordant C, discordant D, tied-in-x n1,
    tied-in-y n2 (a pair tied in both counts in both), n0 = n(n−1)/2;
    τ_b = (C−D)/√((n0−n1)(n0−n2)) is one flat double with a single
    sqrt, rounded @6; NULL when either denominator factor is 0
    (a constant column). Output: 1 row (n, concordant, discordant,
    tau_b_r6)."""
    return _concordance_counts(df, x_col, y_col).selectExpr(
        "n", "COALESCE(concordant, 0) AS concordant",
        "COALESCE(discordant, 0) AS discordant",
        "CASE WHEN (__n0 - __n1) > 0 AND (__n0 - __n2) > 0 THEN ROUND("
        "CAST(concordant - discordant AS DOUBLE)"
        " / SQRT(CAST(__n0 - __n1 AS DOUBLE) * CAST(__n0 - __n2 AS DOUBLE)),"
        " 6) END AS tau_b_r6",
    )


def ordinal_association(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Goodman–Kruskal γ and both Somers' D asymmetries over the SAME
    pair census as :func:`kendall_tau_b` — the tie-handling spectrum
    of ordinal association in one pass: γ = (C−D)/(C+D) ignores ties
    entirely (how consistent are the pairs that DO order), Somers'
    D_yx = (C−D)/(n0−n1) charges ties in the DEPENDENT variable
    against y-predicts-from-x (the directional measure under somers'
    use in AUC/Gini: D = 2·AUC−1), and D_xy is the reverse
    conditioning. τ-b is their geometric compromise — reporting all
    three tells you whether an association is weak or just tied.

    Entirely exact: every statistic is a truncating integer division
    of BIGINT pair counts to micro units (Spark `div` = DuckDB `//`
    toward zero on both signs) — zero floats. NULL when the
    respective denominator is 0. Scale contract identical to τ-b
    (bounded summary grain; pairs are grain², never data²).
    Output: 1 row (n, concordant, discordant, gamma_e6,
    somers_d_yx_e6, somers_d_xy_e6)."""
    return _concordance_counts(df, x_col, y_col).selectExpr(
        "n", "COALESCE(concordant, 0) AS concordant",
        "COALESCE(discordant, 0) AS discordant",
        "CASE WHEN (concordant + discordant) > 0 THEN"
        " ((concordant - discordant) * 1000000)"
        " div (concordant + discordant) END AS gamma_e6",
        "CASE WHEN (__n0 - __n1) > 0 THEN"
        " ((concordant - discordant) * 1000000)"
        " div (__n0 - __n1) END AS somers_d_yx_e6",
        "CASE WHEN (__n0 - __n2) > 0 THEN"
        " ((concordant - discordant) * 1000000)"
        " div (__n0 - __n2) END AS somers_d_xy_e6",
    )


def theil_indices(df: DataFrame, value_col: str) -> DataFrame:
    """Theil's T and L (mean log deviation) over a POSITIVE integer
    value column — the decomposable inequality measures completing
    the family (gini/lorenz = rank-based, HHI = share-squared; Theil
    is the information-theoretic one and the ONLY one that splits
    exactly into within-group + between-group terms, which is why
    inequality decompositions use it): T = (1/S)·Σ x·ln(x/μ),
    L = ln μ − (1/n)·Σ ln x.

    Determinism: ln is the one blessed bit-identical libm call and
    every log floor-micro quantizes IMMEDIATELY (the zipf_slope
    route), so both indices are sums/divisions of exact integers —
    T_e6 = Σ c·x·(⌊ln x·1e6⌋ − ⌊ln μ·1e6⌋) div S over the value
    grain (DECIMAL(38,0) sum), L_e6 = (n·⌊ln μ·1e6⌋ − Σ c·⌊ln x·1e6⌋)
    div n. μ enters as the IEEE double S/n both engines compute
    identically. Rows with x ≤ 0 are excluded (ln undefined) with
    the excluded count visible.

    Scale shape: one map-side-combined collapse to the value grain,
    one scalar reduce. Output: 1 row (n, n_excluded, theil_t_e6,
    mld_e6)."""
    base = df.select(F.col(value_col).cast("long").alias("__v"))
    excl = base.filter(
        F.col("__v").isNull() | (F.col("__v") <= 0)
    ).agg(F.count("*").cast("long").alias("n_excluded"))
    grain = (
        base.filter(F.col("__v") > 0)
        .groupBy("__v")
        .agg(F.count("*").cast("long").alias("__c"))
        .withColumn(
            "__q",
            F.floor(F.log(F.col("__v").cast("double")) * 1_000_000)
            .cast("long"),
        )
    )
    dec = "decimal(38,0)"
    tot = grain.agg(
        F.sum("__c").cast("long").alias("__n"),
        F.sum(F.col("__c").cast(dec) * F.col("__v")).cast(dec).alias("__s"),
        F.sum(F.col("__c").cast(dec) * F.col("__q")).cast(dec).alias("__sq"),
        F.sum(
            F.col("__c").cast(dec) * F.col("__v") * F.col("__q")
        ).cast(dec).alias("__svq"),
    ).withColumn(
        "__lmu",
        F.floor(
            F.log(
                F.col("__s").cast("double") / F.col("__n").cast("double")
            )
            * 1_000_000
        ).cast("long"),
    )
    return tot.crossJoin(F.broadcast(excl)).selectExpr(
        "__n AS n", "n_excluded",
        "CASE WHEN __n > 0 AND __s > 0 THEN"
        " CAST((__svq - __s * __lmu) div __s AS BIGINT)"
        " END AS theil_t_e6",
        "CASE WHEN __n > 0 THEN"
        " CAST((CAST(__n AS DECIMAL(38,0)) * __lmu - __sq)"
        " div __n AS BIGINT) END AS mld_e6",
    )


def theil_decomposition(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Theil-T within/between decomposition — the property
    :func:`theil_indices` exists for: total inequality splits EXACTLY
    into inequality BETWEEN group means plus the share-weighted
    inequality WITHIN groups (is revenue concentration a few rich
    segments, or whales inside every segment?). Gini cannot do this;
    Theil's x·ln x form telescopes: x(ln x − ln μ) = x(ln x − ln μ_g)
    + x(ln μ_g − ln μ), so with the SAME floor-micro quantized logs
    the identity holds to the last integer BEFORE the final
    divisions — within_num + between_num = total_num exactly, pinned
    in pytest.

    Same determinism contract as theil_indices (blessed ln, quantize
    immediately, group means enter as identical IEEE doubles
    S_g/n_g). Scale shape: one pass to the (group, value) grain, one
    group rollup, one scalar reduce. Output: 1 row (n, n_groups,
    theil_t_e6, within_e6, between_e6)."""
    grain = (
        df.select(
            F.col(group_col).alias("__g"),
            F.col(value_col).cast("long").alias("__v"),
        )
        .filter(F.col("__g").isNotNull() & (F.col("__v") > 0))
        .groupBy("__g", "__v")
        .agg(F.count("*").cast("long").alias("__c"))
        .withColumn(
            "__q",
            F.floor(F.log(F.col("__v").cast("double")) * 1_000_000)
            .cast("long"),
        )
    )
    dec = "decimal(38,0)"
    groups = grain.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("__ng"),
        F.sum(F.col("__c").cast(dec) * F.col("__v")).cast(dec).alias("__sg"),
        F.sum(
            F.col("__c").cast(dec) * F.col("__v") * F.col("__q")
        ).cast(dec).alias("__svqg"),
    ).withColumn(
        "__lmug",
        F.floor(
            F.log(
                F.col("__sg").cast("double") / F.col("__ng").cast("double")
            )
            * 1_000_000
        ).cast("long"),
    )
    tot = groups.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("__ng").cast("long").alias("__n"),
        F.sum("__sg").cast(dec).alias("__s"),
        F.sum("__svqg").cast(dec).alias("__svq"),
        # within numerator: Σ_g (svq_g − S_g·lnμ_g)
        F.sum(F.col("__svqg") - F.col("__sg") * F.col("__lmug"))
        .cast(dec).alias("__wnum"),
        # between partial: Σ_g S_g·lnμ_g
        F.sum(F.col("__sg") * F.col("__lmug")).cast(dec).alias("__sglg"),
    ).withColumn(
        "__lmu",
        F.floor(
            F.log(
                F.col("__s").cast("double") / F.col("__n").cast("double")
            )
            * 1_000_000
        ).cast("long"),
    )
    return tot.selectExpr(
        "__n AS n", "n_groups",
        "CASE WHEN __s > 0 THEN"
        " CAST((__svq - __s * __lmu) div __s AS BIGINT)"
        " END AS theil_t_e6",
        "CASE WHEN __s > 0 THEN"
        " CAST(__wnum div __s AS BIGINT) END AS within_e6",
        "CASE WHEN __s > 0 THEN"
        " CAST((__sglg - __s * __lmu) div __s AS BIGINT)"
        " END AS between_e6",
    )


def restricted_mean_survival(
    durations: DataFrame,
    duration_col: str,
    censored_col: str,
    tau: int,
) -> DataFrame:
    """Restricted mean survival time: RMST(τ) = ∫₀^τ S(t) dt, the
    area under the Kaplan–Meier curve up to horizon τ — the
    effect-size summary survival analysis reports when median
    survival is undefined (curve never crosses 0.5) or hazards are
    non-proportional: "expected days retained within the first τ",
    in the duration's own units (logrank_cohorts tests WHETHER curves
    differ; RMST says by how many days). Censoring-aware through the
    KM risk-set machinery it rides.

    Exact GIVEN the curve: :func:`kaplan_meier`'s round-micro surv_e6
    is the cross-engine-stable representation of the exact rational
    products, and the integral of a step function is a finite sum —
    rmst_micro = min(t₁, τ)·1e6 (S = 1 before the first event) +
    Σ surv_e6(tᵢ)·(min(tᵢ₊₁, τ) − min(tᵢ, τ)), pure BIGINT. No
    events at all → RMST = τ exactly.

    Scale shape: everything data-sized is inside kaplan_meier (one
    subject-level aggregation); the interval walk is a LEAD +
    scalar reduce over duration-grain summary rows (bounded by the
    observation span, the kaplan_meier window contract). Output:
    1 row (tau, n_event_times, rmst_micro)."""
    from pyspark.sql import Window

    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    km = kaplan_meier(durations, duration_col, censored_col).select(
        "t", "surv_e6"
    )
    w = Window.orderBy("t")
    # duration-grain summary window (bounded by the observation span)
    iv = km.withColumn("__nt", F.lead("t").over(w))
    body = iv.select(
        (
            F.col("surv_e6")
            * (
                F.least(F.coalesce(F.col("__nt"), F.lit(tau)), F.lit(tau))
                - F.least(F.col("t"), F.lit(tau))
            )
        ).alias("__c")
    ).agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("__body"),
    )
    head = km.agg(
        F.count("*").cast("long").alias("n_event_times"),
        (
            F.least(F.coalesce(F.min("t"), F.lit(tau)), F.lit(tau))
            * 1_000_000
        ).cast("long").alias("__head"),
    )
    return head.crossJoin(F.broadcast(body)).selectExpr(
        f"CAST({tau} AS BIGINT) AS tau",
        "n_event_times",
        "__head + __body AS rmst_micro",
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposure_col: Column,
    outcome_col: Column,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio + the CMH chi-square across
    stratified 2×2 tables — the ESTIMATION half of the Simpson story
    (:func:`simpson_reversal` diagnoses that pooling naively lies;
    MH is what to report instead: the confounder-adjusted common
    odds ratio, weighting each stratum by b·c/n so sparse strata
    can't dominate). CMH tests that common OR against 1 with one
    degree of freedom regardless of stratum count.

    Determinism contract: the per-stratum fractional terms (a·d/n,
    b·c/n, E = r1·c1/n, V = r1·r2·c1·c2/(n²(n−1))) are FLOOR-MICRO
    quantized before summing — both engines replay identical
    integers, and the ≤1e-6-per-stratum quantization is documented
    rather than hidden in float accumulation order (the
    effect-sizes quantized-moments discipline). V's numerator rides
    DECIMAL(38,0) (n⁴ scale). chi2_e6 is ONE double multiply +
    divide of exact integers, floored; or_mh_e6 one truncating
    division; both NULL when their denominator is 0. NULL exposure/
    outcome count as false (the two_proportion convention);
    single-row strata contribute nothing to V (n−1 = 0 guards to 0,
    the standard convention).

    Scale shape: ONE map-side-combined pass to stratum 2×2 counts,
    one scalar reduce. Output: 1 row (n_strata, n, or_mh_e6,
    chi2_e6)."""
    ex = F.coalesce(exposure_col.cast("boolean"), F.lit(False))
    oc = F.coalesce(outcome_col.cast("boolean"), F.lit(False))
    per = (
        df.filter(F.col(stratum_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("__st"))
        .agg(
            F.sum((ex & oc).cast("long")).alias("__a"),
            F.sum((ex & ~oc).cast("long")).alias("__b"),
            F.sum((~ex & oc).cast("long")).alias("__c"),
            F.sum((~ex & ~oc).cast("long")).alias("__d"),
        )
        .selectExpr(
            "__a", "__b", "__c", "__d",
            "__a + __b + __c + __d AS __nk",
        )
        .filter(F.col("__nk") > 0)
        .selectExpr(
            "__nk",
            "__a",
            "(__a * __d * 1000000) div __nk AS __tad",
            "(__b * __c * 1000000) div __nk AS __tbc",
            "((__a + __b) * (__a + __c) * 1000000) div __nk AS __te",
            "CASE WHEN __nk > 1 THEN CAST("
            " (CAST(__a + __b AS DECIMAL(38,0)) * (__c + __d)"
            "  * (__a + __c) * (__b + __d) * 1000000)"
            " div (CAST(__nk AS DECIMAL(38,0)) * __nk * (__nk - 1))"
            " AS BIGINT) ELSE 0 END AS __tv",
        )
    )
    return per.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("__nk").cast("long").alias("n"),
        F.sum("__tad").cast("long").alias("__sad"),
        F.sum("__tbc").cast("long").alias("__sbc"),
        (F.sum(F.col("__a")) * 1_000_000 - F.sum("__te"))
        .cast("long").alias("__num"),
        F.sum("__tv").cast("long").alias("__sv"),
    ).selectExpr(
        "n_strata", "n",
        "CASE WHEN __sbc > 0 THEN (__sad * 1000000) div __sbc"
        " END AS or_mh_e6",
        # units: num is micro-counts, sv micro-V, so num²/sv = chi2·1e6
        "CASE WHEN __sv > 0 THEN CAST(FLOOR("
        " CAST(__num AS DOUBLE) * CAST(__num AS DOUBLE)"
        " / CAST(__sv AS DOUBLE)) AS BIGINT)"
        " END AS chi2_e6",
    )


def cochran_armitage_trend(
    df: DataFrame, score_col: str, outcome_col: Column | str
) -> DataFrame:
    """Cochran–Armitage trend test: does a binary outcome's rate move
    MONOTONICALLY across ordered groups — the trend completion of the
    proportion family (chi2 asks "do the rates differ at all" and
    spends power on every permutation; CA spends it all on the
    ordered alternative, the usual question for dose/priority/
    severity levels). The binary-outcome sibling of Jonckheere (for
    values) and Page (for blocked values).

    ``score_col`` holds the group's integer position/dose; z > 0
    means the rate RISES with the score. Entirely exact up to the
    final flat double: with per-group (r_i, a_i) = (trials,
    successes), S1 = Σs·r, S2 = Σs²·r, T·n = Σs·(a·n − r·A) is an
    exact BIGINT/DECIMAL numerator, the variance factor A(n−A)(n·S2
    − S1²) an exact DECIMAL(38,0), and z = Tn / sqrt(factor / n) one
    division + one sqrt, floored to e6. NULL z when the factor is 0
    (all-one-group or all/none outcomes).

    Scale shape: one map-side-combined pass to the score grain, one
    scalar reduce. Output: 1 row (n, n_pos, tn, z_e6)."""
    oc = (
        F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    ).cast("boolean").cast("int")
    grain = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(F.col(score_col).cast("long").alias("__s"))
        .agg(
            F.count("*").cast("long").alias("__r"),
            F.sum(F.coalesce(oc, F.lit(0))).cast("long").alias("__a"),
        )
    )
    m = grain.agg(
        F.sum("__r").cast("long").alias("__n"),
        F.sum("__a").cast("long").alias("__A"),
        F.sum(F.col("__s") * F.col("__r")).cast("long").alias("__s1"),
        F.sum(F.col("__s") * F.col("__s") * F.col("__r")).cast("long")
        .alias("__s2"),
        F.sum(F.col("__s") * F.col("__a")).cast("long").alias("__sa"),
    )
    # T·n = Σ s·a·n − Σ s·r·A = sa·n − s1·A (linearity — no second pass)
    return m.selectExpr(
        "__n AS n", "__A AS n_pos",
        "CAST(CAST(__sa AS DECIMAL(38,0)) * __n"
        " - CAST(__s1 AS DECIMAL(38,0)) * __A AS BIGINT) AS tn",
        "CASE WHEN (CAST(__A AS DECIMAL(38,0)) * (__n - __A)"
        " * (CAST(__n AS DECIMAL(38,0)) * __s2"
        "    - CAST(__s1 AS DECIMAL(38,0)) * __s1)) > 0 THEN"
        " CAST(FLOOR("
        " CAST(CAST(__sa AS DECIMAL(38,0)) * __n"
        "      - CAST(__s1 AS DECIMAL(38,0)) * __A AS DOUBLE)"
        " / sqrt(CAST(CAST(__A AS DECIMAL(38,0)) * (__n - __A)"
        "   * (CAST(__n AS DECIMAL(38,0)) * __s2"
        "      - CAST(__s1 AS DECIMAL(38,0)) * __s1) AS DOUBLE)"
        "   / CAST(__n AS DOUBLE))"
        " * 1000000) AS BIGINT) END AS z_e6",
    )


def adjusted_rand_index(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Adjusted Rand Index between two partitions of the same rows
    (Hubert & Arabie 1985) — THE chance-corrected clustering-vs-
    clustering / clustering-vs-labels agreement score (0 ≈ random
    relabeling, 1 = identical partitions, negative = worse than
    chance). The partition-comparison QA the clustering tier lacked:
    silhouette scores geometry, inertia scores tightness, ARI scores
    whether the cells mean anything against a reference labeling.

    Entirely exact pair-counting — NMI needs logs, ARI does not: with
    contingency counts n_ij, S = Σ n_ij(n_ij−1), A = Σ a_i(a_i−1),
    B = Σ b_j(b_j−1), N2 = n(n−1) (all 2x-binomial BIGINTs),
    ARI = (N2·S − A·B) / (N2·(A+B)/2 − A·B); ari_micro multiplies the
    numerator through DECIMAL(38,0) (the kruskal HUGEINT-parity
    route — N2·S·1e6 overflows BIGINT at ~10⁵ rows) and truncates
    toward zero, matching both engines on either sign. NULL when the
    denominator is 0 (both partitions all-singletons or all-one-
    cluster — agreement undefined).

    Scale shape: ONE map-side-combined pass to the contingency grain
    (|A|·|B| cells, vocabulary-bounded), margin re-aggregations over
    cell rows, scalar combine. Output: 1 row (n, n_cells_a,
    n_cells_b, ari_micro)."""
    base = df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    cont = base.groupBy(
        F.col(a_col).alias("__pa"), F.col(b_col).alias("__pb")
    ).agg(F.count("*").cast("long").alias("__cn"))
    s = cont.agg(
        F.sum(F.col("__cn") * (F.col("__cn") - 1)).cast("long").alias("__S2")
    )
    arow = (
        cont.groupBy("__pa")
        .agg(F.sum("__cn").cast("long").alias("__na"))
        .agg(
            F.count("*").cast("long").alias("n_cells_a"),
            F.sum(F.col("__na") * (F.col("__na") - 1)).cast("long")
            .alias("__A2"),
            F.sum("__na").cast("long").alias("__n"),
        )
    )
    brow = (
        cont.groupBy("__pb")
        .agg(F.sum("__cn").cast("long").alias("__nb"))
        .agg(
            F.count("*").cast("long").alias("n_cells_b"),
            F.sum(F.col("__nb") * (F.col("__nb") - 1)).cast("long")
            .alias("__B2"),
        )
    )
    return (
        arow.crossJoin(F.broadcast(brow))
        .crossJoin(F.broadcast(s))
        .selectExpr(
            "__n AS n", "n_cells_a", "n_cells_b",
            "CASE WHEN (CAST(__n AS DECIMAL(38,0)) * (__n - 1)"
            " * (__A2 + __B2) div 2"
            " - CAST(__A2 AS DECIMAL(38,0)) * __B2) <> 0 THEN"
            " CAST((CAST(__n AS DECIMAL(38,0)) * (__n - 1) * __S2"
            "       - CAST(__A2 AS DECIMAL(38,0)) * __B2) * 1000000"
            " div (CAST(__n AS DECIMAL(38,0)) * (__n - 1)"
            "      * (__A2 + __B2) div 2"
            "      - CAST(__A2 AS DECIMAL(38,0)) * __B2) AS BIGINT)"
            " END AS ari_micro",
        )
    )


def lin_ccc(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Lin's concordance correlation coefficient between two
    INTEGER-valued measurements of the same units — the continuous
    AGREEMENT measure completing the family (Cohen/Fleiss kappa =
    nominal raters, this = numeric raters): Pearson's r only scores
    whether x and y move together; CCC = 2·cov /
    (var_x + var_y + (μx−μy)²) additionally charges every systematic
    location or scale shift, so a measure that is always 5% low can
    have r = 1 yet CCC < 1 — the reproducibility question behind
    every reimplemented-metric / duplicate-sensor comparison. Both r
    and CCC are reported so the gap attributes to bias, not noise.

    Exact moments: Σx, Σy in BIGINT; Σx², Σy², Σxy in DECIMAL(38,0)
    (the kruskal HUGEINT-parity route — cents² sums overflow BIGINT).
    CCC = num/den with num = 2(nΣxy − ΣxΣy) and den = (nΣxx − Σx²) +
    (nΣyy − Σy²) + (Σx − Σy)², both EXACT decimals scaled by n² —
    one double division floored to e6; r is the usual flat double
    with a single sqrt, rounded @6. NULL when den is 0 (both columns
    constant) / either variance is 0 for r.

    Scale shape: ONE map-side-combined scalar reduce over unit rows —
    no shuffle wider than the final single-row combine. Output: 1 row
    (n, ccc_e6, r_r6)."""
    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    dec = "decimal(38,0)"
    m = base.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(F.col("__x").cast(dec) * F.col("__x")).cast(dec).alias("__sxx"),
        F.sum(F.col("__y").cast(dec) * F.col("__y")).cast(dec).alias("__syy"),
        F.sum(F.col("__x").cast(dec) * F.col("__y")).cast(dec).alias("__sxy"),
    )
    nd = "CAST(__n AS DECIMAL(38,0))"
    num = f"(2 * ({nd} * __sxy - CAST(__sx AS DECIMAL(38,0)) * __sy))"
    varx = f"({nd} * __sxx - CAST(__sx AS DECIMAL(38,0)) * __sx)"
    vary = f"({nd} * __syy - CAST(__sy AS DECIMAL(38,0)) * __sy)"
    shift = ("(CAST(__sx - __sy AS DECIMAL(38,0))"
             " * CAST(__sx - __sy AS DECIMAL(38,0)))")
    den = f"({varx} + {vary} + {shift})"
    return m.selectExpr(
        "__n AS n",
        f"CASE WHEN {den} > 0 THEN CAST(FLOOR(CAST({num} AS DOUBLE)"
        f" / CAST({den} AS DOUBLE) * 1000000) AS BIGINT) END AS ccc_e6",
        f"CASE WHEN {varx} > 0 AND {vary} > 0 THEN ROUND("
        f"CAST({num} AS DOUBLE) / 2"
        f" / SQRT(CAST({varx} AS DOUBLE) * CAST({vary} AS DOUBLE)), 6)"
        " END AS r_r6",
    )


def simpson_reversal(
    df: DataFrame,
    stratum_col: str,
    exposure_col: Column,
    outcome_col: Column,
) -> DataFrame:
    """Simpson's-paradox audit: does the exposure→outcome association
    FLIP sign inside strata relative to the pooled table — the
    aggregation-bias check every dashboard rate comparison needs
    before anyone acts on it (the pooled rate difference can carry
    the opposite sign of every stratum when stratum sizes confound
    exposure; this op finds exactly those strata).

    Entirely exact integer arithmetic — not even a final float: each
    stratum's rate difference sign is the cross-multiplied
    sign(n₁₁·n₀ − n₀₁·n₁) over exposed/unexposed counts, the pooled
    sign likewise over totals, and `reversed` flags strata whose
    nonzero sign opposes a nonzero pooled sign. One map-side-combined
    pass to stratum counts; the pooled row re-aggregates the strata
    and broadcasts back. NULL-stratum rows are excluded; NULL
    exposure/outcome count as false (the two_proportion convention).
    Output: one row per stratum (stratum, n, exposed, exposed_pos,
    unexposed, unexposed_pos, d_sign, pooled_sign, reversed)."""
    ex = exposure_col.cast("boolean")
    oc = outcome_col.cast("boolean")
    per = (
        df.filter(F.col(stratum_col).isNotNull())
        .select(
            F.col(stratum_col).alias("stratum"),
            F.coalesce(ex, F.lit(False)).alias("__e"),
            F.coalesce(oc, F.lit(False)).alias("__o"),
        )
        .groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("__e"), 1).otherwise(0)).cast("long")
            .alias("exposed"),
            F.sum(F.when(F.col("__e") & F.col("__o"), 1).otherwise(0))
            .cast("long").alias("exposed_pos"),
            F.sum(F.when(~F.col("__e"), 1).otherwise(0)).cast("long")
            .alias("unexposed"),
            F.sum(F.when(~F.col("__e") & F.col("__o"), 1).otherwise(0))
            .cast("long").alias("unexposed_pos"),
        )
    )
    pooled = per.agg(
        F.sum("exposed").alias("__te"),
        F.sum("exposed_pos").alias("__tep"),
        F.sum("unexposed").alias("__tu"),
        F.sum("unexposed_pos").alias("__tup"),
    ).selectExpr(
        "CAST(SIGN(__tep * __tu - __tup * __te) AS BIGINT) AS pooled_sign"
    )
    return per.crossJoin(F.broadcast(pooled)).selectExpr(
        "stratum", "n", "exposed", "exposed_pos", "unexposed",
        "unexposed_pos",
        "CAST(SIGN(exposed_pos * unexposed - unexposed_pos * exposed)"
        " AS BIGINT) AS d_sign",
        "pooled_sign",
        "CAST(SIGN(exposed_pos * unexposed - unexposed_pos * exposed)"
        " AS BIGINT) * pooled_sign = -1 AS reversed",
    )


def pr_curve_interp(
    df: DataFrame,
    score_col: str,
    label_col: Column | str,
    points: int = 10,
) -> DataFrame:
    """Interpolated precision-recall curve (the classic 11-point IR
    form): at each recall checkpoint r/points, the INTERPOLATED
    precision max_{thresholds with recall >= r/points} precision(t) —
    the ranking-quality summary for imbalanced labels where ROC-AUC
    flatters (its negatives-dominated FPR axis barely moves when the
    positive class is rare; PR answers "at the depth that recovers
    X% of positives, how much of what I took is junk" — THE question
    for a filtering/retrieval stage).

    Exactness: thresholds live on the distinct-score grain; at the
    threshold that admits every score >= v, kept = N − count_below(v)
    and tp = P − pos_below(v) via :func:`_rank_grain` with the
    positives' prefix as well. precision quantizes IMMEDIATELY to
    prec_micro = tp·10⁶ div kept (exact BIGINT), and because flooring
    is monotone, MAX(prec_micro) == floor-micro(MAX(tp/kept)) — the
    interpolated max needs no float comparison anywhere. The recall
    qualifier is cross-multiplied (tp·points >= r·P), also exact.

    Scale shape: grain collapse + the range-partitioned prefix + one
    broadcast of (points+1) checkpoint rows; output is points+1 rows.
    NULL precision at every checkpoint when P == 0 (no positives —
    precision-at-recall is undefined, not zero)."""
    if points < 1:
        raise ValueError(f"points must be >= 1, got {points}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
        arm_prefix=True,
    )
    thr = (
        before.crossJoin(F.broadcast(tot))
        .withColumn("__kept", F.col("__n") - F.col("__before"))
        .withColumn("__tp", F.col("__na") - F.col("__cabef"))
        .withColumn(
            "__prec", F.expr("CAST(__tp * 1000000 div __kept AS BIGINT)")
        )
    )
    spark = df.sparkSession
    ck = spark.range(points + 1).select(
        F.col("id").cast("long").alias("recall_pt")
    )
    return (
        thr.join(
            F.broadcast(ck),
            F.col("__tp") * points >= F.col("recall_pt") * F.col("__na"),
        )
        .groupBy("recall_pt")
        .agg(
            F.max(
                F.when(F.col("__na") > 0, F.col("__prec"))
            ).alias("prec_interp_micro"),
        )
    )


def aalen_johansen(
    durations: DataFrame,
    duration_col: str,
    cause_col: str,
    causes: list[str],
) -> DataFrame:
    """Aalen–Johansen cumulative incidence functions under competing
    risks: subjects exit by exactly one of several causes (or are
    right-censored, ``cause_col`` NULL), and CIF_k(t) = Σ_{s<=t}
    S(s−)·d_k(s)/n(s) estimates P(exit by cause k by time t). The
    honest replacement for running Kaplan–Meier once per cause —
    1−KM_k treats competing exits as censoring and OVERSTATES every
    cause's incidence (the Fine–Gray critique); AJ's incidences plus
    overall survival partition to 1 at every t when follow-up is
    complete.

    Arithmetic (kaplan_meier conventions throughout): one subject-grain
    aggregation to (t, d_cause..., total) duration-grain rows; risk set
    via the exclusive prefix; overall S via exp(Σ ln(1−d/n)) with the
    −inf exhausted-risk-set guard; S(t−) is the same sum over the
    STRICT prefix. The CIF prefix sums run over ordered duration-grain
    windows (sequential, engine-order-identical) and quantize ROUND-
    micro (the KM lesson: exact rationals land ON 1e-6 multiples and
    floor splits engines by one ulp). Output rows at durations with
    any exit: t, n_risk, then d_<cause> and cif_<cause>_e6 per cause.

    Scale shape: all windows span the duration-grain summary (days of
    observation span), never subjects; one broadcast scalar total."""
    from hadoop_fcfs_spark.caching import waypoint
    from pyspark.sql import Window

    if not causes:
        raise ValueError("causes must be a non-empty list")
    cc = F.col(cause_col)
    grain = waypoint(
        durations.groupBy(F.col(duration_col).alias("t")).agg(
            F.count("*").alias("__all"),
            F.sum(F.when(cc.isNotNull(), 1).otherwise(0)).alias("__d"),
            *[
                F.sum(F.when(cc == k, 1).otherwise(0)).alias(f"__d_{i}")
                for i, k in enumerate(causes)
            ],
        )
    )
    total = grain.agg(F.sum("__all").alias("__n"))
    # duration-grain summary windows (kaplan_meier precedent): bounded
    # by the observation span in days, never subject-sized
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = (
        grain.crossJoin(F.broadcast(total))
        .withColumn(
            "__left", F.coalesce(F.sum("__all").over(w_prev), F.lit(0))
        )
        .withColumn("n_risk", (F.col("__n") - F.col("__left")).cast("long"))
    )
    step = F.when(
        F.col("__d") < F.col("n_risk"),
        F.log(1.0 - F.col("__d") / F.col("n_risk")),
    ).otherwise(F.lit(float("-inf")))
    s_prev = F.exp(F.coalesce(F.sum(step).over(w_prev), F.lit(0.0)))
    out = at_risk.withColumn("__sprev", s_prev)
    cols = [F.col("t").cast("long").alias("t"), F.col("n_risk")]
    for i, k in enumerate(causes):
        cif = F.sum(
            F.col("__sprev") * F.col(f"__d_{i}") / F.col("n_risk")
        ).over(w_run)
        out = out.withColumn(
            f"cif_{k}_e6", F.round(cif * 1_000_000).cast("long")
        )
        cols.append(F.col(f"__d_{i}").cast("long").alias(f"d_{k}"))
        cols.append(F.col(f"cif_{k}_e6"))
    return out.filter(F.col("__d") > 0).select(*cols)


def p_chart(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
    sigmas: float = 3.0,
) -> DataFrame:
    """Attribute (p) control chart over a grain: per grain cell the
    defect rate, plus Shewhart control limits p̄ ± L·sqrt(p̄(1−p̄)/n)
    from the POOLED rate — the SPC monitor a per-day/per-shard
    publish loop runs before shipping (a point outside its limits is
    a special cause worth a human; inside is common-cause noise the
    binseg/cusum changepoint tier would overfit). Variable per-cell n
    gives each cell its own limit width — the textbook p-chart, not
    the constant-n approximation.

    Arithmetic: counts and rate_e6 are exact BIGINTs (flooring div).
    The limits need one sqrt, so they run in doubles built from
    single-rounded IEEE ops on exact integer inputs (divide, subtract,
    multiply, sqrt — each correctly rounded, so cross-engine
    bit-identical; the wilson-bounds precedent) and floor-quantize to
    micros. lcl clamps at 0. out_of_control compares the exact
    integer rate against the float limits — deterministic.

    Scale shape: one grain aggregation + one broadcast scalar; output
    is grain-sized."""
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    )
    pooled = grain.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("x").cast("long").alias("__tx"),
    )
    out = grain.crossJoin(F.broadcast(pooled))
    pbar = F.col("__tx").cast("double") / F.col("__tn").cast("double")
    sig = F.sqrt(pbar * (F.lit(1.0) - pbar) / F.col("n").cast("double"))
    ucl = pbar + F.lit(float(sigmas)) * sig
    lcl = F.greatest(F.lit(0.0), pbar - F.lit(float(sigmas)) * sig)
    rate = F.col("x").cast("double") / F.col("n").cast("double")
    return out.select(
        group_alias, "n", "x",
        F.expr("CAST(x * 1000000 div n AS BIGINT)").alias("rate_e6"),
        F.floor(F.lit(1_000_000) * ucl).cast("long").alias("ucl_e6"),
        F.floor(F.lit(1_000_000) * lcl).cast("long").alias("lcl_e6"),
        ((rate > ucl) | (rate < lcl)).alias("out_of_control"),
    )


def cusum_chart(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
    slack_e6: int = 0,
    h_e6: int = 5_000_000,
) -> DataFrame:
    """Tabular (two-sided) CUSUM chart for proportions over an ordered
    grain — the sequential-drift twin of :func:`p_chart`: Shewhart
    flags one big excursion, CUSUM accumulates many small ones (the
    classic detection split: p-chart for special causes, CUSUM for a
    sustained shift a publish loop would otherwise ship for weeks).
    Upper side monitors rate increases against reference p̄ +
    ``slack_e6``; lower side decreases against p̄ − ``slack_e6``
    (slack = the half-shift allowance k of the textbook scheme).

    The recursion C_t = max(0, C_{t-1} + s_t) is NOT computed
    sequentially: with S_t the inclusive prefix sum of the slacks it
    has the exact closed form C_t = S_t − min(0, min_{j<=t} S_j), so
    both sides run as range-partitioned prefix passes
    (ops.sort.global_running_sum + global_running_max on the negated
    sum) — no per-row loop, no unpartitioned window. All slack
    arithmetic is exact BIGINT micro-counts: s_up = x·1e6 −
    n·(p̄_e6 + slack), s_dn = n·(p̄_e6 − slack) − x·1e6 with p̄_e6 the
    flooring pooled rate, so every engine agrees to the last micro.
    alarm_* fires when the cusum exceeds ``h_e6`` (the decision
    interval, in micro-defect units). Integer bound (ANSI throws,
    never silent): the prefix sums reach ~1e6·Σn under sustained
    one-sided drift, BIGINT-unsafe past ~9.2e12 rows drifting the
    same way between alarms — reset the window on alarm. RECORDED
    DECISION (r14, SCALING.md): documentation, not a DECIMAL lift,
    is the remedy for this one overflow-class member — the live
    twin's long state fields cannot lift, so batch-only DECIMAL
    would break the bridge's bit-for-bit twin contract, and
    reset-on-alarm is the textbook CUSUM protocol (a chart past h is
    saturated evidence).

    Scale shape: one grain aggregation, one broadcast scalar, two
    prefix passes over GRAIN rows (days/shards — bounded), zero
    data-sized windows. Output per grain cell, in order: grain, n, x,
    cusum_up_e6, cusum_dn_e6, alarm_up, alarm_dn."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_max, global_running_sum

    if slack_e6 < 0:
        raise ValueError(f"slack_e6 must be >= 0, got {slack_e6}")
    if h_e6 <= 0:
        raise ValueError(f"h_e6 must be > 0, got {h_e6}")
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    )
    pooled = grain.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("x").cast("long").alias("__tx"),
    )
    slacked = waypoint(
        grain.crossJoin(F.broadcast(pooled))
        .withColumn("__pbar", F.expr("CAST(__tx * 1000000 div __tn AS BIGINT)"))
        .withColumn(
            "__sup",
            F.col("x") * F.lit(1_000_000)
            - F.col("n") * (F.col("__pbar") + F.lit(int(slack_e6))),
        )
        .withColumn(
            "__sdn",
            F.col("n") * (F.col("__pbar") - F.lit(int(slack_e6)))
            - F.col("x") * F.lit(1_000_000),
        )
        .select(group_alias, "n", "x", "__sup", "__sdn")
    )
    s = global_running_sum(
        slacked, [group_alias], ["__sup", "__sdn"],
        out_col=["__Su", "__Sd"], inclusive=True,
    ).withColumn("__nSu", -F.col("__Su")).withColumn(
        "__nSd", -F.col("__Sd")
    )
    m = global_running_max(
        global_running_max(
            s, [group_alias], "__nSu", out_col="__Mu", inclusive=True
        ),
        [group_alias], "__nSd", out_col="__Md", inclusive=True,
    )
    up = F.col("__Su") + F.greatest(F.lit(0).cast("long"), F.col("__Mu"))
    dn = F.col("__Sd") + F.greatest(F.lit(0).cast("long"), F.col("__Md"))
    return m.select(
        group_alias, "n", "x",
        up.cast("long").alias("cusum_up_e6"),
        dn.cast("long").alias("cusum_dn_e6"),
        (up > F.lit(int(h_e6))).alias("alarm_up"),
        (dn > F.lit(int(h_e6))).alias("alarm_dn"),
    )


def ewma_chart(
    df: DataFrame,
    idx_col: Column | str,
    defect_cond: Column,
    idx_alias: str = "n_idx",
    window: int = 20,
    h_e6: int = 100_000,
) -> DataFrame:
    """EWMA control chart for proportions over an integer time grid —
    the slow-drift leg of the SPC trio (Roberts 1959 / Lucas–Saccucci):
    Shewhart (:func:`p_chart`) flags one big excursion, CUSUM
    (:func:`cusum_chart`) a sustained shift, EWMA a slow drift the
    other two smear out. Z_t = λ·r_t + (1−λ)·Z_{t−1} with λ fixed at
    1/2 and Z_0 = the pooled rate p̄; alarm when Z_t leaves
    p̄ ± ``h_e6`` (the decision band in micro-rate units — fold the
    textbook L·σ_Z into it, exactly as cusum_chart folds k and h).

    The recursion is NOT computed sequentially: at λ = 1/2 it has the
    closed form Z_t = Σ_{k≥0} 2^{−(k+1)} r_{t−k}, truncated at
    ``window`` CALENDAR steps (tail weight ≤ 2^−window) with the
    truncated + any gap-day mass assigned to p̄ — so silent days shrink
    history toward center instead of stretching it, the
    :func:`~hadoop_fcfs_spark.ops.timeseries.ewma_decay` discipline.
    All arithmetic is exact BIGINT: daily rates floor to micro-units
    r = x·1e6 div n, weights are the integers 2^(window−1−k), and
    ewma_e6 = (Σ r_j·2^(window−1−(t−j)) + (2^window − Σw)·p̄) div
    2^window — engine- and order-exact, no float anywhere.

    Scale shape: one map-side-combinable grain aggregation, one
    broadcast pooled scalar, and the kernel j ∈ (t−window, t] as the
    EQUI chunked band self-join over GRAIN rows (ewma_decay's
    bucketized pattern — each history row fans into its chunk and the
    next; never a per-grid quadratic). Output per grid cell:
    idx_alias, n, x, rate_e6, ewma_e6, alarm_up, alarm_dn."""
    from hadoop_fcfs_spark.caching import waypoint

    if window < 1 or window > 40:
        raise ValueError(f"window must be in [1, 40], got {window}")
    if h_e6 <= 0:
        raise ValueError(f"h_e6 must be > 0, got {h_e6}")
    idx = F.col(idx_col) if isinstance(idx_col, str) else idx_col
    full = 1 << window
    grain = df.groupBy(idx.cast("long").alias("__n")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    )
    pooled = grain.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("x").cast("long").alias("__tx"),
    )
    rates = waypoint(
        grain.crossJoin(F.broadcast(pooled))
        .withColumn(
            "__pbar", F.expr("CAST(__tx * 1000000 div __tn AS BIGINT)")
        )
        .withColumn("__r", F.expr("CAST(x * 1000000 div n AS BIGINT)"))
        .select("__n", "n", "x", "__pbar", "__r")
    )
    left = rates.withColumn(
        "__chunk", (F.col("__n") / window).cast("long")
    )
    right = rates.select(
        F.col("__n").alias("__j"),
        F.col("__r").alias("__rj"),
        F.explode(
            F.array(
                (F.col("__n") / window).cast("long"),
                (F.col("__n") / window).cast("long") + 1,
            )
        ).alias("__chunk"),
    )
    band = left.join(right, ["__chunk"]).filter(
        (F.col("__j") <= F.col("__n"))
        & (F.col("__j") > F.col("__n") - F.lit(window))
    )
    w = F.pow(
        F.lit(2.0), (F.lit(window - 1) - (F.col("__n") - F.col("__j")))
        .cast("double")
    ).cast("long")
    kerneled = band.groupBy("__n").agg(
        F.max("n").alias("n"),
        F.max("x").alias("x"),
        F.max("__pbar").alias("__pbar"),
        F.max("__r").alias("rate_e6"),
        F.sum(F.col("__rj") * w).cast("long").alias("__wsum"),
        F.sum(w).cast("long").alias("__wtot"),
    )
    ewma = F.expr(
        f"CAST((__wsum + ({full} - __wtot) * __pbar) div {full} AS BIGINT)"
    )
    return kerneled.select(
        F.col("__n").alias(idx_alias), "n", "x", "rate_e6",
        ewma.alias("ewma_e6"),
        (ewma > F.col("__pbar") + F.lit(int(h_e6))).alias("alarm_up"),
        (ewma < F.col("__pbar") - F.lit(int(h_e6))).alias("alarm_dn"),
    )


def run_rules(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
    min_run: int = 9,
) -> DataFrame:
    """Western Electric run rule over an ordered proportion grain: flag
    every point sitting in a run of ≥ ``min_run`` consecutive points on
    the SAME side of the center line (rule 2 of the classic WE set,
    min_run = 9 in the modern Nelson formulation) — the pattern leg of
    the SPC suite: p_chart catches one 3σ excursion, CUSUM/EWMA a
    small sustained/slow shift, the run rule the textbook "process has
    moved but never far enough to alarm" signature QA dashboards quote
    directly. Points exactly ON the center line take side 0 and break
    runs (and are never flagged).

    Exactness: center = the flooring pooled rate p̄_e6, daily rates
    floor to micros, side = sign(rate − p̄) on exact BIGINTs. Runs are
    gaps-and-islands: global row number (ONE range-partitioned prefix,
    ops.sort.global_running_sum) minus the per-side row number gives
    the island id; island length is a count over (side, island). The
    per-side windows partition GRAIN rows (days — bounded; the
    duration-grain-windows-only discipline), never events.

    Scale shape: one map-side-combinable grain aggregation, one
    broadcast pooled scalar, one range prefix + two grain-bounded
    windows. Output per grain cell: grain, n, x, rate_e6, side,
    run_len, rule2."""
    from pyspark.sql import Window

    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    if min_run < 2:
        raise ValueError(f"min_run must be >= 2, got {min_run}")
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    )
    pooled = grain.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("x").cast("long").alias("__tx"),
    )
    sided = waypoint(
        grain.crossJoin(F.broadcast(pooled))
        .withColumn(
            "__pbar", F.expr("CAST(__tx * 1000000 div __tn AS BIGINT)")
        )
        .withColumn("rate_e6", F.expr("CAST(x * 1000000 div n AS BIGINT)"))
        .withColumn(
            "side",
            F.when(F.col("rate_e6") > F.col("__pbar"), 1)
            .when(F.col("rate_e6") < F.col("__pbar"), -1)
            .otherwise(0).cast("int"),
        )
        .select(group_alias, "n", "x", "rate_e6", "side")
    )
    rn = global_running_sum(
        sided.withColumn("__one", F.lit(1).cast("long")),
        [group_alias], ["__one"], out_col=["__rn"], inclusive=True,
    )
    w_side = Window.partitionBy("side").orderBy(group_alias)
    islands = rn.withColumn(
        "__island", F.col("__rn") - F.row_number().over(w_side)
    )
    w_island = Window.partitionBy("side", "__island")
    return islands.withColumn(
        "run_len", F.count("*").over(w_island).cast("long")
    ).select(
        group_alias, "n", "x", "rate_e6", "side", "run_len",
        (
            (F.col("side") != 0) & (F.col("run_len") >= F.lit(int(min_run)))
        ).alias("rule2"),
    )


def nelson_rules(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
    min_trend: int = 6,
    min_alt: int = 14,
) -> DataFrame:
    """Nelson rules 3 and 4 over an ordered proportion grain — the
    DIFFERENCE-pattern legs of the SPC suite (p_chart catches one 3σ
    excursion, CUSUM/EWMA a sustained/slow shift, run rule 2 a
    same-side run; rules 3/4 read the point-to-point DELTAS): rule 3
    flags a steady trend (``min_trend`` = 6 points in a row continually
    increasing or decreasing), rule 4 systematic oscillation
    (``min_alt`` = 14 points in a row alternating up and down —
    the two-stream / overcorrection signature).

    Semantics: direction d_t = sign(rate_t − rate_{t−1}) on exact
    flooring micro-rates (d of the first point is NULL; equal rates
    give d = 0 and BREAK both patterns — the conservative textbook
    reading). ``trend_len`` / ``alt_len`` count the consecutive
    qualifying DIFFS ending at each point, so a rule covers k+1
    points when its diff-run is k long; each rule fires AT every
    point COMPLETING a qualifying run (trend_len ≥ min_trend−1 /
    alt_len ≥ min_alt−1) — the qcc-style "which point violates"
    contract, a pure prefix property (no forward look).

    Exactness: rates floor to micros off exact BIGINT grain counts, so
    d is engine-exact; runs are gaps-and-islands on the diff stream
    (prefix sums of integer break flags + per-island row numbers).

    Scale shape: one map-side-combinable grain aggregation, then
    GRAIN-bounded summary windows only (the kaplan_meier precedent:
    calendar days, never events — the grain is bounded by the
    observation span, not data volume). Output per grain cell: grain,
    n, x, rate_e6, direction, trend_len, rule3, alt_len, rule4."""
    from pyspark.sql import Window

    if min_trend < 2 or min_alt < 2:
        raise ValueError(
            f"min_trend/min_alt must be >= 2, got {min_trend}/{min_alt}"
        )
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    ).withColumn("rate_e6", F.expr("CAST(x * 1000000 div n AS BIGINT)"))
    # grain-bounded summary windows (kaplan_meier precedent): the day
    # grain is calendar-bounded, so one ordered pass over it is fine
    w = Window.orderBy(group_alias)
    w_run = Window.orderBy(group_alias).rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = F.when(
        F.lag("rate_e6").over(w).isNotNull(),
        F.signum(F.col("rate_e6") - F.lag("rate_e6").over(w)).cast("int"),
    )
    diffed = grain.withColumn("__d", d).withColumn(
        "__pd", F.lag("__d").over(w)
    )
    # rule 3 (trend): a diff extends the run iff it is nonzero and
    # equals the previous diff; anything else starts a new island
    brk_t = F.when(
        F.col("__d").isNull() | (F.col("__d") == 0), 1
    ).when(
        F.col("__pd").isNull()
        | (F.col("__pd") == 0)
        | (F.col("__d") != F.col("__pd")),
        1,
    ).otherwise(0)
    # rule 4 (alternation): extends iff nonzero and OPPOSITE of previous
    brk_a = F.when(
        F.col("__d").isNull() | (F.col("__d") == 0), 1
    ).when(
        F.col("__pd").isNull()
        | (F.col("__pd") == 0)
        | (F.col("__pd") != -F.col("__d")),
        1,
    ).otherwise(0)
    isl = diffed.withColumn("__ti", F.sum(brk_t).over(w_run)).withColumn(
        "__ai", F.sum(brk_a).over(w_run)
    )
    live = F.col("__d").isNotNull() & (F.col("__d") != 0)
    trend_len = F.when(
        live,
        F.row_number().over(Window.partitionBy("__ti").orderBy(group_alias)),
    ).otherwise(0).cast("long")
    alt_len = F.when(
        live,
        F.row_number().over(Window.partitionBy("__ai").orderBy(group_alias)),
    ).otherwise(0).cast("long")
    return (
        isl.withColumn("trend_len", trend_len)
        .withColumn("alt_len", alt_len)
        .select(
            group_alias, "n", "x", "rate_e6",
            F.col("__d").alias("direction"),
            "trend_len",
            (F.col("trend_len") >= F.lit(int(min_trend - 1))).alias("rule3"),
            "alt_len",
            (F.col("alt_len") >= F.lit(int(min_alt - 1))).alias("rule4"),
        )
    )


def runs_test(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
) -> DataFrame:
    """Wald–Wolfowitz runs test over an ordered proportion grain — the
    SIGNIFICANCE quantifier for the pattern the Western Electric run
    rule flags qualitatively (:func:`run_rules` says "this point sits
    in a ≥9-point same-side run"; this says "is the whole sequence's
    side arrangement non-random at all"): dichotomize each grain cell
    about the pooled center line, count the number of runs R of the
    nonzero-side sequence, and compare to the exact randomization
    moments E[R] = 2·n₁·n₂/m + 1 and Var[R] = 2n₁n₂(2n₁n₂ − m) /
    (m²(m − 1)) with m = n₁ + n₂ — too FEW runs means clustering
    (persistent shifts), too MANY means overcorrection/alternation,
    the same two signatures Nelson rules 2 and 4 pattern-match.

    Semantics: side = sign(rate − p̄) on exact flooring BIGINT
    micro-rates (run_rules' center discipline); cells exactly ON the
    center line are DROPPED before run counting (the classic
    ties-to-the-median dichotomy — reported as ``n_zero`` for the
    audit trail, never silently). A run boundary is side ≠ lag(side)
    over the surviving grain sequence.

    Exactness: n₁/n₂/R and the z numerator R·m − 2n₁n₂ − m are exact
    BIGINTs; only the final z = num / sqrt(2n₁n₂·(2n₁n₂ − m)/(m − 1))
    is one flat double expression (wilson discipline), rounded @6,
    NULL when the variance degenerates (one-sided sequence or
    2n₁n₂ ≤ m — e.g. n₁ or n₂ = 0, or a 1-vs-1 split).

    Scale shape: one map-side-combinable grain aggregation, one
    broadcast pooled scalar, one lag over the CALENDAR-bounded grain
    sequence (kaplan_meier precedent: days, never events), then two
    single-row aggregates broadcast-crossed. Output: 1 row (n_pos,
    n_neg, n_zero, n_runs, z_num, z_r6)."""
    from pyspark.sql import Window

    from hadoop_fcfs_spark.caching import waypoint

    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    )
    pooled = grain.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("x").cast("long").alias("__tx"),
    )
    sided = waypoint(
        grain.crossJoin(F.broadcast(pooled))
        .withColumn("rate_e6", F.expr("CAST(x * 1000000 div n AS BIGINT)"))
        .withColumn(
            "__pbar", F.expr("CAST(__tx * 1000000 div __tn AS BIGINT)")
        )
        .withColumn(
            "side",
            F.when(F.col("rate_e6") > F.col("__pbar"), 1)
            .when(F.col("rate_e6") < F.col("__pbar"), -1)
            .otherwise(0).cast("int"),
        )
        .select(group_alias, "side")
    )
    zeros = sided.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long")
        .alias("n_zero")
    )
    w = Window.orderBy(group_alias)
    nz = sided.filter(F.col("side") != 0).withColumn(
        "__new_run",
        F.when(
            F.lag("side").over(w).isNull()
            | (F.col("side") != F.lag("side").over(w)),
            1,
        ).otherwise(0).cast("long"),
    )
    counts = nz.agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("side") == -1, 1).otherwise(0)).cast("long")
        .alias("n_neg"),
        F.sum("__new_run").cast("long").alias("n_runs"),
    )
    return counts.crossJoin(F.broadcast(zeros)).selectExpr(
        # an all-on-center sequence leaves the filtered aggregates NULL;
        # the contract is (0, 0, n_zero, 0, 0, NULL) — found by the
        # hypothesis replay, the brunner_munzel empty-input precedent
        "COALESCE(n_pos, 0) AS n_pos",
        "COALESCE(n_neg, 0) AS n_neg",
        "COALESCE(n_zero, 0) AS n_zero",  # empty input → all-zero row
        "COALESCE(n_runs, 0) AS n_runs",
    ).selectExpr(
        "n_pos", "n_neg", "n_zero", "n_runs",
        # z numerator R·m − 2n₁n₂ − m (exact; z's sign and magnitude
        # scale live here — 0 means R is exactly at expectation)
        "CAST(n_runs * (n_pos + n_neg) - 2 * n_pos * n_neg"
        " - (n_pos + n_neg) AS BIGINT) AS z_num",
        "CASE WHEN n_pos + n_neg >= 2"
        " AND 2 * n_pos * n_neg > n_pos + n_neg THEN"
        " ROUND(CAST(n_runs * (n_pos + n_neg) - 2 * n_pos * n_neg"
        "            - (n_pos + n_neg) AS DOUBLE)"
        "  / SQRT(CAST(2 * n_pos * n_neg AS DOUBLE)"
        "         * (2 * n_pos * n_neg - (n_pos + n_neg))"
        "         / (n_pos + n_neg - 1)), 6) END AS z_r6",
    )


def zone_rules(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
) -> DataFrame:
    """Nelson rules 5–8 (the Western Electric ZONE tests) over an
    ordered proportion grain — completing the Nelson 1–8 battery on
    one grain (:func:`p_chart` is rule 1, :func:`run_rules` rule 2,
    :func:`nelson_rules` rules 3/4): rule 5 = 2 of 3 consecutive
    points beyond 2σ on the same side, rule 6 = 4 of 5 beyond 1σ on
    the same side, rule 7 = 15 consecutive WITHIN 1σ (stratification —
    the too-good-to-be-true signature: subgroup mixing or a gamed
    metric), rule 8 = 8 consecutive beyond 1σ with none within
    (bimodality / two interleaved streams). Each rule fires AT every
    point completing its pattern — the same pure-prefix contract as
    :func:`nelson_rules`.

    Arithmetic (the p_chart discipline): counts and rate_e6 are exact
    BIGINTs; each cell's zone boundaries p̄ ± k·σ_i with σ_i =
    √(p̄(1−p̄)/n_i) need one sqrt, so zone flags compare the exact
    rate against floats built from single-rounded IEEE ops on exact
    integer inputs — cross-engine deterministic (the wilson-bounds
    precedent). Variable per-cell n gives each point its own zone
    widths — the textbook attribute-chart form, not the constant-n
    approximation.

    Scale shape: one map-side-combinable grain aggregation, one
    broadcast pooled scalar, then GRAIN-bounded ROLLING windows only
    (3/5/8/15 rows over calendar days — the kaplan_meier precedent;
    never events). Output per grain cell: grain, n, x, rate_e6,
    beyond1, beyond2 (−1/0/+1 zone sides), within1, rule5, rule6,
    rule7, rule8."""
    from pyspark.sql import Window

    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    )
    pooled = grain.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("x").cast("long").alias("__tx"),
    )
    out = grain.crossJoin(F.broadcast(pooled))
    pbar = F.col("__tx").cast("double") / F.col("__tn").cast("double")
    sig = F.sqrt(pbar * (F.lit(1.0) - pbar) / F.col("n").cast("double"))
    rate = F.col("x").cast("double") / F.col("n").cast("double")
    zoned = out.select(
        group_alias, "n", "x",
        F.expr("CAST(x * 1000000 div n AS BIGINT)").alias("rate_e6"),
        F.when(rate > pbar + 2.0 * sig, 1)
        .when(rate < pbar - 2.0 * sig, -1)
        .otherwise(0).cast("int").alias("beyond2"),
        F.when(rate > pbar + sig, 1)
        .when(rate < pbar - sig, -1)
        .otherwise(0).cast("int").alias("beyond1"),
    ).withColumn("within1", F.col("beyond1") == 0)

    def zone_rolling(k: int):
        # grain-bounded rolling windows (kaplan_meier precedent)
        return Window.orderBy(group_alias).rowsBetween(-(k - 1), 0)

    def side_count(col: str, side: int, k: int) -> Column:
        return F.sum(
            F.when(F.col(col) == side, 1).otherwise(0)
        ).over(zone_rolling(k))

    rn = F.row_number().over(Window.orderBy(group_alias))
    return zoned.select(
        group_alias, "n", "x", "rate_e6", "beyond1", "beyond2", "within1",
        (
            (side_count("beyond2", 1, 3) >= 2)
            | (side_count("beyond2", -1, 3) >= 2)
        ).alias("rule5"),
        (
            (side_count("beyond1", 1, 5) >= 4)
            | (side_count("beyond1", -1, 5) >= 4)
        ).alias("rule6"),
        (
            (rn >= 15)
            & (
                F.sum(F.when(F.col("within1"), 1).otherwise(0)).over(zone_rolling(15))
                == 15
            )
        ).alias("rule7"),
        (
            (rn >= 8)
            & (
                F.sum(F.when(F.col("within1"), 0).otherwise(1)).over(zone_rolling(8))
                == 8
            )
        ).alias("rule8"),
    )


def durbin_watson(
    df: DataFrame,
    group_col: Column | str,
    defect_cond: Column,
    group_alias: str = "grain",
) -> DataFrame:
    """Durbin–Watson statistic over an ordered proportion grain: DW =
    Σ(r_t − r_{t−1})² / Σ(r_t − r̄)² — the serial-correlation companion
    to the Nelson battery (the run/zone rules FLAG autocorrelation
    patterns; DW QUANTIFIES lag-1 dependence: DW ≈ 2 for independence,
    → 0 under positive serial correlation — the drifting-process
    signature — and → 4 under negative, the overcorrection signature
    rule 4 hunts). The classic regression-residual form with the mean
    as the fitted model.

    Exactness: rates floor to micros off exact BIGINT grain counts;
    the numerator Σ(Δr)² sums squared integer deltas and the
    denominator clears its mean via the moment identity k·Σ(r−r̄)² =
    k·Σr² − (Σr)², so dw_e6 = k·num·1e6 div (k·Σr² − (Σr)²) is ONE
    flooring DECIMAL(38,0) division on nonnegative operands —
    engine- and order-exact, no float anywhere. NULL when k < 2 or
    all rates are equal (zero variance — DW undefined).

    Scale shape: one map-side-combinable grain aggregation, one lag
    over the GRAIN (calendar-bounded; the kaplan_meier precedent),
    one scalar reduce. Output: 1 row (n_points, dw_e6)."""
    from pyspark.sql import Window

    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(defect_cond, 1).otherwise(0)).cast("long").alias("x"),
    ).withColumn("__r", F.expr("CAST(x * 1000000 div n AS BIGINT)"))
    w = Window.orderBy(group_alias)
    dec = "decimal(38,0)"
    lagged = grain.withColumn("__pr", F.lag("__r").over(w))
    m = lagged.agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__r").cast("long").alias("__s1"),
        F.sum(F.col("__r").cast(dec) * F.col("__r")).cast(dec).alias("__s2"),
        F.sum(
            F.when(
                F.col("__pr").isNotNull(),
                (F.col("__r").cast(dec) - F.col("__pr"))
                * (F.col("__r") - F.col("__pr")),
            ).otherwise(F.lit(0).cast(dec))
        ).cast(dec).alias("__num"),
    )
    return m.selectExpr(
        "__k AS n_points",
        "CASE WHEN __k > 1 AND (CAST(__k AS DECIMAL(38,0)) * __s2"
        " - CAST(__s1 AS DECIMAL(38,0)) * __s1) > 0 THEN"
        " CAST((CAST(__k AS DECIMAL(38,0)) * __num * 1000000)"
        " div (CAST(__k AS DECIMAL(38,0)) * __s2"
        " - CAST(__s1 AS DECIMAL(38,0)) * __s1) AS BIGINT)"
        " END AS dw_e6",
    )


def pr_auc(
    df: DataFrame, score_col: str, label_col: Column | str
) -> DataFrame:
    """Average-precision scalar (step-function PR-AUC): Σ_t
    precision(t)·Δrecall(t) over the distinct-score threshold grain —
    the one-number companion to :func:`pr_curve_interp` exactly as
    roc_auc_orderstatus is to the gains/calibration tier (the curve is
    the diagnostic, the scalar is what a pipeline gate thresholds on).
    Ties contribute at their threshold's pooled precision, the
    standard grouped-ties AP formulation.

    Exactness: same substrate as pr_curve_interp —
    :func:`_rank_grain` with the positives' prefix, giving kept = N −
    below and tp = P − pos_below at each threshold. Each term
    tp·d_pos·1e6 div (kept·P) quantizes to micros INDEPENDENTLY
    (DECIMAL(38,0) products — at 1e11 rows tp·d_pos·1e6 passes BIGINT
    long before any driver scale) and the terms SUM AS BIGINTs, so
    accumulation order cannot matter; per-term flooring beats a
    common-denominator rescale because kept varies per row (denominators
    are unbounded, unlike the 11-point curve's fixed checkpoint count).
    ap_e6 is NULL when P = 0 — undefined, not zero.

    Scale shape: grain collapse + one range-partitioned prefix + one
    scalar reduce; output is ONE row (n, n_pos, ap_e6)."""
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
        arm_prefix=True,
    )
    terms = (
        before.crossJoin(F.broadcast(tot))
        .withColumn("__kept", F.col("__n") - F.col("__before"))
        .withColumn("__tp", F.col("__na") - F.col("__cabef"))
        .withColumn(
            "__term",
            F.expr(
                "CASE WHEN __ca > 0 AND __na > 0 THEN CAST("
                "CAST(__tp AS DECIMAL(38,0)) * __ca * 1000000"
                " div (CAST(__kept AS DECIMAL(38,0)) * __na) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    # empty slice (no non-null score/label rows): max over the empty agg
    # is NULL — coalesce so the row reads (0, 0, NULL) like the other
    # scalar gates' empty-input contract
    return terms.agg(
        F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.max("__na"), F.lit(0)).cast("long").alias("n_pos"),
        F.when(
            F.max("__na") > 0, F.sum("__term").cast("long")
        ).alias("ap_e6"),
    )


def youden_j(
    df: DataFrame, score_col: str, label_col: Column | str
) -> DataFrame:
    """Youden's J statistic and its optimal cutpoint: J(t) = TPR(t) −
    FPR(t) maximized over all thresholds — the standard
    threshold-PICKER companion to :func:`roc_auc` (AUC says whether the
    score discriminates; J says where to CUT it: the point farthest
    above the chance diagonal, equivalently max balanced
    sensitivity+specificity−1). Ties on J break to the SMALLEST
    threshold (deterministic; the most-sensitive of the equally-good
    cuts).

    Exactness: the roc/pr substrate — :func:`_rank_grain` with the
    positives' prefix, giving tp = P − pos_below and fp = Nneg −
    neg_below per threshold; TPR/FPR floor to micros INDEPENDENTLY (div
    on nonnegative BIGINTs) so J_e6 is an exact integer per threshold
    and the max is order-free. The scalar max joins back as a broadcast
    1-row cross (never a shuffled self-join). NULL J/threshold when
    either class is empty; empty slice reads (0, 0, NULL, NULL).

    Scale shape: grain collapse + one range-partitioned prefix + two
    broadcast scalar crosses; output is ONE row (n, n_pos, j_e6,
    threshold)."""
    from hadoop_fcfs_spark.caching import waypoint

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    before, tot = _rank_grain(
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()),
        F.col(score_col).alias("__v"),
        lab,
        arm_prefix=True,
    )
    j = waypoint(
        before.crossJoin(F.broadcast(tot))
        .withColumn("__tp", F.col("__na") - F.col("__cabef"))
        .withColumn(
            "__fp",
            (F.col("__n") - F.col("__na"))
            - (F.col("__before") - F.col("__cabef")),
        )
        .withColumn(
            "__j",
            F.expr(
                "CASE WHEN __na > 0 AND __n > __na THEN "
                "CAST(__tp * 1000000 div __na AS BIGINT)"
                " - CAST(__fp * 1000000 div (__n - __na) AS BIGINT) END"
            ),
        )
        .select("__v", "__n", "__na", "__j")
    )
    best = j.agg(F.max("__j").alias("__mj"))
    return j.crossJoin(F.broadcast(best)).agg(
        F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.max("__na"), F.lit(0)).cast("long").alias("n_pos"),
        F.max("__mj").cast("long").alias("j_e6"),
        F.min(F.when(F.col("__j") == F.col("__mj"), F.col("__v")))
        .alias("threshold"),
    )


def gray_test(
    durations: DataFrame,
    duration_col: str,
    cause_col: str,
    target_cause,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Gray's test (1988, rho = 0) for equality of two groups'
    cumulative incidence of ``target_cause`` under competing risks —
    the significance companion to :func:`aalen_johansen` exactly as
    :func:`logrank_test` is to kaplan_meier, and the test log-rank
    CANNOT replace here: log-rank on the cause-specific hazard treats
    competing exits as censoring, so a group that merely exits FASTER
    by the competing cause looks protected from the target cause.
    Gray compares the SUBDISTRIBUTION hazard: a subject who exited by
    a competing cause stays in the target cause's risk set forever
    (they remain forever "able to not yet have" the target event).

    COMPLETE-FOLLOW-UP form: this implementation assumes no
    right-censoring (rows with NULL cause = observed never to exit —
    they too stay at risk forever), under which Gray's rho=0 statistic
    is EXACTLY the log-rank score computed on the subdistribution risk
    set Y*_g(t) = n_g − (target-cause exits of g before t):
    U = Σ_t (d_A(t) − Y*_A·d(t)/Y*), hypergeometric
    V = Σ_t d·(Y*_A/Y*)(1−Y*_A/Y*)(Y*−d)/(Y*−1), z = U/√V. With
    censoring, Gray's IPCW weights would be needed — out of scope,
    documented (the driver tables have complete follow-up by
    construction).

    Determinism (logrank_test conventions): per-step E and V terms
    are flat division chains over exact BIGINT risk counts,
    floor-quantized to NANO units and summed as BIGINTs; z is one
    subtraction + sqrt at the end. Risk sets via ONE exclusive
    two-column global_running_sum pass over the pooled duration
    grain. Output: 1 row (n_1, n_2, o_1, e1_e9, v_e9, z_e6 — NULL z
    when V = 0)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    g1 = F.col(group_col) == F.lit(group_a)
    tgt = F.col(cause_col) == F.lit(target_cause)
    grain = waypoint(
        durations.filter(
            F.col(group_col).isin([group_a, group_b])
            & F.col(duration_col).isNotNull()
        )
        .groupBy(F.col(duration_col).alias("t"))
        .agg(
            F.sum(F.when(g1 & tgt, 1).otherwise(0)).cast("long")
            .alias("__d1"),
            F.sum(F.when(~g1 & tgt, 1).otherwise(0)).cast("long")
            .alias("__d2"),
        )
    )
    tot = durations.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(duration_col).isNotNull()
    ).agg(
        F.sum(F.when(g1, 1).otherwise(0)).cast("long").alias("__n1t"),
        F.sum(F.when(~g1, 1).otherwise(0)).cast("long").alias("__n2t"),
    )
    # subdistribution risk sets: subtract ONLY prior target-cause exits
    cum = global_running_sum(
        grain, ["t"], ["__d1", "__d2"], out_col=["__b1", "__b2"],
        inclusive=False,
    )
    r = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("__r1", F.col("__n1t") - F.col("__b1"))
        .withColumn("__r2", F.col("__n2t") - F.col("__b2"))
        .withColumn("__y", F.col("__r1") + F.col("__r2"))
        .withColumn("__d", F.col("__d1") + F.col("__d2"))
        .filter(F.col("__d") > 0)
    )
    d, y, r1 = (
        F.col("__d").cast("double"),
        F.col("__y").cast("double"),
        F.col("__r1").cast("double"),
    )
    e_term = F.floor(d * r1 / y * 1_000_000_000.0).cast("long")
    v_term = F.when(
        F.col("__y") > 1,
        F.floor(
            d * (r1 / y) * (1.0 - r1 / y) * ((y - d) / (y - 1.0))
            * 1_000_000_000.0
        ).cast("long"),
    ).otherwise(F.lit(0))
    # totals come from tot, not a max over r: with zero target-cause
    # exits r is EMPTY and a max would erase the group sizes
    agg = r.agg(
        F.sum("__d1").cast("long").alias("o_1"),
        F.sum(e_term).cast("long").alias("e1_e9"),
        F.sum(v_term).cast("long").alias("v_e9"),
    ).crossJoin(F.broadcast(tot))
    o9 = F.col("o_1") * F.lit(1_000_000_000)
    z = (o9 - F.col("e1_e9")).cast("double") / F.sqrt(
        F.lit(1_000_000_000.0) * F.col("v_e9").cast("double")
    )
    return agg.select(
        F.col("__n1t").cast("long").alias("n_1"),
        F.col("__n2t").cast("long").alias("n_2"),
        "o_1", "e1_e9", "v_e9",
        F.when(F.col("v_e9") > 0, F.floor(z * 1_000_000).cast("long"))
        .alias("z_e6"),
    )


def mondrian_conformal_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
    calib_cond: Column,
    alpha_permille: int = 100,
    chunk_width: int = 1000,
) -> DataFrame:
    """Mondrian (group-conditional) vs marginal split-conformal, with
    the coverage audit that motivates the distinction: calibrate on
    the ``calib_cond`` slice, evaluate on the rest, and report each
    group's EMPIRICAL coverage under (a) its own Mondrian threshold
    and (b) the one global marginal threshold. Marginal conformal
    guarantees only AGGREGATE 1−α coverage — a heterogeneous group
    (higher score scale) silently undercovers while easy groups
    overcover, which is exactly what this audit makes visible;
    Mondrian calibrates per group and restores the guarantee
    group-by-group (Vovk's taxonomy-conditional validity).

    Arithmetic: thresholds are :func:`conformal_threshold`'s exact
    ⌈(n+1)(1−α)⌉-th order statistics (per group, and once with a
    constant group for the marginal); coverage counts value <=
    threshold on the test slice, flooring-micro rates. A group too
    small to conformalize (threshold NULL) reports NULL Mondrian
    coverage — undefined, not 0. The split condition is the CALLER's
    deterministic expression (md5-parity in the gates — replayable,
    RNG-state-free, the sampling-tier discipline).

    Scale shape: two conformal_threshold passes on the calib slice
    (group-grain + chunked prefix, never one window task), one
    test-slice group aggregation against the BROADCAST group-grain
    threshold table. Output per group: group, n_calib, n_test,
    thr_mondrian, thr_marginal, cov_mondrian_e6, cov_marginal_e6."""
    from hadoop_fcfs_spark.caching import waypoint

    base = waypoint(
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            F.col(group_col).alias("__g"),
            F.col(value_col).alias("__v"),
            calib_cond.alias("__calib"),
        )
    )
    calib = base.filter(F.col("__calib"))
    mond = conformal_threshold(
        calib, "__g", "__v", alpha_permille=alpha_permille,
        chunk_width=chunk_width,
    ).select(
        F.col("__g"),
        F.col("n").alias("n_calib"),
        F.col("threshold").alias("thr_mondrian"),
    )
    marg = conformal_threshold(
        calib.withColumn("__one", F.lit(1)), "__one", "__v",
        alpha_permille=alpha_permille, chunk_width=chunk_width,
    ).select(F.col("threshold").alias("thr_marginal"))
    test = (
        base.filter(~F.col("__calib"))
        .join(F.broadcast(mond), "__g", "left")
        .crossJoin(F.broadcast(marg))
    )
    out = test.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("n_calib").cast("long").alias("n_calib"),
        F.count("*").cast("long").alias("n_test"),
        F.max("thr_mondrian").alias("thr_mondrian"),
        F.max("thr_marginal").alias("thr_marginal"),
        F.sum(
            F.when(F.col("__v") <= F.col("thr_mondrian"), 1).otherwise(0)
        ).cast("long").alias("__cm"),
        F.sum(
            F.when(F.col("__v") <= F.col("thr_marginal"), 1).otherwise(0)
        ).cast("long").alias("__cg"),
    )
    return out.select(
        group_col, "n_calib", "n_test", "thr_mondrian", "thr_marginal",
        F.when(
            F.col("thr_mondrian").isNotNull(),
            F.expr("CAST(__cm * 1000000 div n_test AS BIGINT)"),
        ).alias("cov_mondrian_e6"),
        F.when(
            F.col("thr_marginal").isNotNull(),
            F.expr("CAST(__cg * 1000000 div n_test AS BIGINT)"),
        ).alias("cov_marginal_e6"),
    )


def pinball_loss(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
    q_permille: int,
    group_col: str | None = None,
) -> DataFrame:
    """Pinball (quantile) loss of a per-row quantile prediction:
    L_q(a, p) = q·(a−p) when a ≥ p else (1−q)·(p−a) — the proper
    scoring rule for quantile forecasts (a q-quantile prediction
    minimizes expected pinball loss at exactly q), the eval-tier
    companion the quantile ladder/conformal operators need: conformal
    guarantees COVERAGE, pinball measures SHARPNESS, and a predictor
    can win one while losing the other.

    Exactness: inputs are expected integer-scaled (cents); each row's
    loss is an exact BIGINT in milli-value units (permille × value),
    summed as DECIMAL(38,0) — total_milli is reported as BIGINT
    (documented bound: ~9e8 rows at 1e10 milli/row before BIGINT
    saturates; mean_milli is always safe), mean_milli = total div n.
    NULL actual/pred rows are dropped.

    Scale shape: one projection + one (optionally grouped) map-side-
    combinable aggregation; no shuffle beyond the group grain."""
    if not 1 <= q_permille <= 999:
        raise ValueError(f"q_permille must be in [1, 999], got {q_permille}")
    a, p = F.col(actual_col), F.col(pred_col)
    q = F.lit(int(q_permille)).cast("long")
    loss = F.when(
        a >= p, q * (a.cast("long") - p.cast("long"))
    ).otherwise((F.lit(1000) - q) * (p.cast("long") - a.cast("long")))
    base = df.filter(a.isNotNull() & p.isNotNull()).withColumn(
        "__loss", loss.cast("decimal(38,0)")
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum("__loss").cast("decimal(38,0)").alias("__tot"),
    ]
    g = base.groupBy(group_col).agg(*aggs) if group_col else base.agg(*aggs)
    cols = [group_col] if group_col else []
    return g.select(
        *cols, "n",
        F.expr("CAST(__tot AS BIGINT)").alias("pinball_total_milli"),
        F.expr("CAST(__tot div n AS BIGINT)").alias("pinball_mean_milli"),
    )


def sprt_audit(
    df: DataFrame,
    group_col: Column | str,
    success_cond: Column,
    p0_e6: int,
    p1_e6: int,
    a_e6: int,
    b_e6: int,
    group_alias: str = "grain",
) -> DataFrame:
    """Wald sequential probability ratio test over an ordered grain:
    accumulate the Bernoulli log-likelihood ratio ln(P₁/P₀) cell by
    cell and report WHERE the random walk first crossed the accept-H₁
    bound ``a_e6`` (> 0) or the accept-H₀ bound ``b_e6`` (< 0) — the
    third leg of the SPC tier (Shewhart flags a point, CUSUM a
    sustained shift, SPRT answers the A/B question "can we stop
    monitoring yet" with guaranteed error rates; Wald 1945:
    a = ln((1−β)/α), b = ln(β/(1−α))).

    Determinism: the two per-observation log-ratios quantize to
    FLOOR-MICRO once (ln on a single-rounded double ratio of the
    exact e6 rates — the one blessed libm call), so every cell
    contribution x·l1 + (n−x)·l0 and every prefix value is an exact
    BIGINT; crossings are integer comparisons. The prefix rides
    ops.sort.global_running_sum (range-partitioned, grain rows only).

    Output: ONE row — n_cells, llr_end_e6, first_h1 / first_h0 (the
    first grain cell whose INCLUSIVE prefix crosses each bound; NULL
    if never) and decision ('accept_h1' / 'accept_h0' / 'continue',
    earliest crossing wins; the walk keeps accumulating past the
    first crossing only for llr_end reporting)."""
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    if not (0 < p0_e6 < 1_000_000 and 0 < p1_e6 < 1_000_000):
        raise ValueError("p0_e6/p1_e6 must be in (0, 1e6)")
    if p0_e6 == p1_e6:
        raise ValueError("p0 and p1 must differ")
    if not (b_e6 < 0 < a_e6):
        raise ValueError(f"need b_e6 < 0 < a_e6, got {b_e6}, {a_e6}")
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    grain = df.groupBy(gc.alias(group_alias)).agg(
        F.count("*").cast("long").alias("__n"),
        F.sum(F.when(success_cond, 1).otherwise(0)).cast("long").alias("__x"),
    )
    l1 = F.floor(
        F.log(F.lit(float(p1_e6)) / F.lit(float(p0_e6))) * 1_000_000
    ).cast("long")
    l0 = F.floor(
        F.log(
            F.lit(float(1_000_000 - p1_e6)) / F.lit(float(1_000_000 - p0_e6))
        )
        * 1_000_000
    ).cast("long")
    cells = grain.withColumn(
        "__s", F.col("__x") * l1 + (F.col("__n") - F.col("__x")) * l0
    )
    # NB: Spark column resolution is case-insensitive by default, so
    # the prefix output must not differ from "__s" only by case
    s = global_running_sum(
        cells, [group_alias], ["__s"], out_col=["__cum"], inclusive=True
    )
    agg = s.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("__s").cast("long").alias("llr_end_e6"),
        F.min(
            F.when(F.col("__cum") >= F.lit(int(a_e6)), F.col(group_alias))
        ).alias("first_h1"),
        F.min(
            F.when(F.col("__cum") <= F.lit(int(b_e6)), F.col(group_alias))
        ).alias("first_h0"),
    )
    decision = (
        F.when(
            F.col("first_h1").isNotNull()
            & (
                F.col("first_h0").isNull()
                | (F.col("first_h1") <= F.col("first_h0"))
            ),
            "accept_h1",
        )
        .when(F.col("first_h0").isNotNull(), "accept_h0")
        .otherwise("continue")
    )
    return agg.withColumn("decision", decision)


def bh_fdr(
    df: DataFrame,
    unit_col: str,
    p_col_e6: str,
    alpha_e6: int = 50_000,
) -> DataFrame:
    """Benjamini–Hochberg FDR control over a battery of p-values: sort
    ascending, find the largest rank k with p_(k) ≤ k·α/m, reject
    ranks 1..k — the multiple-comparisons layer every per-cell test in
    the repo (p-chart flags, per-day drift z's, per-group KS) needs
    before a human reads m=2500 'significant' cells at α=0.05 and 125
    of them are noise.

    Exactness: the step-up condition cross-multiplies to
    p_e6·m ≤ rank·α_e6 — pure BIGINT comparisons, no division
    anywhere; ranks come from ops.sort.ranked_total_order on
    (p_e6, unit) (deterministic tiebreak). Rejection is rank ≤ k_max
    — the STEP-UP rule rejects everything below the last crossing,
    including cells that individually fail the line (textbook BH, the
    part naive per-cell thresholding gets wrong).

    Scale shape: one range-partitioned rank pass over the UNIT grain
    (bounded battery — days/groups, not data rows), one broadcast
    scalar k_max joined back. Output per unit: (unit, p_e6, rank,
    rejected)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import ranked_total_order

    if not 1 <= alpha_e6 <= 1_000_000:
        raise ValueError(f"alpha_e6 must be in [1, 1e6], got {alpha_e6}")
    base = waypoint(
        df.filter(F.col(p_col_e6).isNotNull()).select(
            F.col(unit_col).alias("__u"), F.col(p_col_e6).alias("__p")
        )
    )
    ranked = waypoint(
        ranked_total_order(
            base, [F.col("__p").asc(), F.col("__u").asc()], rank_col="__r"
        )
    )
    tot = ranked.agg(F.count("*").cast("long").alias("__m"))
    kmax = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.when(
                    F.col("__p") * F.col("__m")
                    <= F.col("__r") * F.lit(int(alpha_e6)),
                    F.col("__r"),
                )
            ).alias("__k")
        )
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        F.col("__u").alias(unit_col),
        F.col("__p").alias(p_col_e6),
        F.col("__r").cast("long").alias("rank"),
        F.coalesce(F.col("__r") <= F.col("__k"), F.lit(False))
        .alias("rejected"),
    )


def krippendorff_alpha(
    df: DataFrame, unit_col: str, rating_col: str
) -> DataFrame:
    """Krippendorff's alpha (nominal) from LONG-format ratings (one
    row per (unit, rating), raters anonymous and MISSING ratings
    simply absent) — the agreement coefficient that handles exactly
    what Fleiss' kappa cannot: variable raters per unit and missing
    judgments, the normal state of a crowdsourced labeling table.
    α = 1 − D_o/D_e over the coincidence matrix; units with fewer
    than 2 ratings are unpairable and excluded (standard).

    Arithmetic: per-unit observed-disagreement numerators
    (m_u² − Σ_c n_uc²)·10⁶/(m_u − 1) floor-quantize to micros
    INDEPENDENTLY and sum as BIGINTs (varying denominators — the
    pr_auc/logrank per-term discipline); expected disagreement
    n² − Σ_c n_c² is one exact DECIMAL(38,0) number; α_e6 = 10⁶ −
    doN·(n−1) div deD. NULL when nothing is pairable or the ratings
    are constant (D_e = 0 — agreement is undefined, not perfect).

    Scale shape: one (unit, category) grain collapse, a unit-grain
    rollup, a category-grain rollup, three broadcast scalars — no
    data-sized join or window. Output: 1 row (n_units_pairable,
    n_pairable, alpha_e6)."""
    from hadoop_fcfs_spark.caching import waypoint

    dec = "decimal(38,0)"
    nuc = waypoint(
        df.filter(
            F.col(unit_col).isNotNull() & F.col(rating_col).isNotNull()
        )
        .groupBy(F.col(unit_col).alias("__u"), F.col(rating_col).alias("__c"))
        .agg(F.count("*").cast("long").alias("__k"))
    )
    per_unit = nuc.groupBy("__u").agg(
        F.sum("__k").cast("long").alias("__m"),
        F.sum(F.col("__k").cast(dec) * F.col("__k")).cast(dec).alias("__s2"),
    ).filter(F.col("__m") >= 2)
    do_n = per_unit.agg(
        F.count("*").cast("long").alias("n_units_pairable"),
        F.sum("__m").cast("long").alias("__n"),
        F.sum(
            F.expr(
                "CAST((CAST(__m AS DECIMAL(38,0)) * __m - __s2) * 1000000"
                " div (__m - 1) AS BIGINT)"
            )
        ).cast("long").alias("__don"),
    )
    # category totals over PAIRABLE units only
    nc = (
        nuc.join(per_unit.select("__u"), "__u")
        .groupBy("__c")
        .agg(F.sum("__k").cast("long").alias("__nc"))
    )
    de_d = nc.agg(
        F.sum(F.col("__nc").cast(dec) * F.col("__nc")).cast(dec).alias("__sc2")
    )
    out = do_n.crossJoin(F.broadcast(de_d))
    return out.selectExpr(
        "n_units_pairable",
        "__n AS n_pairable",
        "CASE WHEN __n > 1 AND (CAST(__n AS DECIMAL(38,0)) * __n - __sc2) > 0"
        " THEN CAST(1000000 - CAST(__don AS DECIMAL(38,0)) * (__n - 1)"
        " div (CAST(__n AS DECIMAL(38,0)) * __n - __sc2) AS BIGINT)"
        " END AS alpha_e6",
    )
