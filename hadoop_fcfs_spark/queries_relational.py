"""Correctness-gate queries: relational core (SURVEY.md §2.2–§2.6).

Every query has a DuckDB oracle with identically-aliased columns.
Floating aggregates are rounded the same on both sides (engine-order
summation differs in ulps; rounding makes hashes comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_fcfs_spark.agg.registry import aggregate
from hadoop_fcfs_spark.ops.fieldsel import field_selection
from hadoop_fcfs_spark.ops.joins import anti_join, broadcast_join, compose_join, override_join, semi_join
from hadoop_fcfs_spark.ops.sort import top_k
from hadoop_fcfs_spark.ops.textops import regex_extract_count
from hadoop_fcfs_spark.registry import register
from hadoop_fcfs_spark.tables import t

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary.
# Parity: the combiner/partial-aggregation pattern (reference
# Job.setCombinerClass, mr-core/mapreduce/Job.java:875) — map-side partial
# HashAggregate is automatic; one shuffle on the two group keys.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
           ROUND(AVG(l_discount), 4)                                    AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship group-agg; combiner parity (Job.java:875).",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "join_inner_agg",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    """,
    doc="Reduce-side inner join (DataJoinReducerBase.java:33) + agg.",
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "join_multiway",
    oracle="""
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    """,
    doc="N-way composed join (CompositeInputFormat.java:151-185) with broadcast dims.",
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # Fixed-cardinality dims (nation=25, region=5) get explicit broadcast
    # hints (DistributedCache hash-join idiom, Job.java:1088). customer
    # scales linearly with the data, so its join is left to Catalyst/AQE:
    # auto-broadcast below the threshold (always true at test SFs),
    # shuffle join beyond it — the behavior that survives 100 TB.
    dims = broadcast_join(
        broadcast_join(customer, nation, customer.c_nationkey == nation.n_nationkey),
        region,
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    # Pre-aggregate the fact table to order grain BEFORE the join: the
    # big join's input shrinks ~4× and n_orders becomes a plain count(*)
    # (o_orderkey is the orders PK), avoiding countDistinct's Expand —
    # the plan that survives a 100× scale-up.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
    )
    joined = per_order.join(orders, per_order.l_orderkey == orders.o_orderkey).join(
        dims, F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.round(F.sum("__rev"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "join_full_outer",
    oracle="""
    WITH a AS (SELECT o_custkey, COUNT(*) AS n95 FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
               GROUP BY o_custkey),
         b AS (SELECT o_custkey, COUNT(*) AS n96 FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
               GROUP BY o_custkey)
    SELECT o_custkey, n95, n96 FROM a FULL OUTER JOIN b USING (o_custkey)
    """,
    doc="OuterJoinRecordReader.java:34 — emit key when ANY source has it.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")

    def year_counts(y: int, alias: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= f"{y}-01-01") & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    return compose_join("o_custkey", "full_outer", year_counts(1995, "n95"), year_counts(1996, "n96"))


@register(
    "join_override",
    oracle="""
    WITH a AS (SELECT c_nationkey AS nationkey, ROUND(AVG(c_acctbal), 4) AS acctbal
               FROM customer GROUP BY c_nationkey),
         b AS (SELECT s_nationkey AS nationkey, ROUND(AVG(s_acctbal), 4) AS acctbal
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(a.nationkey, b.nationkey) AS nationkey,
           COALESCE(b.acctbal, a.acctbal) AS acctbal
    FROM a FULL OUTER JOIN b ON a.nationkey = b.nationkey
    """,
    doc="OverrideRecordReader.java:42 — rightmost source wins per key.",
)
def join_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    a = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.round(F.avg("c_acctbal"), 4).alias("acctbal")
    )
    b = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.round(F.avg("s_acctbal"), 4).alias("acctbal")
    )
    return override_join("nationkey", "acctbal", a, b)


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
    doc="left_semi — engine surface beyond reference (SURVEY §2.3 last row).",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    big_orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return semi_join(customer, big_orders, customer.c_custkey == big_orders.o_custkey).select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1997-01-01'
                        AND o_orderdate < TIMESTAMP '1998-01-01')
    """,
    doc="left_anti — engine surface beyond reference. Year-windowed so "
    "the gate is non-vacuous (every synthetic customer has SOME order).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    orders_97 = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    return anti_join(customer, orders_97, customer.c_custkey == orders_97.o_custkey).select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Sorts / windows (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "secondary_sort",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn,
           ROUND(LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS prev_price
    FROM orders
    """,
    doc="SecondarySort.java:51 — partition by k1, values ordered by k2; Window form.",
)
def secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
           CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Top-k idiom (single-reducer sort, Grep.java:82-84) → TakeOrderedAndProject.",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    top = top_k(orders, 10, F.desc("o_totalprice"), F.asc("o_orderkey"))
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return top.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.row_number().over(w).alias("rank"),
    )


@register(
    "window_analytics",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER w AS INT) AS rn,
           LAG(l_quantity) OVER w AS lag_qty,
           ROUND(SUM(l_quantity) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mov_sum
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
    """,
    doc="Analytic windows — net-new surface (reference has only the secondary-sort substrate).",
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # l_quantity in the ordering: the synthetic data duplicates
    # (l_orderkey, l_linenumber), so without it ties are order-ambiguous
    # and lag() values diverge between engines
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.lag("l_quantity").over(w).alias("lag_qty"),
        F.round(F.sum("l_quantity").over(w.rowsBetween(-2, 0)), 2).alias("mov_sum"),
    )


@register(
    "window_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(RANK() OVER w AS INT) AS rnk,
           CAST(DENSE_RANK() OVER w AS INT) AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="The full ranking family (rank / dense_rank / ntile / cume_dist) "
    "over a partitioned window — net-new analytic surface; the reference's "
    "only substrate is secondary sort (SecondarySort.java:51).",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT user_id, event_id, ep,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ep
                               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ep
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS val_last_hour
    FROM (SELECT user_id, event_id, value,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events)
    """,
    doc="RANGE-frame window (value-based, not row-count-based): per user, "
    "rolling count/sum over the trailing hour ordered by event time — "
    "the event-time sliding aggregate in its batch form. Frame bound on "
    "epoch seconds so both engines agree exactly.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    base = events.select(
        "user_id", "event_id", "value", F.unix_timestamp("ts").alias("ep")
    )
    w = Window.partitionBy("user_id").orderBy("ep").rangeBetween(-3600, 0)
    return base.select(
        "user_id",
        "event_id",
        "ep",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("val_last_hour"),
    )


@register(
    "rollup_agg",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Rollup/grouping-sets — free in Spark, absent in reference (SURVEY §2.4).",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.6)
# ---------------------------------------------------------------------------


def _active_custkeys(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= f"{year}-01-01") & (F.col("o_orderdate") < f"{year + 1}-01-01"))
        .select("o_custkey")
        .distinct()
    )


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    doc="INTERSECT — free in Spark, join-idiom in reference (SURVEY §2.6).",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _active_custkeys(spark, sf_dir, 1995).intersect(_active_custkeys(spark, sf_dir, 1996))


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    doc="EXCEPT — free in Spark.",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _active_custkeys(spark, sf_dir, 1995).subtract(_active_custkeys(spark, sf_dir, 1996))


@register(
    "union_distinct",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    """,
    doc="Multi-input union (MultipleInputs.java:40 / FileInputFormat multi-path).",
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey")
    )
    b = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# Projection / regex operators (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "fieldsel",
    oracle="""
    SELECT (parts[3] || ' ' || parts[1]) AS key,
           array_to_string(parts[2:4], ' ') AS value
    FROM (SELECT string_split(text, ' ') AS parts FROM documents)
    """,
    doc='FieldSelectionMapper.java:61 — spec "2,0:1-3" over space-split fields.',
)
def fieldsel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return field_selection(docs, "text", "2,0:1-3", separator=" ")


@register(
    "grep_count",
    oracle="""
    SELECT m AS match, COUNT(*) AS cnt
    FROM (SELECT UNNEST(regexp_extract_all(text, '[a-z]{6,}')) AS m FROM documents)
    WHERE m <> '' GROUP BY m
    """,
    doc="RegexMapper.java:36 + Grep.java:59 — regex match count.",
)
def grep_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return regex_extract_count(docs, "text", "[a-z]{6,}").withColumnRenamed("match", "match")


# ---------------------------------------------------------------------------
# Descriptor-driven aggregate framework (SURVEY §2.4, entry point 3 §3)
# ---------------------------------------------------------------------------


@register(
    "agg_descriptors",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(user_id AS BIGINT)) AS BIGINT) AS uid_sum,
           ROUND(SUM(value), 2) AS val_sum,
           MAX(CAST(user_id AS BIGINT)) AS uid_max,
           MIN(CAST(user_id AS BIGINT)) AS uid_min,
           MAX(props) AS props_max,
           MIN(props) AS props_min,
           COUNT(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY event_type
    """,
    doc="ValueAggregatorJob.java:63 descriptor registry → one groupBy().agg(*exprs).",
)
def agg_descriptors(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    out = aggregate(
        events,
        ["event_type"],
        [
            ("LongValueSum", "user_id", "uid_sum"),
            ("DoubleValueSum", "value", "val_sum"),
            ("LongValueMax", "user_id", "uid_max"),
            ("LongValueMin", "user_id", "uid_min"),
            ("StringValueMax", "props", "props_max"),
            ("StringValueMin", "props", "props_min"),
            ("UniqValueCount", "user_id", "uniq_users"),
        ],
    )
    return out.withColumn("val_sum", F.round("val_sum", 2))


# ---------------------------------------------------------------------------
# Pivot / cube / numeric-estimation / UDF-contract queries
# ---------------------------------------------------------------------------


@register(
    "pivot_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot — net-new surface (conditional-agg idiom in the reference).",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@register(
    "cube_agg",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets — free in Spark, absent in reference (SURVEY §2.4).",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n",
            "sum_price",
        )
    )


@register(
    "monte_carlo_pi",
    oracle="""
    WITH pts AS (
      SELECT (id * 0.6180339887498949) - FLOOR(id * 0.6180339887498949) AS x,
             (id * 0.7548776662466927) - FLOOR(id * 0.7548776662466927) AS y
      FROM range(100000) t(id)
    )
    SELECT COUNT(*) AS n_points,
           ROUND(4.0 * AVG(CASE WHEN x * x + y * y <= 1.0 THEN 1.0 ELSE 0.0 END), 6) AS pi_est
    FROM pts
    """,
    doc="QuasiMonteCarlo parity (examples/QuasiMonteCarlo.java): low-discrepancy "
    "point generation + partial-sum reduce; deterministic, no RNG.",
)
def monte_carlo_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = spark.range(100_000).select(
        (F.col("id") * 0.6180339887498949 - F.floor(F.col("id") * 0.6180339887498949)).alias("x"),
        (F.col("id") * 0.7548776662466927 - F.floor(F.col("id") * 0.7548776662466927)).alias("y"),
    )
    inside = F.when(F.col("x") * F.col("x") + F.col("y") * F.col("y") <= 1.0, 1.0).otherwise(0.0)
    return pts.agg(
        F.count("*").alias("n_points"), F.round(4.0 * F.avg(inside), 6).alias("pi_est")
    )


@register(
    "sorted_group_apply",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
      FROM orders
    )
    SELECT o_custkey, MAX(n_orders) AS n_orders,
           string_agg(CASE WHEN rn <= 3 THEN CAST(o_orderkey AS VARCHAR) END, ',' ORDER BY rn) AS first3,
           MAX(CASE WHEN rn = n_orders THEN ROUND(o_totalprice, 2) END) AS last_price
    FROM ranked GROUP BY o_custkey
    """,
    doc="The sorted-values-per-group reduce contract (SecondarySort.java:51, "
    "ReduceContextImpl.java:131): repartition+sortWithinPartitions+applyInPandas; "
    "the pandas fn RELIES on group rows arriving ordered (SURVEY §4.2).",
)
def sorted_group_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from hadoop_fcfs_spark.ops.sort import grouped_sorted_apply

    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # contract: rows arrive ordered by (o_orderdate, o_orderkey)
        return pd.DataFrame(
            {
                "o_custkey": [pdf["o_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "first3": [",".join(str(k) for k in pdf["o_orderkey"].head(3))],
                "last_price": [round(float(pdf["o_totalprice"].iloc[-1]), 2)],
            }
        )

    return grouped_sorted_apply(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        per_group,
        "o_custkey long, n_orders long, first3 string, last_price double",
    )


@register(
    "keyfield_sort",
    oracle="""
    WITH lines AS (
      SELECT c_mktsegment || ' ' || CAST(c_custkey AS VARCHAR) || ' ' ||
             CAST(CAST(FLOOR(c_acctbal) AS BIGINT) AS VARCHAR) AS line
      FROM customer
    )
    SELECT line,
           CAST(ROW_NUMBER() OVER (ORDER BY CAST(string_split(line, ' ')[3] AS DOUBLE) DESC,
                                       string_split(line, ' ')[1],
                                       CAST(string_split(line, ' ')[2] AS DOUBLE)) AS INT) AS rank
    FROM lines
    """,
    doc='KeyFieldBasedComparator (.../partition/KeyFieldBasedComparator.java:53): '
    'Unix sort -k3nr -k1 -k2n over separator-split fields, compiled to expression sort keys.',
)
def keyfield_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sort import key_field_sort_keys, ranked_total_order

    customer = t(spark, sf_dir, "customer")
    lines = customer.select(
        F.concat_ws(
            " ",
            "c_mktsegment",
            F.col("c_custkey").cast("string"),
            F.floor("c_acctbal").cast("long").cast("string"),
        ).alias("line")
    )
    keys = key_field_sort_keys("line", [(2, True, True), (0, False, False), (1, True, False)])
    # ranked_total_order, NOT row_number over an unpartitioned window:
    # the latter funnels the whole table through one WindowExec task.
    return ranked_total_order(lines, keys, rank_col="rank").select("line", "rank")


@register(
    "asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT MAX(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts) AS ts_asof
    FROM events p WHERE p.event_type = 'purchase'
    """,
    doc="As-of join (declared surface beyond reference): each purchase matched to "
    "the user's most recent click at-or-before it; union+window formulation, "
    "one shuffle, no per-row subquery.",
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.joins import as_of_join

    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = as_of_join(purchases, clicks, "user_id", "ts", "click_ts", ["click_ts"])
    return out.select("event_id", "user_id", "ts", F.col("click_ts_asof").alias("ts_asof"))


@register(
    "range_join",
    oracle="""
    WITH buckets(lo, hi, label) AS (VALUES (0, 10, 'low'), (10, 25, 'mid'), (25, 100, 'high'))
    SELECT label, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
    GROUP BY label
    """,
    doc="Range/theta join: fact rows matched to [lo,hi) buckets via broadcast "
    "nested-loop — the small-dim range-join strategy.",
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.joins import range_join

    li = t(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        [(0, 10, "low"), (10, 25, "mid"), (25, 100, "high")], "lo int, hi int, label string"
    )
    return range_join(li, buckets, "l_quantity").groupBy("label").agg(
        F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("sum_price")
    )


@register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority,
           CAST(ROW_NUMBER() OVER (ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, l_orderkey) AS INT) AS rank
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="TPC-H Q3-shaped: selective filters pushed to 3 scans, join, agg, "
    "top-k by revenue (rank pinned by rounded revenue + key).",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-03-15")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    # customer scales with the data — no forced broadcast; Catalyst/AQE
    # auto-broadcasts the filtered segment below threshold, SMJ beyond.
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.select(
        "l_orderkey",
        "revenue",
        # parquet stores NTZ; emit LTZ (UTC session) like the other queries
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
        F.row_number().over(w).alias("rank"),
    )


@register(
    "large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c_custkey, c_name, o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
           ROUND(q.sum_qty, 2) AS sum_qty
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY l_orderkey) q
      ON o_orderkey = q.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18-shaped: HAVING subquery (semi-join on aggregated keys) + "
    "multi-join enrichment.",
)
def large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    qty = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("__sq"))
    big = qty.filter(F.col("__sq") > 150)
    out = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("__sq", 2).alias("sum_qty"),
        )
    )
    return out


@register(
    "bbp_pi",
    oracle="""
    SELECT ROUND(SUM((1.0 / POWER(16.0, k)) * (
             4.0 / (8 * k + 1) - 2.0 / (8 * k + 4)
             - 1.0 / (8 * k + 5) - 1.0 / (8 * k + 6))), 10) AS pi_est,
           COUNT(*) AS n_terms
    FROM range(30) t(k)
    """,
    doc="BaileyBorweinPlouffe parity (examples/BaileyBorweinPlouffe.java, "
    "pi/DistSum): distributed series partial sums, one reduce.",
)
def bbp_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("id").cast("double")
    term = (1.0 / F.pow(F.lit(16.0), k)) * (
        4.0 / (8 * k + 1) - 2.0 / (8 * k + 4) - 1.0 / (8 * k + 5) - 1.0 / (8 * k + 6)
    )
    return spark.range(30).agg(
        F.round(F.sum(term), 10).alias("pi_est"), F.count("*").alias("n_terms")
    )


@register(
    "nqueens",
    oracle="SELECT CAST(92 AS BIGINT) AS n_solutions",
    doc="DistributedPentomino/Sudoku parity (examples/dancing/): brute-force "
    "search fan-out — one subproblem per first-row placement via mapInPandas, "
    "counts reduced; oracle = the known N=8 solution count.",
)
def nqueens(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    n = 8

    def solve(batches):
        def count_from(cols: list[int]) -> int:
            row = len(cols)
            if row == n:
                return 1
            total = 0
            for c in range(n):
                if all(c != pc and abs(c - pc) != row - pr for pr, pc in enumerate(cols)):
                    total += count_from(cols + [c])
            return total

        for pdf in batches:
            out = [
                {"first_col": int(c), "n_solutions": count_from([int(c)])}
                for c in pdf["id"]
            ]
            yield pd.DataFrame(out, columns=["first_col", "n_solutions"])

    subproblems = spark.range(n).repartition(n)  # one task per first-row placement
    counts = subproblems.mapInPandas(solve, schema="first_col int, n_solutions long")
    return counts.agg(F.sum("n_solutions").alias("n_solutions"))


@register(
    "grep_top",
    oracle="""
    WITH counts AS (
      SELECT m AS match, COUNT(*) AS cnt
      FROM (SELECT UNNEST(regexp_extract_all(text, '[a-z]{6,}')) AS m FROM documents)
      WHERE m <> '' GROUP BY m
    )
    SELECT match, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, match) AS INT) AS rank
    FROM counts ORDER BY cnt DESC, match LIMIT 20
    """,
    doc="The full Grep example pipeline (Grep.java:59-88): regex count THEN "
    "the second sort-desc job — rank column makes the order checkable.",
)
def grep_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.textops import grep

    docs = t(spark, sf_dir, "documents")
    top = grep(docs, "text", "[a-z]{6,}").limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("match"))
    return top.select("match", "cnt", F.row_number().over(w).alias("rank"))


@register(
    "side_data_lookup",
    oracle="""
    SELECT event_type,
           CASE event_type WHEN 'purchase' THEN 10 WHEN 'signup' THEN 5
                           WHEN 'click' THEN 1 ELSE 0 END AS weight,
           CAST(SUM(CASE event_type WHEN 'purchase' THEN 10 WHEN 'signup' THEN 5
                           WHEN 'click' THEN 1 ELSE 0 END) AS BIGINT) AS weighted_events
    FROM events GROUP BY event_type
    """,
    doc="DistributedCache side-data surface (Job.java:1079-1104): driver-side "
    "dict shipped as a map literal, probed per row JVM-side.",
)
def side_data_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.udf.pandas_ops import broadcast_lookup

    events = t(spark, sf_dir, "events")
    weights = {"purchase": 10, "signup": 5, "click": 1}
    enriched = broadcast_lookup(events, weights, "event_type", "weight", default=0)
    return enriched.groupBy("event_type").agg(
        F.max("weight").alias("weight"),
        F.sum("weight").cast("long").alias("weighted_events"),
    )


@register(
    "terasort_validate",
    # The verdict row is fully deterministic: generation is a fixed
    # xxhash64 spec, so a correct sort ALWAYS yields exactly this row —
    # any dropped/duplicated/misordered record changes a value and fails
    # the hash. This literal oracle upgrades the gate from rows-only to
    # value-checked without asking DuckDB to replay the engine-side sort.
    oracle="""
    SELECT CAST(100000 AS BIGINT) AS n_records,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS boundary_violations,
           TRUE AS content_preserved
    """,
    doc="TeraGen -> TeraSort -> TeraValidate (examples/terasort/TestTeraSort.java:52-96): "
    "100k records generated, globally sorted, order + boundary + crc32 content "
    "checksum validated distributively; returns the validation verdict row "
    "(violation counts + checksum preservation), oracled against the literal "
    "all-clear row.",
)
def terasort_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.bench.tera import teragen, terasort, teravalidate

    data = teragen(spark, 100_000)
    before = teravalidate(data)["checksum"]  # order-free: unsorted input is fine
    report = teravalidate(terasort(data))
    preserved = report["checksum"] == before
    return spark.createDataFrame(
        [(report["rows"], report["order_violations"], report["boundary_violations"], preserved)],
        "n_records long, order_violations long, boundary_violations long, content_preserved boolean",
    )


@register(
    "grouped_topk",
    oracle="""
    SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 2) AS acctbal,
           CAST(rk AS INT) AS rank
    FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rk
          FROM customer)
    WHERE rk <= 3
    """,
    doc="Per-group top-k via partitioned window (the scale-safe form when "
    "k × groups exceeds the driver: global TakeOrdered merges k×partitions "
    "rows on the driver, a per-group Window keeps everything distributed — "
    "SCALING.md pressure table, 'driver top-k merge' row).",
)
def grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        customer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            "rank",
        )
    )


@register(
    "order_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped: correlated EXISTS (two correlated columns) through "
    "the SQL entry point — Catalyst decorrelates to a left-semi join; the MR "
    "equivalent is the reduce-side tagged-join idiom (DataJoinReducerBase).",
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shaped: 6-table join with a cross-dimension equality "
    "(supplier nation == customer nation). Fact-to-fact join shuffles on "
    "orderkey; all dims broadcast.",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    # ASIA nations, their suppliers and customers — all broadcast-size.
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    # supplier and customer scale linearly — joins left to Catalyst/AQE
    # (auto-broadcast at test SFs, shuffle join at cluster scale); only
    # the fixed-size nation/region dims carry explicit hints.
    supplier = t(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    customer = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)  # the one big shuffle
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "returned_items_topk",
    oracle="""
    WITH agg AS (
      SELECT c_custkey, c_name, n_name,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON n_nationkey = c_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
    )
    SELECT c_custkey, c_name, n_name, revenue,
           CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS INT) AS rank
    FROM agg ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10-shaped: returned-item revenue per customer, top 20. Rank "
    "computed over the ROUNDED revenue so cross-engine ulp noise can't reorder "
    "near-ties; top-k is TakeOrderedAndProject, not a global sort.",
)
def returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    cust = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_name", "n_name")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))  # Catalyst/AQE picks strategy
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    top = agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return top.select(
        "c_custkey", "c_name", "n_name", "revenue", F.row_number().over(w).alias("rank")
    )


@register(
    "supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_size < 30
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    """,
    doc="TPC-H Q16-shaped: NOT IN subquery (null-safe anti join) + "
    "count-distinct over the surviving fact rows.",
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_size") < 30)
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    # supplier/part scale linearly — strategy left to Catalyst/AQE
    # (auto-broadcast anti join at test SFs, shuffle beyond threshold)
    kept = li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti").join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    return kept.groupBy("p_brand", "p_type").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@register(
    "inactive_rich_customers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22-shaped: uncorrelated scalar subquery threshold + NOT "
    "EXISTS anti join (year-windowed so the predicate is non-vacuous on "
    "the synthetic data — every customer has SOME order), through the "
    "SQL entry point.",
)
def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1996-01-01'
                            AND o_orderdate < TIMESTAMP '1997-01-01')
        GROUP BY c_mktsegment
        """
    )


@register(
    "nation_value_share",
    oracle="""
    SELECT s_nationkey, ROUND(SUM(s_acctbal), 2) AS nation_value
    FROM supplier
    GROUP BY s_nationkey
    HAVING SUM(s_acctbal) > (SELECT SUM(s_acctbal) * 0.05 FROM supplier)
    """,
    doc="TPC-H Q11-shaped: HAVING against an uncorrelated scalar subquery "
    "(group value vs fraction of the global total) through the SQL entry "
    "point — one pass for groups, one scalar reduction, no per-group "
    "rescan.",
)
def nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT s_nationkey, ROUND(SUM(s_acctbal), 2) AS nation_value
        FROM supplier
        GROUP BY s_nationkey
        HAVING SUM(s_acctbal) > (SELECT SUM(s_acctbal) * 0.05 FROM supplier)
        """
    )


@register(
    "promo_revenue_ratio",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
    doc="TPC-H Q14-shaped: conditional-aggregate ratio (promo revenue "
    "share) over a month of shipments — single join, single agg, no "
    "second scan for the denominator.",
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "disjunctive_filter_revenue",
    oracle="""
    SELECT COUNT(*) AS n_items, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    doc="TPC-H Q19-shaped: disjunction of conjunctive predicate branches "
    "across both join sides — Catalyst extracts the common join key and "
    "pushes the per-table residuals (brand/size to the part scan) while "
    "the reference would hand-code the OR ladder inside map().",
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#34") & sz.between(1, 35) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


@register(
    "small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly, COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'ECONOMY'
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17-shaped correlated scalar subquery, expressed through the "
    "SQL entry point — Catalyst decorrelates it into the per-key aggregate + "
    "join a hand-written plan would use.",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly, COUNT(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'ECONOMY'
          AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped round-2 additions (Q6/Q7/Q8/Q9/Q12/Q13/Q15/Q21 forms,
# reshaped onto the driver tables: no partsupp / receiptdate / shipmode /
# comment columns, so the missing predicates become date-arithmetic or
# priority twists with the same plan shapes).
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE year(l_shipdate) = 1996
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped: pure scan-filter-aggregate revenue forecast; the "
    "no-join fully-pushed-down baseline (filters reach the parquet scan).",
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7-shaped: bidirectional two-nation trade volume by ship "
    "year — 5-way join with a disjunctive cross-nation predicate; both "
    "nation dims broadcast.",
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "national_market_share",
    oracle="""
    WITH all_nations AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           ROUND(100.0 * SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
                 / SUM(volume), 4) + 0.0 AS mkt_share_pct,
           COUNT(*) AS n_lines
    FROM all_nations GROUP BY o_year
    """,
    doc="TPC-H Q8-shaped: one nation's supplier market share within a "
    "region's customer volume, by order year — conditional-sum ratio over "
    "a 6-way join (dims broadcast, single agg pass).",
)
def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    share = F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(0.0)) / F.sum(vol)
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        (F.round(100.0 * share, 4) + 0.0).alias("mkt_share_pct"),
        F.count("*").alias("n_lines"),
    )


@register(
    "product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS profit
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part     ON p_partkey = l_partkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9-shaped: per supplier-nation per year profit on parts "
    "matching a name pattern (no partsupp cost column in the driver "
    "tables, so profit = discounted revenue; identical join/agg shape).",
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("profit")
    )


@register(
    "late_lines_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND year(l_shipdate) = 1997
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12-shaped: late-shipment lines (shipped > 60 days after "
    "order) split into high/low order priority per line status — join + "
    "dual conditional count (no shipmode/receiptdate columns; lateness is "
    "date arithmetic against the order date).",
)
def late_lines_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY"))
        & (F.year("l_shipdate") == 1997)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


@register(
    "customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
    doc="TPC-H Q13-shaped: distribution of non-urgent order counts per "
    "customer — left outer join with the filter INSIDE the join condition "
    "(customers with zero qualifying orders stay, in the 0 bucket), then a "
    "second aggregation over the counts.",
)
def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15-shaped: the top-revenue supplier(s) for a quarter — "
    "derived revenue view joined back against its own scalar MAX "
    "(equality on the 2dp-rounded value, deterministic cross-engine).",
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    sup = t(spark, sf_dir, "supplier")
    return (
        sup.join(revenue, sup.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
    doc="TPC-H Q21-shaped: suppliers who were the SOLE late shipper on "
    "finalized multi-supplier orders (late = shipped > 60 days after the "
    "order date — no receipt/commit dates in the driver tables). "
    "EXISTS + correlated NOT EXISTS decorrelated into semi/anti joins on "
    "per-order supplier lateness aggregates.",
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    sup = t(spark, sf_dir, "supplier")
    l1 = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY")
    )
    # EXISTS(other supplier in order) ⇔ n_supp ≥ 2;
    # NOT EXISTS(other LATE supplier) ⇔ n_late_supp = 1 (only me).
    # Per-order distinct-supplier aggregates instead of inequality
    # semi/anti joins against full lineitem — one scan each, and the
    # join keys stay equi (no post-filter theta condition) at any scale.
    ord_supp = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp")
    )
    late_supp = l1.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_late")
    )
    sole_late = (
        l1.join(ord_supp, "l_orderkey")
        .join(late_supp, "l_orderkey")
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
    )
    return (
        sole_late.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "min_acctbal_supplier",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS s_acctbal, n_name
    FROM supplier s
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
                       WHERE s2.s_nationkey = s.s_nationkey)
    """,
    doc="TPC-H Q2-shaped: per-group correlated scalar MIN subquery (the "
    "min-cost-supplier plan shape; acctbal stands in for the absent "
    "partsupp supplycost) — decorrelated into a per-nation MIN aggregate "
    "equi-joined back, dims broadcast.",
)
def min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    mins = sup.groupBy(F.col("s_nationkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        sup.join(F.broadcast(mins), (F.col("s_nationkey") == F.col("mk"))
                 & (F.col("s_acctbal") == F.col("min_bal")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select(
            "s_suppkey", "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"), "n_name",
        )
    )


@register(
    "excess_volume_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%red%'
        GROUP BY l_suppkey HAVING SUM(l_quantity) > 50)
    """,
    doc="TPC-H Q20-shaped: nested IN-subquery chain — suppliers from a "
    "nation set who shipped more than a volume threshold of pattern-"
    "matched parts (availqty has no driver column, so shipped quantity "
    "stands in). IN decorrelates to a semi join on the HAVING aggregate.",
)
def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        sup.join(heavy, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Two-stage salted aggregation (ops/skew.py salted_agg; reference "
    "analog RehashPartitioner.java:35 + manual key salting): a hot group "
    "key is spread over 16 (key, salt) partials then merged per key. "
    "Salting is result-invariant for algebraic aggregates, so the oracle "
    "is the plain GROUP BY — the gate proves the skew-safe plan computes "
    "identical values. l_returnflag has only 3 values at any SF: the "
    "degenerate-cardinality case where salting is the difference between "
    "3 tasks and 48.",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.skew import salted_agg

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice")
    out = salted_agg(
        li,
        ["l_returnflag"],
        partial_aggs=[
            (F.count("*").cast("long"), "cnt"),
            (F.sum("l_quantity"), "sum_qty"),
            (F.max("l_extendedprice"), "max_price"),
        ],
        merge_aggs=[("sum", "cnt"), ("sum", "sum_qty"), ("max", "max_price")],
        salt_n=16,
    )
    return out.select(
        "l_returnflag",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    ) WHERE rk = 1
    """,
    doc="Log-compaction / CDC-upsert idiom (ops/sort.py latest_by_key; the "
    "reference shape is a secondary-sorted reduce emitting the first value "
    "per group, examples/SecondarySort.java:51): single winning record per "
    "user by (ts, event_id) recency. rank=1 compiles to WindowGroupLimit — "
    "O(1) state per group, no full group sort.",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sort import latest_by_key

    ev = t(spark, sf_dir, "events")
    return latest_by_key(
        ev, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    ).select("user_id", "event_id", "event_type")


@register(
    "data_validation",
    oracle="""
    SELECT 'quantity_out_of_range' AS rule,
           CAST(COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS violations
    FROM lineitem
    UNION ALL
    SELECT 'nonpositive_price',
           CAST(COUNT(*) FILTER (l_extendedprice <= 0) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'null_shipdate',
           CAST(COUNT(*) FILTER (l_shipdate IS NULL) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)',
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'fk(l_orderkey->o_orderkey)',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
    doc="Declarative data-quality gate (ops/validate.py; reference analog: "
    "counter-based record validation, SortValidator.java:54 RECORD_CHECKER): "
    "range/positivity/null rules fused into ONE scan+agg, a uniqueness "
    "expectation (n_rows - n_distinct), and a referential check as a "
    "left-anti join. The synthetic lineitem's duplicated "
    "(l_orderkey,l_linenumber) keys make the uniqueness rule a live "
    "nonzero signal, not a vacuous zero.",
)
def data_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.validate import (
        check_foreign_key,
        check_rows,
        check_unique,
        validation_report,
    )

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    rows = check_rows(
        li,
        {
            "quantity_out_of_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
            "nonpositive_price": F.col("l_extendedprice") <= 0,
            "null_shipdate": F.col("l_shipdate").isNull(),
        },
    )
    uniq = check_unique(li, ["l_orderkey", "l_linenumber"])
    fk = check_foreign_key(li, "l_orderkey", orders, "o_orderkey")
    return validation_report(rows, uniq, fk)


@register(
    "skew_salted_join",
    oracle="""
    WITH dim AS (SELECT event_type, AVG(value) AS type_avg
                 FROM events GROUP BY event_type)
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(ABS(e.value - d.type_avg)), 2) + 0.0 AS abs_dev_sum
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Skew-safe salted equi-join (ops/skew.py salted_join): the big side "
    "salts per row, the 5-row dim side replicates x16, the join key becomes "
    "(event_type, salt) — a hot key spreads over 16 tasks. Salting is "
    "result-invariant, so the oracle is the PLAIN join; the gate proves the "
    "skew plan computes identical values. This is the manual tier under AQE "
    "skew-join, for skew AQE can't see (introduced mid-query) or small "
    "sides just over the broadcast threshold.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.skew import salted_join

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    joined = salted_join(ev, dim, ["event_type"], salt_n=16)
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("cnt"),
        (F.round(F.sum(F.abs(F.col("value") - F.col("type_avg"))), 2) + 0.0).alias("abs_dev_sum"),
    )


@register(
    "event_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT stage, users FROM (
      SELECT 1 AS ord, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM s1
      UNION ALL
      SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    )
    """,
    doc="Ordered-sequence funnel (view -> click -> purchase, strict ts "
    "order per user): each stage is a user-co-partitioned join + min — "
    "the shuffles all hash on user_id, so Catalyst reuses one exchange "
    "per side and the sequential dependency never materializes a "
    "per-user event list. The marquee product-analytics query shape.",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count("*").cast("long").alias("users")).select(F.lit("view").alias("stage"), "users")
        .unionByName(s2.agg(F.count("*").cast("long").alias("users")).select(F.lit("view>click").alias("stage"), "users"))
        .unionByName(s3.agg(F.count("*").cast("long").alias("users")).select(F.lit("view>click>purchase").alias("stage"), "users"))
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events
      GROUP BY user_id
    )
    SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
           CAST(CAST(e.ts AS DATE) - f.cohort_day AS BIGINT) AS offset_day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts f USING (user_id)
    WHERE CAST(e.ts AS DATE) - f.cohort_day BETWEEN 0 AND 7
    GROUP BY 1, offset_day
    """,
    doc="Cohort retention matrix: users bucketed by first-seen day, "
    "activity counted per day-offset 0..7. One user-grain aggregation "
    "joined back on user_id (co-located shuffle), then a (cohort, "
    "offset) count-distinct — output is cohorts x offsets, never "
    "event-shaped. The standard growth-analytics rollup.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    return (
        ev.join(firsts, "user_id")
        .withColumn("offset_day", F.datediff(F.to_date("ts"), F.col("cohort_day")).cast("long"))
        .filter(F.col("offset_day").between(0, 7))
        .groupBy(F.col("cohort_day").cast("string").alias("cohort_day"), F.col("offset_day"))
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


def _pagerank_oracle(iterations: int) -> str:
    """Unrolled power-iteration CTE chain WITH the dangling-mass
    redistribution term: d{k} = Σ rank over nodes with no out-edges,
    teleported uniformly (mirrors ops.graph.pagerank dangling=
    'redistribute'). The nation trade graph has no danglers at the test
    SFs (every nation buys), so the term is 0 there — but the oracle
    computes it generally, keeping the gate honest if the data changes."""
    cte = [
        """    WITH
    edges AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(l_extendedprice * (1 - l_discount)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
    nw AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS wn FROM edges),
    r0 AS (SELECT n, 1.0 / nn.cnt AS r FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        cte.append(f"""    d{k} AS (
      SELECT COALESCE(SUM(r), 0) AS dm FROM r{p}
      WHERE n NOT IN (SELECT DISTINCT src FROM edges)
    ),
    r{k} AS (
      SELECT nd.n,
             0.15 / nn.cnt
               + 0.85 * (COALESCE(SUM(p.r * nw.wn), 0) + d{k}.dm / nn.cnt) AS r
      FROM nodes nd CROSS JOIN nn CROSS JOIN d{k}
      LEFT JOIN nw ON nw.dst = nd.n
      LEFT JOIN r{p} p ON p.n = nw.src
      GROUP BY nd.n, nn.cnt, d{k}.dm
    )""")
    return (
        ",\n".join(cte)
        + f"\n    SELECT n AS node, CAST(FLOOR(r * 1000000) AS BIGINT) AS rank_e6 FROM r{iterations}\n    "
    )


@register(
    "pagerank_nations",
    oracle=_pagerank_oracle(5),
    doc="Weighted PageRank (ops.graph.pagerank, dangling='redistribute'), "
    "5 power iterations over the nation-level trade graph (customer "
    "nation -> supplier nation, revenue-weighted edges aggregated from "
    "lineitem). Each iteration is two co-partitioned joins + a sum + one "
    "scalar dangling-mass aggregate; rank state is node-shaped, never "
    "edge-shaped; lineage truncated via localCheckpoint. Oracle unrolls "
    "the 5 iterations (with the dangling term) as CTEs; ranks floored to "
    "micros.",
)
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import pagerank

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("w"))
    )
    pr = pagerank(edges, "src", "dst", weight="w", iterations=5, dangling="redistribute")
    return pr.select(
        F.col("node"), F.floor(F.col("rank") * 1_000_000).cast("long").alias("rank_e6")
    )


@register(
    "scd2_user_status",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type AS status, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    ch AS (SELECT user_id, status, ts, event_id
           FROM flagged WHERE prev IS NULL OR status <> prev)
    SELECT user_id, status, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM ch
    """,
    doc="SCD Type-2 dimension build (ops.cdc.scd2_from_changes): collapse "
    "no-op updates per key, stitch validity intervals with lead() — two "
    "key-partitioned windows, per-key bounded state. The historical twin "
    "of latest_event_per_user (Type 1); pairs with as_of_join for "
    "what-was-it-at-time-T lookups.",
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.cdc import scd2_from_changes

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("event_type").alias("status"), "ts", "event_id"
    )
    return scd2_from_changes(ev, "user_id", "ts", "status", tiebreak="event_id")


@register(
    "merge_upsert_customers",
    oracle="""
    WITH latest AS (
      SELECT o_custkey, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ),
    ch AS (
      SELECT o_custkey AS c_custkey,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice
      FROM latest WHERE rn = 1
    )
    SELECT c_custkey,
           ROUND(CASE WHEN ch.op = 'U' THEN ch.o_totalprice
                      ELSE c.c_acctbal END, 2) AS acctbal
    FROM customer c FULL OUTER JOIN ch USING (c_custkey)
    WHERE ch.op IS NULL OR ch.op = 'U'
    """,
    doc="MERGE INTO semantics (ops.cdc.apply_changeset): a changeset "
    "derived from each customer's latest order (finished -> delete the "
    "row, open/pending -> upsert the balance to that order's total) "
    "applied to the customer snapshot in ONE co-partitioned full-outer "
    "join — the Delta/Iceberg MERGE shape on plain DataFrames. Bucket "
    "both sides by the key at table scale for a shuffle-free merge.",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.cdc import apply_changeset

    snap = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    changes = (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
            F.col("o_totalprice").alias("c_acctbal"),
        )
    )
    merged = apply_changeset(snap, changes, "c_custkey")
    return merged.select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))


@register(
    "set_ops_bag",
    oracle="""
    SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    UNION ALL
    SELECT 'except_all', CAST(COUNT(*) AS BIGINT) FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
    doc="Bag-semantics set operators (intersectAll / exceptAll): duplicate "
    "multiplicities follow SQL ALL rules — min(m, n) for intersect, "
    "max(m - n, 0) for except — distinct from the DISTINCT-semantics "
    "set_intersect/set_except gates. Compiles to count-per-key aggregation "
    "+ generate, no pairwise join.",
)
def set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    ia = a.intersectAll(b).agg(F.count("*").cast("long").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    ea = a.exceptAll(b).agg(F.count("*").cast("long").alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    return ia.unionByName(ea)


@register(
    "grouping_sets_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS with grouping_id disambiguation (the "
    "general form under cube/rollup, already gated): three aggregation "
    "grains in one Expand pass; gid distinguishes a NULL group value "
    "from a rolled-up level.",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


@register(
    "bfs_trade_reach",
    oracle="""
    WITH e0 AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    top2 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM e0) WHERE rn <= 2
    ),
    l0 AS (SELECT 'NATION_0' AS node),
    l1 AS (
      SELECT DISTINCT dst AS node FROM top2 JOIN l0 ON top2.src = l0.node
      WHERE dst NOT IN (SELECT node FROM l0)
    ),
    l2 AS (
      SELECT DISTINCT dst AS node FROM top2 JOIN l1 ON top2.src = l1.node
      WHERE dst NOT IN (SELECT node FROM l0 UNION SELECT node FROM l1)
    ),
    l3 AS (
      SELECT DISTINCT dst AS node FROM top2 JOIN l2 ON top2.src = l2.node
      WHERE dst NOT IN (SELECT node FROM l0 UNION SELECT node FROM l1
                        UNION SELECT node FROM l2)
    )
    SELECT node, CAST(0 AS INT) AS hops FROM l0
    UNION ALL SELECT node, 1 FROM l1
    UNION ALL SELECT node, 2 FROM l2
    UNION ALL SELECT node, 3 FROM l3
    """,
    doc="Multi-source BFS (ops.graph.bfs_levels) over the sparsified "
    "trade graph: each customer nation keeps its top-2 supplier nations "
    "by integer-cent revenue (per-row floor-to-cents then exact BIGINT "
    "sum - no FP accumulation-order nondeterminism in the rank), then "
    "min hop distance from NATION_0 bounded at 3. Frontier-based level-"
    "synchronous BFS: node-shaped state, each node joins once across "
    "the whole run; oracle unrolls the 3 levels as CTEs.",
)
def bfs_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import bfs_levels

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    w2 = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    top2 = (
        edges.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= 2)
        .select("src", "dst")
    )
    return bfs_levels(top2, ["NATION_0"], max_hops=3).select(
        "node", F.col("hops").cast("int").alias("hops")
    )


@register(
    "sssp_trade_cost",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    ew AS MATERIALIZED (
      SELECT src, dst, 1 + 100000000000000 // w AS c FROM e0
    ),
    d0 AS MATERIALIZED (SELECT 'NATION_0' AS node, CAST(0 AS BIGINT) AS dist),
    d1 AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT ew.dst AS node, d0.dist + ew.c AS dist
        FROM d0 JOIN ew ON ew.src = d0.node
      ) GROUP BY 1
    ),
    d2 AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT ew.dst AS node, d1.dist + ew.c AS dist
        FROM d1 JOIN ew ON ew.src = d1.node
      ) GROUP BY 1
    ),
    d3 AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT ew.dst AS node, d2.dist + ew.c AS dist
        FROM d2 JOIN ew ON ew.src = d2.node
      ) GROUP BY 1
    )
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
    """,
    doc="Weighted single-source shortest paths (ops.graph.sssp, "
    "bounded Bellman-Ford) over the nation trade graph with inverse-"
    "volume routing costs: edge cost = 1 + 10^14 div trade_cents "
    "(heavily-trading pairs are cheap; integer div matches DuckDB // "
    "exactly, BFS-gate precedent for the exact-cents edge weights), "
    "source NATION_0, 3 relaxation rounds. Min-merge is monotone, so "
    "the early-exiting Spark loop and the fixed-k unrolled oracle "
    "agree whenever k bounds convergence (the 25-node near-complete "
    "graph converges in 2). The oracle CTEs NEED AS MATERIALIZED - "
    "DuckDB inlines chained CTEs exponentially (r4 gotcha).",
)
def sssp_trade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import sssp

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
        .withColumn("c", F.lit(1).cast("long") + F.expr("100000000000000L div w"))
    )
    return sssp(edges, ["NATION_0"], weight="c", max_iters=3).select(
        "node", F.col("dist").cast("long").alias("dist")
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    nw AS (
      SELECT o_orderkey, o_orderstatus,
             ROUND(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN o_totalprice * 2 ELSE o_totalprice END, 2) AS price
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'U'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           n.o_orderstatus, n.price
    FROM old o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
          OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
          OR o.price IS DISTINCT FROM n.price
    """,
    doc="Table diff (ops.cdc.snapshot_diff): the minimal upsert/delete "
    "changeset between two snapshot windows of orders (overlap window "
    "with urgent-order price doubling -> updates; trailing window -> "
    "deletes; leading window -> inserts; x2 is FP-exact so ROUND can't "
    "straddle a half-cent boundary differently per engine). One co-partitioned full-outer "
    "join with null-safe column comparison; inverse of apply_changeset "
    "(round-trip property-tested). The data-regression check between "
    "daily builds.",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.cdc import snapshot_diff

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    new = orders.filter(F.col("o_orderdate") >= "1995-01-01").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(
            F.when(
                F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("price"),
    )
    return snapshot_diff(old, new, "o_orderkey")


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, SUM(n) AS t FROM pairs GROUP BY 1)
    SELECT p.event_type, p.next_type, p.n,
           CAST(FLOOR(p.n * 1000000 / t.t) AS BIGINT) AS prob_e6
    FROM pairs p JOIN tot t USING (event_type)
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next type | current type) from LEAD over "
    "(user, ts, event_id) — user-partitioned window (bounded per-key "
    "state), pair counts map-side combined, row-count totals joined "
    "back. The path-analysis building block (funnel generalized to all "
    "transitions); micro-probabilities as FLOOR(n*1e6 / total) — the "
    "operands are exact in float64 and IEEE division is correctly "
    "rounded, so both engines floor the same value.",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = pairs.groupBy("event_type").agg(F.sum("n").alias("__t"))
    return pairs.join(tot, "event_type").select(
        "event_type",
        "next_type",
        "n",
        F.floor(F.col("n") * 1_000_000 / F.col("__t")).cast("long").alias("prob_e6"),
    )


@register(
    "trade_triangles",
    oracle="""
    WITH e0 AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    top3 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM e0) WHERE rn <= 3
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM top3
    ),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM und e1 JOIN und e2 ON e2.u = e1.v
      WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.u AND e3.v = e2.v)
    )
    SELECT node, COUNT(*) AS n_triangles FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y AS node FROM tri
      UNION ALL SELECT z AS node FROM tri
    ) GROUP BY node
    """,
    doc="Per-node triangle counts (ops.graph.triangle_count, degree-"
    "oriented wedge-close — Cohen's 'Graph Twiddling in a MapReduce "
    "World' kernel) over the sparsified nation trade graph: each "
    "customer nation keeps its top-3 supplier nations by integer-cent "
    "traded value (deterministic rank), edges undirected. The oracle "
    "closes wedges with the naive id orientation — same triangle set, "
    "independent orientation, so the gate also proves orientation "
    "invariance.",
)
def trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import triangle_count

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    w3 = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    top3 = (
        edges.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select("src", "dst")
    )
    return triangle_count(top3)


@register(
    "trade_clustering",
    oracle="""
    WITH e0 AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    top3 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM e0) WHERE rn <= 3
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM top3
    ),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM und e1 JOIN und e2 ON e2.u = e1.v
      WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.u AND e3.v = e2.v)
    ),
    tcount AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
        UNION ALL SELECT z AS node FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    )
    SELECT d.node, d.deg, COALESCE(t.n_triangles, 0) AS n_triangles,
           (2 * COALESCE(t.n_triangles, 0) * 1000000)
             // (d.deg * (d.deg - 1)) AS lcc_e6
    FROM deg d LEFT JOIN tcount t USING (node)
    WHERE d.deg >= 2
    """,
    doc="Local clustering coefficient per nation "
    "(ops.graph.clustering_coefficient) on the SAME sparsified top-3 "
    "trade graph as trade_triangles - the normalization that makes "
    "its raw counts comparable across degrees (2T/(deg(deg-1)), the "
    "small-world diagnostic; trade_degree_assortativity asks who "
    "connects to whom, this asks how cliquish each neighborhood is). "
    "Exact BIGINT degree and triangle counts (skew-safe degree-"
    "oriented wedge close), one truncating micro division, zero "
    "floats; deg<2 nodes excluded, triangle-free deg>=2 nodes report "
    "0 via LEFT join (the interesting low end).",
)
def trade_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import clustering_coefficient

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    w3 = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    top3 = (
        edges.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select("src", "dst")
    )
    return clustering_coefficient(top3)


@register(
    "modularity_regions",
    oracle="""
    WITH e0 AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    top3 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM e0) WHERE rn <= 3
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM top3
    ),
    memb AS (
      SELECT n_name AS node, r_name AS community
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    lin AS (
      SELECT ma.community AS comm, CAST(COUNT(*) AS BIGINT) AS m_in
      FROM und JOIN memb ma ON ma.node = und.u
               JOIN memb mb ON mb.node = und.v
      WHERE ma.community = mb.community
      GROUP BY 1
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY 1
    ),
    dt AS (
      SELECT m2.community AS comm, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) AS BIGINT) AS deg_tot
      FROM deg JOIN memb m2 ON m2.node = deg.node GROUP BY 1
    )
    SELECT dt.comm AS community, n_nodes, deg_tot,
           COALESCE(lin.m_in, 0) AS m_in,
           4 * mm.m * COALESCE(lin.m_in, 0) - deg_tot * deg_tot AS q4m2,
           CASE WHEN mm.m > 0 THEN
             (4 * mm.m * COALESCE(lin.m_in, 0) - deg_tot * deg_tot) * 1000000
             // (4 * mm.m * mm.m) END AS q_contrib_micro
    FROM dt LEFT JOIN lin ON lin.comm = dt.comm CROSS JOIN mm
    """,
    doc="Newman modularity of the REGION partition over the sparsified "
    "trade graph (ops.graph.partition_modularity): does top-3 trade "
    "concentrate inside geographic regions more than the degree-"
    "preserving null model predicts - the assortativity-as-modularity "
    "audit (trade_degree_assortativity asks if hubs prefer hubs; this "
    "asks if an EXTERNAL partition explains the edges), and the "
    "quality score any detected communities (lpa_communities, "
    "concept_communities) should beat before anyone trusts them. "
    "Exact per-region 4m^2-scaled contributions (BIGINT; positive = "
    "denser than chance) plus truncating micro shares - Q is a sum "
    "of integers, no float anywhere. Same edge construction as "
    "trade_triangles/trade_clustering; membership joins are "
    "broadcast node-grain.",
)
def modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import partition_modularity

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    w3 = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    top3 = (
        edges.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select("src", "dst")
    )
    memb = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    ).select(
        F.col("n_name").alias("node"), F.col("r_name").alias("community")
    )
    return partition_modularity(top3, memb)


@register(
    "prefiltered_revenue",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
    )
    GROUP BY l_returnflag
    """,
    doc="Semi-join through ops.joins.hash_prefilter_semi_join — the "
    "runtime bloom-filter pattern (SPARK-32268) written explicitly: "
    "broadcast the selective order set's 8-byte key digests, drop "
    "non-matching lineitems JVM-side before the exact semi-join's "
    "shuffle, then scrub false positives with the exact semi-join. "
    "Result is provably identical to the plain semi-join (the oracle "
    "IS the plain semi-join); integer-cent revenue keeps the hash "
    "comparison FP-exact.",
)
def prefiltered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.joins import hash_prefilter_semi_join

    li = t(spark, sf_dir, "lineitem")
    sel = (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 250000))
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    kept = hash_prefilter_semi_join(li, sel, "l_orderkey")
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return kept.groupBy("l_returnflag").agg(
        F.sum(cents).cast("long").alias("revenue_cents"),
        F.count("*").alias("n_lines"),
    )


@register(
    "copurchase_lift",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS pair_count
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    marg AS (SELECT l_partkey, COUNT(*) AS c FROM op GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM op)
    SELECT item_a, item_b, pair_count,
           ma.c AS count_a, mb.c AS count_b,
           CAST(FLOOR(CAST(n.n AS DOUBLE) * pair_count / ma.c / mb.c * 1000000) AS BIGINT)
             AS lift_e6
    FROM pairs
    JOIN marg ma ON ma.l_partkey = item_a
    JOIN marg mb ON mb.l_partkey = item_b
    CROSS JOIN n
    ORDER BY pair_count DESC, item_a, item_b LIMIT 100
    """,
    doc="Item-item co-purchase affinity (ops.affinity.basket_lift): "
    "unordered part pairs co-present in an order + lift vs "
    "independence — the Amazon-style co-purchase kernel (Lin & Dyer's "
    "stripes pattern over baskets). Spark generates pairs INSIDE each "
    "order's sorted distinct part array (one explode, no basket "
    "self-join); the oracle uses the naive self-join — same pairs, "
    "independent shapes. Top-100 by pair count, lexical ties, "
    "floor-micro lift with identical division order.",
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.affinity import basket_lift

    li = t(spark, sf_dir, "lineitem")
    out = basket_lift(li, "l_orderkey", "l_partkey")
    return (
        out.select(
            "item_a", "item_b", "pair_count", "count_a", "count_b",
            F.floor(F.col("lift") * 1_000_000).cast("long").alias("lift_e6"),
        )
        .orderBy(F.desc("pair_count"), F.asc("item_a"), F.asc("item_b"))
        .limit(100)
    )


def _kcore_oracle(rounds: int, k: int) -> str:
    """Unrolled peeling oracle: round i recomputes degrees from the
    live symmetric edge table and drops edges touching sub-k nodes.
    Peeling is monotone, so rounds past the fixpoint are no-ops — R
    just has to bound convergence (probed: ≤5 rounds at sf0.001/0.01/
    0.1 for the co-purchase graph; R=8). MATERIALIZED per the r4
    chained-CTE gotcha."""
    parts = [
        """u0 AS MATERIALIZED (
      SELECT x, y FROM e0 UNION ALL SELECT y AS x, x AS y FROM e0
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""w{i} AS MATERIALIZED (
      SELECT x AS node FROM u{i - 1} GROUP BY 1 HAVING COUNT(*) < {k}
    )"""
        )
        parts.append(
            f"""u{i} AS MATERIALIZED (
      SELECT u.x, u.y FROM u{i - 1} u
      WHERE u.x NOT IN (SELECT node FROM w{i})
        AND u.y NOT IN (SELECT node FROM w{i})
    )"""
        )
    return (
        """
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM u{rounds} GROUP BY 1
    """
    )


@register(
    "copurchase_kcore",
    oracle=_kcore_oracle(rounds=8, k=2),
    doc="2-core of the co-purchase part graph (ops.graph.kcore, "
    "Seidman's iterative peeling): parts linked when co-present in >= "
    "2 orders, repeatedly delete degree<2 nodes, report survivors "
    "with within-core degrees. Edge-shaped state, one degree "
    "aggregation + two anti-joins per round; peeling is monotone so "
    "the early-exiting Spark loop and the fixed-8-round unrolled "
    "oracle agree (probed convergence <= 5 rounds at all three SFs; "
    "survivors non-empty at each). The 8-round bound is a property of "
    "THIS GATE, not of ops.graph.kcore (max_rounds=20 early-exit): a "
    "data change needing >8 peels fails the gate while the engine "
    "stays right — an intentional tripwire. The degeneracy filter that "
    "preprocesses community detection at scale.",
)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.affinity import basket_pairs
    from hadoop_fcfs_spark.ops.graph import kcore

    li = t(spark, sf_dir, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey").filter(
        F.col("pair_count") >= 2
    )
    return kcore(edges, k=2, src="item_a", dst="item_b", max_rounds=8).select(
        F.col("node").cast("long").alias("node"), "degree"
    )


@register(
    "frequent_brand_triples",
    oracle="""
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, p_brand AS i
      FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT a.i AS item_a, bb.i AS item_b, c.i AS item_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM bi a
    JOIN bi bb ON a.b = bb.b AND a.i < bb.i
    JOIN bi c  ON a.b = c.b  AND bb.i < c.i
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= 40
    """,
    doc="Apriori frequent 3-itemsets over order baskets of part brands "
    "(ops.affinity.frequent_triples) — the classic SON/Apriori "
    "MapReduce workload. Spark prunes items below min_support FIRST "
    "(monotonicity makes the prune invisible to the answer) and "
    "generates triples inside each basket's sorted array (one explode, "
    "no basket^3 self-join); the oracle is the naive three-way "
    "self-join. Integer supports — no float risk.",
)
def frequent_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.affinity import frequent_triples

    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    baskets = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    out = frequent_triples(baskets, "l_orderkey", "p_brand", min_support=40)
    return out.select(
        "item_a", "item_b", "item_c", F.col("support").cast("long").alias("support")
    )


_TRADE_EDGES_CTE = """e0 AS (
      SELECT cn.n_name AS s, sn.n_name AS d,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    )"""


def _lpa_oracle(iterations: int, edges_cte: str = _TRADE_EDGES_CTE) -> str:
    """Unrolled synchronous-LPA CTE chain mirroring
    ops.graph.label_propagation: ``edges_cte`` must define
    e0(s, d, w) with no self-loops; the chain symmetrizes it, then per
    iteration: vote sums, max, min-label-at-max (the deterministic
    tiebreak)."""
    cte = [
        "    WITH\n    " + edges_cte + """,
    agg AS (
      SELECT s, d, SUM(w) AS w FROM (
        SELECT s, d, w FROM e0 UNION ALL SELECT d, s, w FROM e0
      ) GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT s AS n FROM agg),
    l0 AS (SELECT n, n AS lab FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        cte.append(f"""    v{k} AS (
      SELECT a.s AS n, l.lab, SUM(a.w) AS wv
      FROM agg a JOIN l{p} l ON l.n = a.d GROUP BY 1, 2
    ),
    m{k} AS (SELECT n, MAX(wv) AS mw FROM v{k} GROUP BY n),
    l{k} AS (
      SELECT nd.n,
             COALESCE(MIN(CASE WHEN v.wv = m.mw THEN v.lab END), nd.n) AS lab
      FROM nodes nd
      LEFT JOIN v{k} v ON v.n = nd.n
      LEFT JOIN m{k} m ON m.n = nd.n
      GROUP BY nd.n
    )""")
    return (
        ",\n".join(cte)
        + f"\n    SELECT n AS node, lab AS community FROM l{iterations}\n    "
    )


@register(
    "lpa_communities",
    oracle=_lpa_oracle(4),
    doc="Weighted label-propagation communities "
    "(ops.graph.label_propagation, 4 synchronous iterations) over the "
    "symmetrized nation trade graph (integer-cent weights — the argmax "
    "is a discrete choice, so no float vote sums). Each iteration is "
    "one edge-label join + three aggregations (vote sum, per-node max, "
    "min-label-at-max) — hub-degree vote lists stay in partial "
    "aggregation, never a per-node window. Oracle unrolls the "
    "iterations as CTEs.",
)
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import label_propagation

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    return label_propagation(edges, iterations=4).select("node", "community")


@register(
    "trending_parts",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT month, l_partkey, qty,
             CAST(ROW_NUMBER() OVER (PARTITION BY month
                                     ORDER BY qty DESC, l_partkey) AS BIGINT) AS rnk
      FROM m QUALIFY rnk <= 5
    )
    SELECT CAST(a.month AS VARCHAR) AS month, a.l_partkey, a.qty, a.rnk,
           b.rnk AS prev_rnk
    FROM ranked a
    LEFT JOIN ranked b
      ON b.l_partkey = a.l_partkey
     AND b.month = CAST(a.month - INTERVAL 1 MONTH AS DATE)
    """,
    doc="Trending items: monthly top-5 parts by quantity with the "
    "previous month's rank attached (NULL = newly trending) — the "
    "leaderboard-delta analytic. rank<=5 compiles to WindowGroupLimit "
    "(each month's ranking truncates to 5 rows in partial aggregation "
    "— never a full part ranking through one task); the month-to-month "
    "join runs over 5-row lists. Integer quantities; l_quantity cast "
    "to BIGINT before summing so no float accumulates.",
)
def trending_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            "l_partkey",
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    w = Window.partitionBy("month").orderBy(F.desc("qty"), F.asc("l_partkey"))
    ranked = (
        m.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )
    prev = ranked.select(
        F.add_months(F.col("month"), 1).alias("month"),
        F.col("l_partkey"),
        F.col("rnk").alias("prev_rnk"),
    )
    return (
        ranked.join(prev, ["month", "l_partkey"], "left")
        .select(
            F.col("month").cast("string").alias("month"),
            "l_partkey", "qty", "rnk", "prev_rnk",
        )
    )


_COOC_EDGES_CTE = """toks AS (
      SELECT doc_id, UNNEST(arr) AS w, UNNEST(range(1, len(arr) + 1)) AS pos
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS arr
        FROM documents
      )
    ),
    e0 AS (
      SELECT LEAST(a.w, b.w) AS s, GREATEST(a.w, b.w) AS d,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM toks a
      JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2
       AND a.w <> b.w
      GROUP BY 1, 2
      HAVING COUNT(*) >= 100
    )"""


@register(
    "concept_communities",
    oracle=_lpa_oracle(3, _COOC_EDGES_CTE),
    doc="Composed pipeline: windowed word co-occurrence "
    "(ops.textops.cooccurrence_pairs, the Lin & Dyer pairs pattern) -> "
    "strong-edge filter (count >= 100) -> weighted label propagation "
    "(ops.graph.label_propagation, 3 iterations) — topic-ish concept "
    "clusters straight from text, no embeddings. The Spark side chains "
    "the in-array pair generation into the aggregation-only LPA; the "
    "oracle chains the naive positions self-join into the unrolled LPA "
    "CTEs — same answer, fully independent shapes at both stages.",
)
def concept_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import label_propagation
    from hadoop_fcfs_spark.ops.textops import cooccurrence_pairs

    pairs = cooccurrence_pairs(t(spark, sf_dir, "documents"), "text", window=2)
    edges = pairs.filter(F.col("cnt") >= 100).select(
        F.col("w1").alias("src"), F.col("w2").alias("dst"), F.col("cnt").alias("w")
    )
    return label_propagation(edges, iterations=3).select("node", "community")


@register(
    "rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '1998-12-31')
               AS recency,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS monetary
      FROM orders GROUP BY 1
    ),
    th AS (
      SELECT quantile_cont(recency,   [0.2, 0.4, 0.6, 0.8]) AS rt,
             quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS ft,
             quantile_cont(monetary,  [0.2, 0.4, 0.6, 0.8]) AS mt
      FROM cust
    ),
    scored AS (
      SELECT
        CAST(1 + (recency > rt[1])::INT + (recency > rt[2])::INT
               + (recency > rt[3])::INT + (recency > rt[4])::INT AS BIGINT) AS r,
        CAST(1 + (frequency > ft[1])::INT + (frequency > ft[2])::INT
               + (frequency > ft[3])::INT + (frequency > ft[4])::INT AS BIGINT) AS f,
        CAST(1 + (monetary > mt[1])::INT + (monetary > mt[2])::INT
               + (monetary > mt[3])::INT + (monetary > mt[4])::INT AS BIGINT) AS m,
        monetary
      FROM cust CROSS JOIN th
    )
    SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS BIGINT) AS monetary_cents
    FROM scored GROUP BY 1, 2, 3
    """,
    doc="RFM customer segmentation (recency / frequency / monetary "
    "quintiles): the classic CRM rollup, built aggregate-first — ONE "
    "customer-grain aggregation, ONE scalar row of exact quintile "
    "thresholds broadcast back, per-row integer threshold-count "
    "scoring (bucket = 1 + Σ(value > t_i): a discrete choice on "
    "identical-shape comparisons, no global rank window, no NTILE "
    "over the customer table). Monetary is integer CENTS from the row "
    "level up — per-customer float sums would be accumulation-order-"
    "nondeterministic and could flip threshold comparisons.",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.max(F.to_date("o_orderdate"))
        ).alias("recency"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("monetary"),
    )
    from hadoop_fcfs_spark.caching import waypoint

    cust = waypoint(cust)
    th = cust.agg(
        F.percentile("recency", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("__rt"),
        F.percentile("frequency", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("__ft"),
        F.percentile("monetary", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("__mt"),
    )

    def score(col: str, th_col: str):
        c = F.lit(1).cast("long")
        for i in range(1, 5):
            c = c + (F.col(col) > F.element_at(F.col(th_col), i)).cast("long")
        return c

    scored = cust.crossJoin(F.broadcast(th)).select(
        score("recency", "__rt").alias("r"),
        score("frequency", "__ft").alias("f"),
        score("monetary", "__mt").alias("m"),
        "monetary",
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary").cast("long").alias("monetary_cents"),
    )


@register(
    "purchase_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch_ts
      FROM events
    )
    SELECT COALESCE(CASE WHEN epoch_us(ts) - epoch_us(last_touch_ts)
                              <= 1800000000 THEN last_touch END,
                    '(none)') AS channel,
           CAST(COUNT(*) AS BIGINT) AS purchases
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc="Last-touch purchase attribution: each purchase credited to "
    "the user's most recent non-purchase event within 30 minutes "
    "('(none)' otherwise) — the marketing-attribution kernel. One "
    "user-bounded window (last ignorenulls over (ts, event_id) total "
    "order) carries both the touch type and its timestamp; integer "
    "counts out.",
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    nonp_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    seq = ev.select(
        "event_type",
        "ts",
        F.last(nonp, ignorenulls=True).over(w).alias("__lt"),
        F.last(nonp_ts, ignorenulls=True).over(w).alias("__lt_ts"),
    )
    within = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("__lt_ts"))
    ) <= 1_800_000_000
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(F.coalesce(F.when(within, F.col("__lt")), F.lit("(none)")).alias("channel"))
        .groupBy("channel")
        .agg(F.count("*").cast("long").alias("purchases"))
    )


@register(
    "trade_degree_assortativity",
    oracle="""
    WITH ew AS (
      SELECT cn.n_name AS s, sn.n_name AS d,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    e0 AS (
      SELECT s, d FROM (
        SELECT s, d, ROW_NUMBER() OVER (PARTITION BY s ORDER BY w DESC, d) AS rk
        FROM ew
      ) WHERE rk <= 3
    ),
    sym AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
    deg AS (SELECT s AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           ROUND(CORR(a.deg, b.deg), 6) AS assortativity
    FROM sym JOIN deg a ON a.n = sym.s JOIN deg b ON b.n = sym.d
    """,
    doc="Degree assortativity of the top-3-partner sparsified nation "
    "trade graph (the complete raw graph has constant degree — "
    "assortativity undefined; sparsify by each nation's top-3 "
    "integer-cent trade partners, the bfs_trade_reach idiom): "
    "Pearson correlation of endpoint degrees over the (symmetrized) "
    "edge list — negative = hub-and-spoke, positive = rich-club; the "
    "one-scalar topology screen next to triangles/PageRank/BFS/LPA. "
    "Degrees re-aggregate from the edge table; the corr is one moment "
    "aggregation over edges, rounded @6 (the column_corr precedent).",
)
def trade_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("s"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("d"))
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .filter(F.col("s") != F.col("d"))
        .groupBy("s", "d")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            ).alias("__w")
        )
    )
    from pyspark.sql import Window

    wk = Window.partitionBy("s").orderBy(F.desc("__w"), F.asc("d"))
    e0 = (
        e0.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= 3)
        .select("s", "d")
    )
    from hadoop_fcfs_spark.caching import waypoint

    sym = waypoint(
        e0.unionByName(e0.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    )
    deg = sym.groupBy(F.col("s").alias("n")).agg(F.count("*").cast("long").alias("deg"))
    da = deg.select(F.col("n").alias("s"), F.col("deg").alias("__da"))
    db = deg.select(F.col("n").alias("d"), F.col("deg").alias("__db"))
    return (
        sym.join(da, "s")
        .join(db, "d")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.round(F.corr("__da", "__db"), 6).alias("assortativity"),
        )
    )


@register(
    "gini_order_values",
    oracle="""
    WITH cents AS (
      SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS i FROM cents
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
    agg AS (
      SELECT nn.n AS n,
             SUM(CAST(v AS HUGEINT)) AS sv,
             SUM((2 * CAST(i AS HUGEINT) - nn.n - 1)
                 * CAST(v AS HUGEINT)) AS num
      FROM ranked CROSS JOIN nn
      GROUP BY nn.n
    )
    SELECT n,
           CAST(FLOOR(CAST(num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)) * 1000000)
             AS BIGINT) AS gini_e6
    FROM agg
    """,
    doc="Gini coefficient of order values — the revenue-concentration "
    "/ inequality metric (how much of the business the top orders "
    "carry): G = Σ(2i−n−1)·x_(i) / (n·Σx) over globally rank-sorted "
    "integer cents. The global rank comes from "
    "ops.sort.ranked_total_order (range partition + offset decode — "
    "never a single-task window); the weighted sum accumulates in "
    "DECIMAL/HUGEINT so it is EXACT despite the ±n·x magnitude (would "
    "overflow BIGINT at sf0.1); only the final normalization is "
    "float, floor-micro.",
)
def gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sort import ranked_total_order

    cents = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    ranked = ranked_total_order(cents, [F.asc("v")], rank_col="i")
    # the weight needs n — one scalar count broadcast back, then the
    # exact decimal weighted sum in a single aggregation
    total = ranked.agg(F.count("*").cast("long").alias("__n"))
    num = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            (
                (2 * F.col("i").cast("decimal(38,0)")
                 - F.col("__n").cast("decimal(38,0)") - 1)
                * F.col("v").cast("decimal(38,0)")
            ).alias("__t"),
            F.col("__n"),
        )
        .groupBy("__n")
        .agg(F.sum("__t").alias("__num"))
    )
    sv = ranked.agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("__sv"))
    return (
        num.crossJoin(F.broadcast(sv))
        .select(
            F.col("__n").alias("n"),
            F.floor(
                F.col("__num").cast("double")
                / (F.col("__n").cast("double") * F.col("__sv").cast("double"))
                * 1_000_000
            ).cast("long").alias("gini_e6"),
        )
    )


@register(
    "lorenz_deciles",
    oracle="""
    WITH cents AS (
      SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
    ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS i FROM cents
    ),
    dec AS (
      SELECT CASE WHEN i <= (n % 10) * ((n // 10) + 1)
                  THEN CAST((i - 1) // ((n // 10) + 1) + 1 AS BIGINT)
                  ELSE CAST((n % 10)
                       + (i - (n % 10) * ((n // 10) + 1) - 1) // (n // 10) + 1
                       AS BIGINT)
             END AS decile,
             v
      FROM ranked CROSS JOIN nn
    ),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(v AS HUGEINT)) AS mass
      FROM dec GROUP BY 1
    ),
    tot AS (SELECT SUM(mass) AS tm FROM per)
    SELECT decile, n_orders,
           CAST(FLOOR(CAST(SUM(mass) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(tm AS DOUBLE) * 1000000) AS BIGINT) AS cum_share_e6
    FROM per CROSS JOIN tot
    """,
    doc="Lorenz curve over order values: exact NTILE deciles of the "
    "globally rank-sorted integer cents (ops.sort.ranked_total_order "
    "+ ntile_from_rank — remainder front-loaded, no single-task "
    "window) and each decile's CUMULATIVE share of total revenue — "
    "gini_order_values' curve form. Decile masses are exact "
    "DECIMAL/HUGEINT sums; the 10-row cumulative window runs over the "
    "decile summary. floor-micro shares.",
)
def lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_fcfs_spark.ops.sort import ranked_total_order

    cents = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    ranked = ranked_total_order(cents, [F.asc("v")], rank_col="i")
    total = ranked.agg(F.count("*").cast("long").alias("__n"))
    # ntile_from_rank's formula with n as a COLUMN (the helper takes a
    # Python int): q = n div 10, r = n mod 10, first r buckets q+1 wide
    n = F.col("__n")
    q = F.floor(n / 10)
    r = n % 10
    cut = (q + 1) * r
    i = F.col("i")
    wide = F.floor((i - 1) / (q + 1)) + 1
    narrow = r + F.floor((i - 1 - cut) / q) + 1
    dec = ranked.crossJoin(F.broadcast(total)).select(
        F.when(i <= cut, wide).otherwise(narrow).cast("long").alias("decile"),
        "v",
    )
    per = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("__mass"),
    )
    tot = per.agg(F.sum("__mass").alias("__tm"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # 10-row decile-summary window
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("__cum", F.sum("__mass").over(w))
        .select(
            "decile", "n_orders",
            F.floor(
                F.col("__cum").cast("double") / F.col("__tm").cast("double")
                * 1_000_000
            ).cast("long").alias("cum_share_e6"),
        )
    )


@register(
    "hhi_supplier_concentration",
    oracle="""
    WITH s AS (
      SELECT n_name,
             l_suppkey,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT n_name, SUM(rev) AS t, COUNT(*) AS n_suppliers FROM s GROUP BY 1)
    SELECT s.n_name AS nation,
           CAST(MAX(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(FLOOR(SUM((CAST(rev AS DOUBLE) / t) * (CAST(rev AS DOUBLE) / t))
                 * 1000000) AS BIGINT) AS hhi_e6
    FROM s JOIN tot USING (n_name)
    GROUP BY s.n_name
    """,
    doc="Herfindahl-Hirschman supplier-concentration index per nation: "
    "HHI = Σ share² over each nation's supplier revenue shares — the "
    "antitrust-style concentration scalar next to gini/lorenz "
    "(1/n_suppliers = perfectly even, 1.0 = monopoly). Revenue in "
    "integer cents from the row level; shares are single divisions of "
    "exact integers; the Σ share² is a per-nation bounded sum, "
    "floor-micro.",
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    s = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(cents).alias("rev"))
    )
    from hadoop_fcfs_spark.caching import waypoint

    s = waypoint(s)
    tot = s.groupBy("n_name").agg(
        F.sum("rev").alias("__t"), F.count("*").cast("long").alias("n_suppliers")
    )
    share = F.col("rev").cast("double") / F.col("__t")
    return (
        s.join(tot, "n_name")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.floor(F.sum(share * share) * 1_000_000).cast("long").alias("hhi_e6"),
        )
    )


@register(
    "repeat_order_intervals",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             DATEDIFF('day',
               LAG(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    )
    SELECT CAST(COUNT(gap) AS BIGINT) AS n_intervals,
           CAST(MIN(gap) AS BIGINT) AS min_days,
           CAST(quantile_cont(gap, 0.5) AS DOUBLE) AS p50_days,
           CAST(quantile_cont(gap, 0.9) AS DOUBLE) AS p90_days,
           CAST(MAX(gap) AS BIGINT) AS max_days
    FROM seq WHERE gap IS NOT NULL
    """,
    doc="Repeat-purchase interval distribution: days between a "
    "customer's consecutive orders (lag over the customer-bounded "
    "(date, orderkey) total order), exact interpolated percentiles "
    "over the integer gaps — the replenishment-cycle input to CRM "
    "timing models. One shuffle on the customer key, one global "
    "percentile aggregation over integer day gaps.",
)
def repeat_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
    )
    seq = orders.select(gap.alias("gap")).filter(F.col("gap").isNotNull())
    return seq.agg(
        F.count("gap").cast("long").alias("n_intervals"),
        F.min("gap").cast("long").alias("min_days"),
        F.percentile("gap", F.lit(0.5)).cast("double").alias("p50_days"),
        F.percentile("gap", F.lit(0.9)).cast("double").alias("p90_days"),
        F.max("gap").cast("long").alias("max_days"),
    )


@register(
    "top_nations_with_other",
    oracle="""
    WITH rev AS (
      SELECT n_name,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY 1
    ),
    top5 AS (SELECT * FROM rev ORDER BY cents DESC, n_name LIMIT 5)
    SELECT n_name AS nation, cents FROM top5
    UNION ALL
    SELECT 'OTHER', CAST(SUM(cents) AS BIGINT) FROM rev
    WHERE n_name NOT IN (SELECT n_name FROM top5)
    """,
    doc="Top-5 supplier nations by revenue plus an OTHER residual row — "
    "the bounded-leaderboard reporting shape (every dashboard's 'top "
    "N + rest'): TakeOrdered top-5, residual = anti-join aggregate, "
    "union. Integer cents from the row level; the OTHER row keeps the "
    "total reconcilable.",
)
def top_nations_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import top_k

    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = waypoint(
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("cents"))
    )
    top5 = waypoint(top_k(rev, 5, F.desc("cents"), F.asc("n_name")))
    other = (
        rev.join(top5.select("n_name"), "n_name", "left_anti")
        .agg(F.sum("cents").alias("cents"))
        .select(F.lit("OTHER").alias("nation"), "cents")
    )
    return top5.select(F.col("n_name").alias("nation"), "cents").unionByName(other)


@register(
    "dead_stock_audit",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM part) AS BIGINT) AS n_parts,
           CAST((SELECT COUNT(*) FROM part
                 WHERE p_partkey NOT IN (SELECT DISTINCT l_partkey FROM lineitem))
             AS BIGINT) AS never_ordered,
           CAST(FLOOR((SELECT COUNT(*) FROM part
                       WHERE p_partkey NOT IN
                         (SELECT DISTINCT l_partkey FROM lineitem))
                 * 1000000.0 / (SELECT COUNT(*) FROM part)) AS BIGINT)
             AS dead_share_e6
    """,
    doc="Dead-stock audit: parts that never appear in any lineitem — "
    "the catalog-vs-sales anti-join every inventory review runs. "
    "Left-anti join (dimension vs fact key set), scalar report row "
    "(never hollow even when everything sells). Integer counts, "
    "floor-micro share.",
)
def dead_stock_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    never = part.join(
        li.select(F.col("l_partkey").alias("p_partkey")).distinct(),
        "p_partkey",
        "left_anti",
    ).agg(F.count("*").cast("long").alias("never_ordered"))
    tot = part.agg(F.count("*").cast("long").alias("n_parts"))
    return (
        tot.crossJoin(F.broadcast(never))
        .select(
            "n_parts",
            "never_ordered",
            F.floor(
                F.col("never_ordered") * 1_000_000.0 / F.col("n_parts")
            ).cast("long").alias("dead_share_e6"),
        )
    )


@register(
    "ivm_orders_yearly",
    oracle="""
    SELECT o_orderstatus, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1993-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY 1, 2
    """,
    doc="Incremental aggregate-view maintenance "
    "(ops.cdc.weighted_partial_agg + merge_agg_delta): the maintained "
    "view is per (status, year) order count + integer-cent revenue. "
    "Base state aggregates orders < 1997-01-01; the delta INSERTS H1 "
    "1997 (weight +1) and RETRACTS everything before 1993 (weight -1, "
    "a purge) - merge = union + groupBy re-sum (the sketch-merge "
    "shape), groups whose count reaches 0 (the 1992 years) DISAPPEAR. "
    "The oracle is the full recompute over the equivalent final "
    "predicate - maintained state == recompute, exactly, because every "
    "maintained column is an exact integer. Cost at scale: delta-sized "
    "shuffle instead of re-scanning the base.",
)
def ivm_orders_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.cdc import merge_agg_delta, weighted_partial_agg

    orders = t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    keys = ["o_orderstatus", "yr"]
    yr = F.year("o_orderdate").cast("long").alias("yr")

    base_rows = orders.filter(F.col("o_orderdate") < "1997-01-01")
    base = weighted_partial_agg(
        base_rows.select("o_orderstatus", yr, cents.alias("__c")),
        keys, [(F.col("__c"), "sum_cents")], F.lit(1),
    )
    # one scan builds the whole delta: inserts weight +1, purge -1
    delta_rows = orders.filter(
        (F.col("o_orderdate") < "1993-01-01")
        | (
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-07-01")
        )
    ).select(
        "o_orderstatus", yr, cents.alias("__c"),
        F.when(F.col("o_orderdate") >= "1997-01-01", 1)
        .otherwise(-1).alias("__w"),
    )
    delta = weighted_partial_agg(
        delta_rows, keys, [(F.col("__c"), "sum_cents")], F.col("__w")
    )
    return merge_agg_delta(base, delta, keys, ["sum_cents"]).select(
        "o_orderstatus", "yr",
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "scd2_pit_join",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type AS status, ts,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type <> 'purchase'
    ),
    dim AS (
      SELECT user_id, status, ts AS valid_from
      FROM flagged WHERE prev IS NULL OR status <> prev
    ),
    p AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
    pit AS (
      SELECT p.event_id, d.status,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY d.valid_from DESC) AS rn
      FROM p LEFT JOIN dim d
        ON d.user_id = p.user_id AND d.valid_from <= p.ts
    )
    SELECT COALESCE(status, '(none)') AS status_asof,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM pit WHERE rn = 1 OR status IS NULL
    GROUP BY 1
    """,
    doc="Point-in-time dimension lookup (SCD2 + as_of_join): every "
    "purchase joined to the user's status dimension - built from "
    "NON-purchase changes via ops.cdc.scd2_from_changes semantics - AS "
    "OF the purchase timestamp. The fact side never sees a range cross "
    "product: as_of_join unions both streams and carries the last "
    "change forward in ONE user-key window pass (the scale path for "
    "PIT correctness in feature pipelines - training-serving skew "
    "starts with a fact row reading dimension state from its future). "
    "Purchases before any non-purchase change report '(none)'. The "
    "oracle is the naive range join + QUALIFY - independent shape. "
    "(user, ts) collisions probed absent at all SFs, so the as-of tie "
    "rule never fires.",
)
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.cdc import scd2_from_changes
    from hadoop_fcfs_spark.ops.joins import as_of_join

    ev = t(spark, sf_dir, "events")
    changes = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_type").alias("status"), "ts", "event_id"
    )
    dim = scd2_from_changes(
        changes, "user_id", "ts", "status", tiebreak="event_id"
    ).select("user_id", "valid_from", "status")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    pit = as_of_join(
        facts, dim, "user_id", "ts", "valid_from", ["status"]
    )
    return (
        pit.groupBy(
            F.coalesce(F.col("status_asof"), F.lit("(none)")).alias("status_asof")
        )
        .agg(F.count("*").cast("long").alias("n_purchases"))
    )


@register(
    "ra_link_parts",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_orderkey, COUNT(*) AS d FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             SUM(1000000 // g.d) AS ra_e6, COUNT(*) AS n_shared
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN deg g ON g.l_orderkey = a.l_orderkey
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, CAST(ra_e6 AS BIGINT) AS ra_e6,
           CAST(n_shared AS BIGINT) AS n_shared
    FROM pairs
    ORDER BY ra_e6 DESC, item_a, item_b LIMIT 20
    """,
    doc="Resource-Allocation link prediction over co-purchased parts "
    "(ops.affinity.resource_allocation_pairs, Zhou-Lu-Zhang 2009): "
    "RA(a,b) = sum over shared orders of 1/|order| - the "
    "hub-discounting common-neighbor score, exactly computable where "
    "Adamic-Adar's 1/log(d) is not (transcendental, not correctly "
    "rounded cross-engine). Per-basket weight 1000000 div d is exact "
    "integer floor division, pair scores exact BIGINT sums; pairs "
    "generated inside each order's sorted array (no basket self-join; "
    "the oracle uses the naive self-join - same pairs, independent "
    "shape). Top-20, lexical ties.",
)
def ra_link_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.affinity import resource_allocation_pairs

    li = t(spark, sf_dir, "lineitem")
    out = resource_allocation_pairs(li, "l_orderkey", "l_partkey")
    return out.orderBy(
        F.desc("ra_e6"), F.asc("item_a"), F.asc("item_b")
    ).limit(20)


def _hits_oracle(iterations: int) -> str:
    """Unrolled HITS oracle: iteration i derives auth from hub_{i-1}
    and hub_i from auth_i, each max-normalized back to micro-units with
    the identical double-ratio floor the Spark op uses."""
    ctes = ["""
    e AS MATERIALIZED (
      SELECT cn.n_name AS src, sn.n_name AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS m FROM nodes)"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""
    a{i}r AS MATERIALIZED (
      SELECT n.node,
             CAST(COALESCE(SUM(h.m * e.w), 0) AS BIGINT) AS raw
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN h{i - 1} h ON h.node = e.src
      GROUP BY 1
    ),
    a{i} AS MATERIALIZED (
      SELECT node, CAST(FLOOR(CAST(raw AS DOUBLE)
               / (SELECT CAST(MAX(raw) AS DOUBLE) FROM a{i}r)
               * 1000000) AS BIGINT) AS m
      FROM a{i}r
    ),
    h{i}r AS MATERIALIZED (
      SELECT n.node,
             CAST(COALESCE(SUM(a.m * e.w), 0) AS BIGINT) AS raw
      FROM nodes n
      LEFT JOIN e ON e.src = n.node
      LEFT JOIN a{i} a ON a.node = e.dst
      GROUP BY 1
    ),
    h{i} AS MATERIALIZED (
      SELECT node, CAST(FLOOR(CAST(raw AS DOUBLE)
               / (SELECT CAST(MAX(raw) AS DOUBLE) FROM h{i}r)
               * 1000000) AS BIGINT) AS m
      FROM h{i}r
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT h.node, h.m AS hub_e6, a.m AS auth_e6
    FROM h{iterations} h JOIN a{iterations} a USING (node)"""
    )


@register(
    "hits_trade_roles",
    oracle=_hits_oracle(4),
    doc="HITS hub/authority scores (ops.graph.hits, Kleinberg) over the "
    "nation trade graph (customer nation -> supplier nation, "
    "line-count weights), 4 alternating power iterations: hub = "
    "buyer-side weight, authority = supplier-side weight - the "
    "directed two-role complement to pagerank_nations' single score. "
    "Scores are BIGINT micro-units: edge-weighted sums are exact "
    "integer aggregations and each max-normalization floors the "
    "double ratio raw/max - identical shape in the unrolled oracle "
    "CTEs, deterministic cross-engine.",
)
def hits_trade_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.graph import hits

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )
    return hits(edges, "src", "dst", weight="w", iterations=4)


@register(
    "copurchase_eval_topk",
    oracle="""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    tr AS (SELECT l_orderkey, l_partkey FROM op
           WHERE o_orderdate < DATE '1998-05-01'),
    te AS (SELECT l_orderkey, l_partkey FROM op
           WHERE o_orderdate >= DATE '1998-05-01'),
    trp AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c
      FROM tr a JOIN tr b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    rec AS (
      SELECT pa, pb, rk FROM (
        SELECT pa, pb,
               ROW_NUMBER() OVER (PARTITION BY pa
                                  ORDER BY c DESC, pb) AS rk
        FROM trp) WHERE rk <= 3
    ),
    tep AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM te a JOIN te b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
    SELECT CAST(rk AS INT) AS rank,
           CAST(COUNT(*) AS BIGINT) AS n_recs,
           CAST(SUM(CASE WHEN tep.pb IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           (1000000 * CAST(SUM(CASE WHEN tep.pb IS NOT NULL THEN 1 ELSE 0
                                    END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
             AS precision_e6
    FROM rec LEFT JOIN tep USING (pa, pb)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Temporal-split recommender evaluation: train directed "
    "co-purchase counts on orders before 1998-05-01 "
    "(ops.affinity.basket_partners - in-array generation, no basket "
    "self-join; the oracle uses the naive self-join), rank each "
    "part's top-3 partners (count desc, id ties), score "
    "precision-by-rank against co-occurrences in the HELD-OUT later "
    "orders - the leakage-free eval loop every affinity model needs "
    "(temporal_split_audit checks the split; this closes it into "
    "train->recommend->score). Per-item rank window is key-bounded; "
    "hit check is one distinct semi-shaped left join; "
    "integer-division precision.",
)
def copurchase_eval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.affinity import basket_partners

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    op = waypoint(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_partkey", "o_orderdate")
        .distinct()
    )
    split = F.lit("1998-05-01").cast("date")
    train = op.filter(F.col("o_orderdate") < split)
    test = op.filter(F.col("o_orderdate") >= split)
    trp = basket_partners(train, "l_orderkey", "l_partkey")
    w = Window.partitionBy("item_a").orderBy(
        F.desc("pair_count"), F.asc("item_b")
    )
    rec = (
        trp.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("item_a").alias("pa"), F.col("item_b").alias("pb"), "rank"
        )
    )
    tep = (
        basket_partners(test, "l_orderkey", "l_partkey")
        .select(
            F.col("item_a").alias("pa"), F.col("item_b").alias("pb"),
            F.lit(1).alias("__hit"),
        )
    )
    return (
        rec.join(tep, ["pa", "pb"], "left")
        .groupBy(F.col("rank").cast("int").alias("rank"))
        .agg(
            F.count("*").cast("long").alias("n_recs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long")
            .alias("n_hits"),
        )
        .withColumn(
            "precision_e6",
            F.expr("(1000000 * n_hits) div n_recs").cast("long"),
        )
        .orderBy("rank")
    )


@register(
    "markov_next_event_eval",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER w AS next_type,
             LEAD(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (SELECT * FROM seq WHERE next_type IS NOT NULL),
    train AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs WHERE next_ts < TIMESTAMP '2024-01-16' GROUP BY 1, 2
    ),
    pred AS (
      SELECT event_type, next_type AS predicted FROM (
        SELECT event_type, next_type,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, next_type) AS rn
        FROM train) WHERE rn = 1
    ),
    test AS (
      SELECT event_type, next_type FROM pairs
      WHERE next_ts >= TIMESTAMP '2024-01-16'
    )
    SELECT t.event_type, p.predicted,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.next_type = p.predicted THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           (1000000 * CAST(SUM(CASE WHEN t.next_type = p.predicted
                                    THEN 1 ELSE 0 END) AS BIGINT))
             // CAST(COUNT(*) AS BIGINT) AS accuracy_e6
    FROM test t JOIN pred p USING (event_type)
    GROUP BY 1, 2
    """,
    doc="Markov next-event prediction eval: train the first-order "
    "transition argmax (count desc, type ties) on transitions "
    "COMPLETING before the split instant, score per-state accuracy on "
    "the held-out later transitions - the train/predict/score loop "
    "over event_transitions' matrix (a transition belongs to test iff "
    "its SECOND event is post-split, so no test information leaks "
    "into training). One user-key window pass shared by both halves; "
    "B-row broadcast-sized model; integer-division accuracy.",
)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.caching import waypoint

    ev = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = waypoint(
        ev.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
            F.lead("ts").over(w).alias("next_ts"),
        ).filter(F.col("next_type").isNotNull())
    )
    train = (
        pairs.filter(F.col("next_ts") < cut)
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("next_type")
    )
    pred = (
        train.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") == 1)
        .select("event_type", F.col("next_type").alias("predicted"))
    )
    test = pairs.filter(F.col("next_ts") >= cut)
    return (
        test.join(F.broadcast(pred), "event_type")
        .groupBy("event_type", "predicted")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
        .withColumn(
            "accuracy_e6",
            F.expr("(1000000 * n_correct) div n_test").cast("long"),
        )
    )


@register(
    "diversified_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS gr
      FROM orders
    ) WHERE gr <= 2
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    doc="Diversified top-k (ops.ranking.diversified_topk): the 20 "
    "highest-value orders with AT MOST 2 per customer - the "
    "result-diversification rule a plain top-k misses (one whale "
    "customer floods the list). One key-bounded per-customer "
    "row_number + cap filter, then a global TakeOrderedAndProject; "
    "never a global window. Total order via (price desc, orderkey).",
)
def diversified_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.ranking import diversified_topk

    orders = t(spark, sf_dir, "orders")
    out = diversified_topk(
        orders,
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=20,
        group_col="o_custkey",
        per_group_cap=2,
    )
    return out.select(
        "o_orderkey", "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )


@register(
    "topk_stability_parts",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS p,
             l_partkey AS k, CAST(SUM(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT p, k FROM (
        SELECT p, k, ROW_NUMBER() OVER (PARTITION BY p
          ORDER BY qty DESC, k ASC) AS rnk
        FROM m) t WHERE rnk <= 10
    ),
    sizes AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS sz FROM top GROUP BY 1),
    com AS (
      SELECT a.p, CAST(COUNT(*) AS BIGINT) AS common
      FROM top a JOIN top b ON b.p = a.p + 1 AND b.k = a.k
      GROUP BY 1
    )
    SELECT a.p AS period, a.p + 1 AS next_period,
           a.sz AS k_a, b.sz AS k_b,
           COALESCE(c.common, 0) AS common,
           CAST(COALESCE(c.common, 0) * 1000000
                // (a.sz + b.sz - COALESCE(c.common, 0)) AS BIGINT)
             AS jaccard_micro
    FROM sizes a
    JOIN sizes b ON b.p = a.p + 1
    LEFT JOIN com c ON c.p = a.p
    """,
    doc="Month-over-month top-10 part leaderboard stability "
    "(ops.ranking.topk_overlap_by_period): per month the 10 "
    "highest-quantity parts (lowest-key ties), then each adjacent "
    "pair's retained count and Jaccard overlap - trending_parts says "
    "how individual ranks MOVE, this says whether the SET a consumer "
    "caches is even stable (the number that sets cache TTLs / "
    "recrawl budgets). Per-period rank window partitioned by month "
    "(WindowGroupLimit-bounded), adjacency self-join over the "
    "k*months survivors, exact integer Jaccard micros.",
)
def topk_stability_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.ranking import topk_overlap_by_period

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    m = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("p"),
            "l_partkey",
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    return topk_overlap_by_period(m, "p", "l_partkey", "qty", k=10)


@register(
    "rbo_stability_parts",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS p,
             l_partkey AS k, CAST(SUM(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT p, k, rnk FROM (
        SELECT p, k, ROW_NUMBER() OVER (PARTITION BY p
          ORDER BY qty DESC, k ASC) AS rnk
        FROM m) t WHERE rnk <= 10
    ),
    sfx(r, w) AS (VALUES
      (1, 235416394), (2, 135416395), (3, 90416396), (4, 63416397),
      (5, 45191397), (6, 32069398), (7, 22227898), (8, 14635884),
      (9, 8657173), (10, 3874204)
    ),
    shared AS (
      SELECT a.p, CAST(COUNT(*) AS BIGINT) AS common,
             CAST(SUM(sfx.w) AS BIGINT) AS rbo
      FROM top a
      JOIN top b ON b.p = a.p + 1 AND b.k = a.k
      JOIN sfx ON sfx.r = GREATEST(a.rnk, b.rnk)
      GROUP BY 1
    ),
    periods AS (SELECT DISTINCT p FROM top)
    SELECT a.p AS period, a.p + 1 AS next_period,
           COALESCE(s.common, 0) AS common,
           CAST(COALESCE(s.rbo, 0) * 1000000000 // 651321536 AS BIGINT)
             AS rbo10_e9
    FROM periods a
    JOIN periods b ON b.p = a.p + 1
    LEFT JOIN shared s ON s.p = a.p
    """,
    doc="Rank-biased overlap (RBO@10, p=0.9, Webber et al. 2010) "
    "between adjacent months' top-10 part leaderboards "
    "(ops.ranking.rbo_topk_by_period): the rank-WEIGHTED upgrade of "
    "topk_stability_parts - Jaccard treats rank 1 and rank 10 alike, "
    "RBO weights agreement geometrically toward the top, how "
    "consumers actually read a leaderboard. Truncated RBO_min: the "
    "transcendental p-power weights are FROZEN integer suffix-sum "
    "literals shared verbatim with this oracle (the knn_ndcg_labels "
    "discipline), each shared member contributing SFX[max(ra, rb)] "
    "exact BIGINT, one final integer division normalizing identical "
    "lists to 1e9.",
)
def rbo_stability_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.ranking import rbo_topk_by_period

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    m = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("p"),
            "l_partkey",
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    return rbo_topk_by_period(m, "p", "l_partkey", "qty")


@register(
    "cdc_net_changes_users",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op,
             CAST(FLOOR(value * 100) AS BIGINT) AS value_cents
      FROM events
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM log
    ),
    fl AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN op END) AS first_op,
             MAX(CASE WHEN rn = n THEN op END) AS last_op,
             MAX(CASE WHEN rn = n THEN value_cents END) AS lv,
             CAST(MAX(n) AS BIGINT) AS n_changes,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM ranked GROUP BY 1
    )
    SELECT user_id,
           CASE WHEN first_op = 'I' THEN 'I'
                WHEN last_op = 'D' THEN 'D'
                ELSE 'U' END AS net_op,
           n_changes, first_ts, last_ts,
           CASE WHEN last_op = 'D' THEN NULL ELSE lv END
             AS last_value_cents
    FROM fl
    WHERE NOT (first_op = 'I' AND last_op = 'D')
    ORDER BY user_id
    """,
    doc="Minimal-changelog compaction (ops.cdc.cdc_net_changes, the "
    "Debezium/changefeed/Delta-CDF shape): each user's I/U/D event "
    "history collapses to its NET effect - I+...+D vanishes, "
    "I+...+U nets to one insert, U/D-led histories net to one "
    "update/delete carrying the LAST value - the one-row-per-key "
    "changeset equal to replaying the full log against the opening "
    "snapshot; fourth CDC leg beside scd2_from_changes / "
    "apply_changeset / snapshot_diff. ONE map-side-combinable "
    "groupBy: first/last via min_by/max_by over the (ts, event_id) "
    "struct order - no window, no per-key sort; ops mapped "
    "signup->I, error->D, else U; exact FLOOR-cents value; unknown "
    "ops fail loudly.",
)
def cdc_net_changes_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.cdc import cdc_net_changes

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return cdc_net_changes(
        ev, "user_id", "ts", "op", ["value_cents"], tiebreak="event_id"
    ).orderBy("user_id")
