"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, single-shuffle contracts) must
survive refactors — these assertions read the executed plan the same
way a human plan audit does."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_fcfs_spark.registry import all_queries
from scripts.dump_plan import plan_lines
from tests.conftest import SF_ORACLE

Q = all_queries()


def _plan(df) -> str:
    """The executed plan, one node per line, each cached relation's plan
    once (its final plan when the waypoint is built): a FileScan line
    under a waypoint is a scan that runs once, however many consumers
    read the cache."""
    return "\n".join(plan_lines(df._jdf.queryExecution()))


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    df = Q["pricing_summary"].spark_fn(spark, SF_ORACLE)
    full = _optimized(df)
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in full
    # column pruning: lineitem has 11 columns, the query needs 7 —
    # the unused keys must not appear in the FileScan column list
    scan_line = [l for l in full.split("\n") if "FileScan parquet" in l][0]
    cols = scan_line.split("[", 1)[1].split("]", 1)[0]
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unused not in cols, f"unpruned column {unused} in scan: {cols}"
    # exactly one shuffle (the groupBy)
    assert _plan(df).count("Exchange") == 1


def test_join_multiway_broadcasts_dims(spark):
    df = Q["join_multiway"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, "dims must broadcast, not shuffle"
    assert "CartesianProduct" not in plan


def test_sorted_group_apply_single_exchange(spark):
    """The sorted-values-per-group contract: repartition+sort must NOT be
    followed by another exchange or sort before applyInPandas."""
    df = Q["sorted_group_apply"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    df = Q["topk_orders"].spark_fn(spark, SF_ORACLE)
    assert "TakeOrderedAndProject" in _plan(df)


def test_rank_filter_gates_are_limit_pushed(spark):
    """The rank()<=k / row_number()<=k filter gates must compile through
    LimitPushDownThroughWindow: a TakeOrderedAndProject(limit=k) below the
    final Window bounds the unpartitioned window's input to k rows. Without
    it each would single-partition-sort the whole aggregate output."""
    for name, k in (("shipping_priority", 10), ("grep_top", 20), ("returned_items_topk", 20)):
        plan = _plan(Q[name].spark_fn(spark, SF_ORACLE))
        assert f"TakeOrderedAndProject(limit={k}" in plan, f"{name}: rank filter not limit-pushed"


def test_keyfield_sort_no_full_table_window(spark):
    """Global rank via ranked_total_order: range partition + per-partition
    enumeration (monotonically_increasing_id) + broadcast offsets. The only
    SinglePartition exchange allowed is over the per-partition COUNT summary;
    the data itself must never flow through row_number() or a one-task sort."""
    df = Q["keyfield_sort"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "row_number()" not in plan
    assert plan.count("Exchange SinglePartition") == 1
    # offsets come back via broadcast join, and both consumers of the
    # enumerated table read the SAME materialization (nondeterministic
    # lineage: range sampling + monotonically_increasing_id)
    assert "BroadcastExchange" in plan
    assert plan.count("InMemoryTableScan") == 2


def test_exact_dedup_never_shuffles_documents(spark):
    """exact_dedup shuffles (digest, id) only; the full text column must
    stay out of the exchange."""
    df = Q["dedup_exact"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    for line in plan.split("\n"):
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, f"document text in shuffle: {line}"


def test_range_join_broadcast_not_cartesian(spark):
    df = Q["range_join"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle_per_side(spark):
    df = Q["asof_join"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    # union + one window: at most 2 exchanges (per-branch reads + window
    # partitioning), no join operator at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Window") >= 1


def test_local_supplier_volume_one_big_shuffle(spark):
    """Q5-shaped: the only shuffle joins the two fact tables; every dim
    side must broadcast, and the order-date filter must reach the scan."""
    df = Q["local_supplier_volume"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, "supplier/customer sides must broadcast"
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "GreaterThanOrEqual(o_orderdate" in _optimized(df)


def test_returned_items_topk_plan(spark):
    """Q10-shaped: returnflag filter pushed to the lineitem scan,
    customer+nation broadcast, top-20 via TakeOrderedAndProject."""
    df = Q["returned_items_topk"].spark_fn(spark, SF_ORACLE)
    full = _optimized(df)
    assert "EqualTo(l_returnflag,R)" in full
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_supplier_part_counts_anti_join_broadcasts(spark):
    """Q16-shaped: the NOT IN compiles to a broadcast anti join, and the
    p_size filter reaches the part scan."""
    df = Q["supplier_part_counts"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "LessThan(p_size,30)" in _optimized(df)


def test_minhash_verification_no_gram_fanout_joins(spark):
    """The LSH verify stage probes collected gram sets — the executed
    plan must not re-join the exploded gram table (which would show as
    >2 aggregates: sig + per-pair intersection count)."""
    df = Q["dedup_minhash_lsh"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "array_intersect" in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """The CompositeInputFormat contract (SURVEY §2.3: pre-partitioned,
    sorted inputs join with no shuffle): two tables bucketed on the join
    key by write_sorted_bucketed must sort-merge join with ZERO
    exchanges."""
    import os
    import shutil

    from hadoop_fcfs_spark.io.writers import write_sorted_bucketed

    a = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name, df in (("bj_left", a), ("bj_right", b)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        write_sorted_bucketed(df, name, "k", num_buckets=8, sort_col="k")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bj_left").join(spark.table("bj_right"), "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("bj_left", "bj_right"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_scan_filter_pushdown_generic(spark):
    """Filters on scans compile to PushedFilters for any table."""
    df = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey")
    )
    full = _optimized(df)
    assert "GreaterThan(o_totalprice,100000" in full
    assert "o_custkey" not in [l for l in full.split("\n") if "ReadSchema" in l][0]

def test_sequence_packing_no_global_data_window(spark):
    """The two-level prefix sum must keep the corpus out of any
    single-partition exchange: the only SinglePartition exchange allowed
    is the one over the per-chunk totals (chunk summary rows)."""
    df = Q["sequence_packing"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange SinglePartition") == 1
    # the data-side window is partitioned by the chunk column
    assert "windowspecdefinition(__chunk" in plan
    # chunk offsets come back via broadcast, not a shuffle join
    assert "BroadcastExchange" in plan


def test_minhash_signature_index_cached(spark):
    """The signature table must be persisted: its four scans (banding
    and the verify probes) would otherwise re-run the scan+shingle+
    64-hash aggregation each."""
    df = Q["dedup_minhash_lsh"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_waypoint_builds_once_before_its_scans(spark):
    """caching.waypoint builds its cache in ONE job before it returns,
    so a query scanning it four times submits no build job of its own
    (left lazy, each scan's TableCacheQueryStage submitted one: 4 + 2
    jobs for the query below); waypoint() on a frame whose cache is
    built runs no job; release_waypoints() leaves no persisted RDD."""
    from hadoop_fcfs_spark.caching import release_waypoints, waypoint

    sc = spark.sparkContext
    group = "test_waypoint_builds_once_before_its_scans"

    def jobs() -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keys())

    release_waypoints()
    before = persisted()
    sc.setJobGroup(group, group)
    try:
        src = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k")
        w = waypoint(src)
        assert jobs() == 1
        four = (
            w.filter("k = 0").union(w.filter("k = 1"))
            .union(w.filter("k = 2")).union(w.filter("k = 3"))
        )
        assert _plan(four).count("InMemoryTableScan") == 4
        built = jobs()
        assert len(four.groupBy("k").count().collect()) == 4
        first = jobs() - built
        assert len(four.groupBy("k").count().collect()) == 4
        again = jobs() - built - first
        assert first == again, (first, again)  # the first run built nothing
        n = jobs()
        waypoint(spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k"))
        assert jobs() == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert persisted() - before
    release_waypoints()
    assert not persisted() - before


@pytest.mark.parametrize("gate", ["dedup_minhash_lsh", "dedup_ngram_jaccard"])
def test_shingles_follow_one_doc_key_shuffle(spark, gate):
    """The shingle kernel moves documents, not grams: one hash
    repartition of (id, text) on the id, no round-robin fan-out, and no
    exchange on doc or (doc, gram) above it — the gram distinct, the
    signature / gram-set aggregate and the set sizes all ride the doc
    partitioning. Distinct normalized Exchange lines of the executed
    plan, the cached signature plan read once."""
    import re

    from scripts.dump_plan import exchange_lines

    df = Q[gate].spark_fn(spark, SF_ORACLE)
    lines = set(exchange_lines(plan_lines(df._jdf.queryExecution())))
    assert not any("RoundRobinPartitioning" in ln for ln in lines), lines
    assert not any(
        re.search(r"hashpartitioning\(doc(, gram\w*)?, \d+\), ENSURE_REQUIREMENTS", ln)
        for ln in lines
    ), lines
    by_doc = [
        ln for ln in lines
        if re.fullmatch(r"Exchange hashpartitioning\(doc, \d+\), REPARTITION_BY_NUM", ln)
    ]
    assert len(by_doc) == 1, lines


@pytest.mark.parametrize("gate", ["dedup_ngram_jaccard", "containment_dedup"])
def test_exact_jaccard_shingles_once_per_join_side(spark, gate):
    """ngram_jaccard_pairs / containment_pairs carry each gram-set size
    on its (doc, gram) row as a per-doc window (no exchange: the gram
    table is doc-partitioned), so the two gram-join sides are the only
    shingling passes — no sizes aggregate shingles the text again, and
    no join is keyed on the doc columns."""
    plan = _plan(Q[gate].spark_fn(spark, SF_ORACLE))
    assert plan.count("Generate explode") == 2, plan
    assert "windowspecdefinition(doc" in plan, plan
    for ln in plan.splitlines():
        assert not ("Join" in ln and "[doc_a" in ln), ln
        assert not ("Join" in ln and "[doc_b" in ln), ln


def test_forecast_revenue_full_pushdown(spark):
    df = Q["forecast_revenue"].spark_fn(spark, SF_ORACLE)
    full = _optimized(df)
    scan_line = [l for l in full.split("\n") if "FileScan parquet" in l][0]
    # discount/quantity predicates reach the scan (the PushedFilters list
    # is ...-truncated in toString, so assert on the visible prefix)
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual(l_discou" in scan_line
    cols = scan_line.split("[", 1)[1].split("]", 1)[0]
    for unused in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert unused not in cols, f"unpruned column {unused}"


def test_volume_shipping_broadcasts_nation_dims(spark):
    df = Q["volume_shipping"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastExchange") >= 2  # both nation aliases


def test_contamination_check_broadcasts_benchmark_side(spark):
    df = Q["contamination_check"].spark_fn(spark, SF_ORACLE)
    assert "BroadcastExchange" in _plan(df)


def test_textan_scoring_ops_no_shuffle(spark):
    """normalize / scrub / token counts / chunking are pure per-row
    pipelines — zero exchanges in the whole plan."""
    for name in ("text_normalize", "pii_scrub", "chunk_documents"):
        plan = _plan(Q[name].spark_fn(spark, SF_ORACLE))
        assert "Exchange" not in plan, f"{name} shuffles but must not"


def test_latest_by_key_bounded_window_state(spark):
    """rank=1 compaction must compile to WindowGroupLimit (O(1) per-group
    state), not a full per-group sort."""
    df = Q["latest_event_per_user"].spark_fn(spark, SF_ORACLE)
    assert "WindowGroupLimit" in _plan(df)


def test_grouped_topk_bounded_window_state(spark):
    """Per-group top-k rank filter must also bound window state."""
    df = Q["grouped_topk"].spark_fn(spark, SF_ORACLE)
    assert "WindowGroupLimit" in _plan(df)


def test_skew_salted_agg_two_stage(spark):
    """Stage-1 partials on (key, salt) then a per-key merge: two hash
    aggregates, and the stage-1 grouping must include the salt column."""
    df = Q["skew_salted_agg"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "__salt" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for each stage


def test_runtime_bloom_filter_join_injection(spark):
    """Runtime row-level filtering: a selective build side injects a bloom
    filter onto the probe-side scan (Spark's InjectRuntimeFilter), so at
    cluster scale the fact table drops non-joining rows BEFORE the
    shuffle — the engine-native BloomMapFile analog for joins. Local
    thresholds are forced; the assertion is that the mechanism engages
    (might_contain on the probe filter, bloom_filter_agg on the build)."""
    from hadoop_fcfs_spark.tables import t

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = t(spark, SF_ORACLE, "lineitem")
        orders = t(spark, SF_ORACLE, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_salted_join_spreads_and_matches(spark):
    """salted_join: row-count identity vs the plain join, and the physical
    join key includes the salt (16-way key spread)."""
    from hadoop_fcfs_spark.ops.skew import salted_join
    from hadoop_fcfs_spark.tables import t

    ev = t(spark, SF_ORACLE, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    salted = salted_join(ev, dim, ["event_type"], salt_n=16)
    assert salted.count() == ev.join(dim, "event_type").count()
    assert "__salt" in _plan(salted)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(ev, dim.withColumnRenamed("type_avg", "value"), ["event_type"])
    with _pytest.raises(ValueError):
        salted_join(ev, dim, ["event_type"], how="right")


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """The point of Z-order: every output file covers a small rectangle
    of the 2-D key space, so parquet min/max stats prune scans filtered
    on EITHER dimension. Linear sort layout leaves dim-2 unbounded
    (~full range per file); z-order bounds both."""
    from hadoop_fcfs_spark.ops.layout import zorder_by

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"),
        F.shiftright("id", 8).bitwiseAND(F.lit(255)).alias("y"),
    )

    def per_file_ranges(path):
        df = spark.read.parquet(path).select(
            F.input_file_name().alias("f"), "x", "y"
        )
        return (
            df.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("xr"),
                (F.max("y") - F.min("y")).alias("yr"),
            )
            .collect()
        )

    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "l")
    zorder_by(grid, ["x", "y"], bits=8, num_partitions=16).write.parquet(zdir)
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(ldir)

    zr = per_file_ranges(zdir)
    lr = per_file_ranges(ldir)
    # linear: x tightly bounded but y spans ~the full 0..255 range per file
    assert sum(r["yr"] for r in lr) / len(lr) > 200
    # z-order: BOTH dims bounded in aggregate. Sampled range boundaries
    # don't align to z-quadrant edges, so a couple of straddler files can
    # span a full dimension — the locality claim is the typical file,
    # not the worst straddler.
    worst = sorted(max(r["xr"], r["yr"]) for r in zr)
    assert worst[len(worst) // 2] <= 128          # median file: quadrant-sized
    assert sum(worst) / len(worst) < 140          # mean well under full range
    assert sum(1 for m in worst if m <= 128) >= len(worst) - 3


def test_compact_files_hits_target_count(spark, tmp_path):
    """64 small files -> ~4 compacted files sized from on-disk bytes
    (the write-side half of CombineFileInputFormat)."""
    import glob

    from hadoop_fcfs_spark.ops.layout import compact_files
    from hadoop_fcfs_spark.tables import t

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    t(spark, SF_ORACLE, "orders").repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64
    total = sum(__import__("os").path.getsize(p) for p in glob.glob(f"{src}/part-*"))
    n = compact_files(spark, src, dst, target_file_bytes=total // 4)
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == n <= 6
    # same rows round-tripped
    assert spark.read.parquet(dst).count() == spark.read.parquet(src).count()


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Hive-style partitioned layout + a partition-column filter must
    prune at PLANNING time: the scan's PartitionFilters carry the
    predicate and only matching directories are read — the coarse-grain
    layer above z-order's row-group pruning."""
    from hadoop_fcfs_spark.tables import t

    path = str(tmp_path / "by_status")
    t(spark, SF_ORACLE, "orders").write.partitionBy("o_orderstatus").parquet(path)
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = _optimized(df)
    scan = [l for l in plan.split("\n") if "FileScan parquet" in l][0]
    assert "PartitionFilters" in scan and "o_orderstatus" in scan.split("PartitionFilters", 1)[1]
    # and the scan actually reads fewer files than the full table
    n_all = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    n_pruned = df.select(F.input_file_name()).distinct().count()
    assert n_pruned < n_all


def test_quantile_buckets_no_global_ntile_window(spark):
    """Deciles via ranked_total_order's two-level decomposition: no
    ntile/row_number over an unpartitioned full-table window; the global
    order is a range partitioning."""
    plan = _plan(Q["quantile_buckets"].spark_fn(spark, SF_ORACLE))
    assert "ntile" not in plan and "row_number" not in plan
    assert "rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") <= 1  # offsets summary only


def test_rank_normalize_no_global_ntile_window(spark):
    """rank_normalize rebuilt on ranked_total_order + ntile_from_rank
    (VERDICT r3 #5): exact NTILE values, no unpartitioned data-sized
    window anywhere in the plan."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.layout import rank_normalize

    df = spark.range(100).select(
        (F.col("id") * 37 % 100).alias("v"), F.col("id").alias("rid")
    )
    out = rank_normalize(df, "v", "rid", bits=4)
    plan = _plan(out)
    assert "ntile" not in plan and "row_number" not in plan
    assert "rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") <= 1  # offsets summary only
    # exact NTILE semantics: 100 rows into 16 buckets -> first 4 buckets
    # hold 7 rows (remainder front-loaded), rest 6
    sizes = sorted(
        (r["v_znorm"], r["n"])
        for r in out.groupBy("v_znorm").agg(F.count("*").alias("n")).collect()
    )
    assert [n for _, n in sizes] == [7] * 4 + [6] * 12
    assert [b for b, _ in sizes] == list(range(16))
    release_waypoints()


def test_concurrent_events_chunked_scan(spark):
    """The sweep-line running sum must window on (event_type, __chunk),
    never on event_type alone — a hot type's timeline stays parallel."""
    plan = _plan(Q["concurrent_events"].spark_fn(spark, SF_ORACLE))
    assert "__chunk" in plan
    data_windows = [
        l for l in plan.splitlines()
        if "windowspecdefinition(event_type" in l and "__chunk" not in l
    ]
    # the only per-type-only window is the offsets pass over chunk
    # summaries (operates on __tot), never over the point data (delta)
    assert all("__tot" in l for l in data_windows), data_windows


def test_weighted_sample_bounded_plans(spark):
    """Global form must be TakeOrderedAndProject (k-bounded driver
    merge), stratified form a WindowGroupLimit-bounded window — never a
    global sort of the keyed data."""
    from hadoop_fcfs_spark.ops.sampling import weighted_sample_k
    from hadoop_fcfs_spark.tables import t

    orders = t(spark, SF_ORACLE, "orders")
    g = _plan(weighted_sample_k(orders, "o_orderkey", "o_totalprice", 10))
    assert "TakeOrderedAndProject" in g
    s = _plan(
        weighted_sample_k(
            orders, "o_orderkey", "o_totalprice", 10, stratum_col="o_orderstatus"
        )
    )
    assert "WindowGroupLimit" in s


@pytest.mark.parametrize("gate", ["bm25_retrieval", "tf_idf"])
def test_bm25_no_vocabulary_broadcast(spark, gate):
    """The term-statistics kernel under BM25 and TF-IDF: no cartesian
    beyond the 1-row scalar cross join, and documents tokenized once.
    BM25's top-20 must be TakeOrderedAndProject (not a global sort).
    (AQE legitimately broadcasts the vocab-sized tables at sf0.01; the
    scale contract — never FORCE that broadcast — lives in the code,
    which only hints F.broadcast on the scalar row.)"""
    bm25 = gate == "bm25_retrieval"
    df = Q[gate].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert ("TakeOrderedAndProject" in plan) == bm25
    assert "CartesianProduct" not in plan
    # the only explicit broadcast HINT is the scalar: check the optimized
    # logical plan carries exactly one user hint
    assert _optimized(df).count("UnresolvedHint broadcast") <= 1
    # one tokenize pass: a single explode feeds tf and doc_freq, dl rides
    # with the (id, term) pair instead of a doc-length table joined back
    # on id, and the shuffles are the term partitioning, the scalar row
    # and (BM25) the final per-doc sum
    nodes = [l.lstrip(" :+-") for l in plan.splitlines()]
    assert sum(n.startswith("Generate ") for n in nodes) == 1
    joins = [n for n in nodes if "Join" in n.split(" ", 1)[0]]
    assert not any("doc_id#" in n for n in joins), joins
    shuffles = [n for n in nodes if n.startswith("Exchange ")]
    assert len(shuffles) <= 3, shuffles
    # each text is split once per branch that reads it: the term branch,
    # plus BM25's avgdl branch (tf_idf reads only N, so that split prunes)
    qe = df._jdf.queryExecution()
    formatted = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    assert 1 <= formatted.count("split(") <= (2 if bm25 else 1)


def test_merge_upsert_single_outer_join(spark):
    """apply_changeset = ONE full-outer join on the key (plus the
    changeset-derivation window, bounded per customer)."""
    df = Q["merge_upsert_customers"].spark_fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.lower().count("fullouter") == 1


def test_stats_tier_aggregate_first(spark):
    """zscore windows over grain summaries only (no window over raw
    events) and scans raw data once; corr does all pairwise moments in
    one scan; MI's marginals/total/terms all read the PERSISTED
    contingency table — exactly one raw scan each (the waypoint exists
    because Catalyst re-derives common DataFrame subplans per consumer;
    `_plan` shows a cached plan once, so each FileScan line is a scan
    that runs)."""
    from hadoop_fcfs_spark.caching import release_waypoints

    a = _plan(Q["daily_event_anomaly"].spark_fn(spark, SF_ORACLE))
    assert "Window" not in a  # stats via groupBy+join, no window at all
    # both consumers (stats agg + final join) read the persisted grain
    # summaries
    assert a.count("InMemoryTableScan") == 2
    c = _plan(Q["lineitem_corr"].spark_fn(spark, SF_ORACLE))
    assert c.count("FileScan") == 1
    m = _plan(Q["orders_mutual_info"].spark_fn(spark, SF_ORACLE))
    # every consumer (terms join, marginals, total, cardinality row)
    # reads the persisted contingency table: the one FileScan is the
    # cached plan's (no free-standing un-cached scan of the raw table)
    assert m.count("InMemoryTableScan") >= 4
    assert m.count("FileScan") == 1
    release_waypoints()


def test_no_unallowed_unpartitioned_windows_static_sweep():
    """Package-wide sweep (VERDICT r3 #5): every `Window.orderBy(...)`
    WITHOUT a partitionBy must be one of the audited bounded cases —
    either a summary-row prefix sum (per-partition counts / chunk
    totals) or a rank-filter gate whose window input is plan-asserted
    TakeOrderedAndProject-bounded. A new unpartitioned window anywhere
    else fails this test until it's audited and listed. The empty
    `Window.partitionBy()` whole-frame window is the same funnel and
    is swept against its own allowlist."""
    import ast
    import pathlib

    ALLOWED = {
        # (file, enclosing function): why it's bounded
        # two-level scan kernel (ranked_total_order, global_running_sum/max,
        # global_as_of_join): offsets over the per-partition summary rows
        ("ops/sort.py", "_range_scan"),
        ("ops/stats.py", "pareto_frontier"),         # prefix max over one-row-per-chunk summary
        ("ops/stats.py", "kaplan_meier"),            # risk/product windows over duration-grain summary
        ("ops/stats.py", "restricted_mean_survival"),  # LEAD over the same duration-grain summary
        ("ops/stats.py", "aalen_johansen"),          # same duration-grain summary windows (KM family)
        ("queries_relational.py", "topk_orders"),    # TakeOrderedAndProject(limit=k) plan-asserted
        ("queries_relational.py", "shipping_priority"),
        ("queries_relational.py", "grep_top"),
        ("queries_relational.py", "returned_items_topk"),
        # both ranker windows run AFTER top_k(100) TakeOrdered-bounds
        # the input — 100-row windows by construction
        ("queries_llm.py", "hybrid_rank_fusion"),
        # 10-row decile-summary cumulative window
        ("queries_relational.py", "lorenz_deciles"),
        # r11 SPC/serial-correlation tier: lag/rolling/row-number
        # windows over the calendar-bounded DAY grain (kaplan_meier
        # precedent — bounded by the observation span, never events)
        ("ops/stats.py", "nelson_rules"),
        ("ops/stats.py", "zone_rules"),
        ("ops/stats.py", "zone_rolling"),  # zone_rules' rolling helper
        ("ops/stats.py", "durbin_watson"),
        # r12: one lag over the calendar-bounded day grain (same
        # kaplan_meier rationale as the rest of the SPC tier)
        ("ops/stats.py", "runs_test"),
        # non-NULL group id over the coalesced G-row group table
        ("ops/stats.py", "ks_group_drift"),
    }
    # Empty `Window.partitionBy()` whole-frame windows, each over a
    # summary table bounded by a small dimension
    ALLOWED_WHOLE_FRAME = {
        ("ops/sampling.py", "temperature_mix"),  # totals over the coalesced #groups-row count table
        ("ops/stats.py", "ks_group_drift"),      # corpus total over the coalesced G-row group table
        ("llm/dsir.py", "dsir_log_weights"),     # totals over the <= num_buckets-row bucket stats
    }
    root = pathlib.Path("hadoop_fcfs_spark")
    found, whole_frame = set(), set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        # map every node to its enclosing function name
        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("orderBy", "partitionBy")
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
            ):
                if node.func.attr == "orderBy":
                    found.add((str(path.relative_to(root)), fn))
                elif not node.args and not node.keywords:
                    whole_frame.add((str(path.relative_to(root)), fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)
        visit(tree, "<module>")
    assert found <= ALLOWED, f"unaudited unpartitioned windows: {sorted(found - ALLOWED)}"
    # the allowlist shouldn't rot either: entries must still exist
    assert found == ALLOWED, f"stale allowlist entries: {sorted(ALLOWED - found)}"
    assert whole_frame == ALLOWED_WHOLE_FRAME, (
        f"unaudited whole-frame windows: {sorted(whole_frame - ALLOWED_WHOLE_FRAME)}; "
        f"stale entries: {sorted(ALLOWED_WHOLE_FRAME - whole_frame)}"
    )


def test_no_unallowed_driver_collects_static_sweep():
    """Companion sweep: every `.collect()` / `.toPandas()` in the package
    must be one of the audited k- or partition-bounded cases (k-means
    seeds/centroids, 16 fixture vectors, tera first/last keys). A new
    driver-side materialization anywhere else fails until audited."""
    import ast
    import pathlib

    ALLOWED = {
        ("llm/similarity.py", "kmeans_centroids"),  # k seed rows / k centroid rows
        ("llm/similarity.py", "_lloyd_quantize_fit"),  # k seeds + k*dim update rows per iteration, iterations bounded
        ("llm/similarity.py", "pc_projection_outliers"),  # d direction components (kmeans-centroid class)
        ("queries_llm.py", "ann_ivf_topk"),          # 16 fixture quantizer vectors
        ("queries_llm.py", "ann_ivf_recall"),        # 16 fixture quantizer vectors
        ("queries_llm.py", "ann_ivf_recall_curve"),  # 16 fixture quantizer vectors (r13)
        ("queries_llm.py", "ann_pq_adc_topk"),       # 8 codebook vectors
        ("queries_llm.py", "ann_ivf_pq_topk"),       # 16 cents + 8 codebook vectors
        ("queries_llm.py", "pq_distortion_audit_gate"),  # 8 codebook vectors
        ("queries_llm.py", "ann_rp_lsh_topk"),       # 16 fixture query vectors
        ("queries_llm.py", "semdedup_gate"),         # 16 fixture quantizer vectors
        ("bench/tera.py", "teravalidate"),           # first/last key per partition
        ("llm/bpe.py", "learn_bpe_merges"),          # 1-row argmax per merge (k-means-centroid precedent)
        ("llm/bpe.py", "learn_wordpiece_vocab"),     # 1-row argmax per merge (same precedent, r14)
        ("llm/bpe.py", "unigram_lm_em"),             # piece-grain model reads, max_pieces-capped with an eager raise (r14)
        ("llm/similarity.py", "kcenter_greedy"),     # 1 seed + 1 argmax row per step, k rows total
        ("llm/dsir.py", "greedy_max_coverage"),      # 1 argmax row per pick, k rows total (kcenter precedent)
        ("__main__.py", "main"),                     # CLI verify: result display/compare IS the job
    }
    root = pathlib.Path("hadoop_fcfs_spark")
    found = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                found.add((str(path.relative_to(root)), fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(tree, "<module>")
    assert found <= ALLOWED, f"unaudited driver collects: {sorted(found - ALLOWED)}"


def test_teravalidate_is_one_jvm_pass(spark):
    """TeraValidate after TeraSort runs as one partition-local JVM pass:
    the executed plan's only shuffle is the sort's range exchange, both
    local re-sorts survive (the nondeterministic ids between them keep
    EliminateSorts from dropping the first), the counters ride a
    CollectMetrics node, and no Python exec node starts a worker. It
    takes no more jobs than the Python per-partition pass did (3 at
    50 000 rows), and bench/tera.py never drops to the RDD API."""
    import ast
    import pathlib
    import re

    from hadoop_fcfs_spark.bench.tera import _validation, teragen, terasort, teravalidate

    edges, _ = _validation(terasort(teragen(spark, 50_000)), "key")
    edges.collect()
    plan = _plan(edges).split("== Initial Plan ==")[0]
    assert re.findall(r"Exchange (\w+)", plan) == ["rangepartitioning"], plan
    assert len(re.findall(r"Sort \[[^\n]*\], false, 0", plan)) == 2, plan
    assert "CollectMetrics" in plan
    assert not re.search(r"Python|Pandas|Arrow", plan), plan

    sc = spark.sparkContext
    group = "test_plans:teravalidate"
    sc.setJobGroup(group, group)
    try:
        assert teravalidate(terasort(teragen(spark, 50_000)))["ok"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3

    tree = ast.parse(pathlib.Path("hadoop_fcfs_spark/bench/tera.py").read_text())
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.Attribute) and n.attr == "rdd"]


def test_cooccurrence_is_one_explode_no_join(spark):
    """Pair generation stays inside the token array: the physical plan
    has Generate (one explode of the final pair array) and NO join —
    the positions-self-join shape the naive formulation would pay."""
    from hadoop_fcfs_spark.ops.textops import cooccurrence_pairs

    df = spark.createDataFrame([("a b c d",)], "text string")
    plan = cooccurrence_pairs(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan
    assert "Join" not in plan


def test_prefilter_semi_join_digest_side_broadcasts(spark):
    """Stage 1 of hash_prefilter_semi_join must be a broadcast hash
    join on the digest (big side never shuffles for the prefilter)."""
    from hadoop_fcfs_spark.ops.joins import hash_prefilter_semi_join

    big = spark.range(0, 1000).select(F.col("id").alias("k"))
    small = spark.range(0, 50).select(F.col("id").alias("k"))
    plan = (
        hash_prefilter_semi_join(big, small, "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1
    assert "xxhash64" in plan


def test_trending_parts_rank_is_window_group_limit(spark):
    """The monthly top-5 rank filter must compile to WindowGroupLimit
    (per-month rankings truncate to 5 rows during partial aggregation),
    not a full per-month ranking through one task."""
    from hadoop_fcfs_spark.registry import all_queries

    df = all_queries()["trending_parts"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_r5_ranking_gates_bounded_window_state(spark):
    """The round-5 ranking gates must keep per-key window state bounded:
    the recommender's per-item top-3 and the diversified top-k's
    per-group cap both compile to WindowGroupLimit (a hot item/customer
    at 100x scale would otherwise sort its whole candidate list in one
    task), and the diversified gate's global stage is TakeOrdered."""
    rec = _plan(Q["copurchase_eval_topk"].spark_fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in rec
    kw = _plan(Q["doc_keywords"].spark_fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in kw
    div = _plan(Q["diversified_top_orders"].spark_fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in div
    assert "TakeOrderedAndProject" in div
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()


def _distinct_exchange_ids(plan: str, kind: str) -> set:
    """Distinct plan_ids of Exchange nodes of the given partitioning
    kind — the printed tree repeats a REUSED subtree at every consumer,
    so counting raw occurrences over-counts; plan_id identity doesn't."""
    import re

    return {
        m.group(1)
        for m in re.finditer(
            rf"Exchange {kind}[^\n]*\[plan_id=(\d+)\]", plan
        )
    }


def test_group_grain_tables_ride_one_partition(spark):
    """Group-grain tables (sources, shards, languages) stay in the one
    partition their aggregate is coalesced to (SCALING.md, "Group-grain
    tables ride one partition"): ks_group_drift's G-row output is
    sorted inside that partition, never range-shuffled, and its corpus
    total is a window over the coalesced group table, never a
    SinglePartition aggregate; temperature_mix's totals window reuses
    its coalesced count table the same way. Each range or
    SinglePartition exchange would be one more Spark job per query."""
    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.sampling import temperature_mix
    from hadoop_fcfs_spark.ops.stats import ks_group_drift

    df = spark.createDataFrame(
        [(f"s{i % 3}", i % 17) for i in range(200)], "g string, v long"
    )
    ks = _plan(ks_group_drift(df, "v", "g"))
    v7 = _plan(Q["corpus_pipeline_v7"].spark_fn(spark, SF_ORACLE))
    for plan in (ks, v7):
        assert not _distinct_exchange_ids(plan, "rangepartitioning"), plan
        assert not _distinct_exchange_ids(plan, "SinglePartition"), plan
    docs = spark.createDataFrame(
        [(f"l{i % 5}", i) for i in range(500)], "lang string, doc_id int"
    )
    tm = _plan(temperature_mix(docs, "lang", "doc_id", 1, 2))
    assert not _distinct_exchange_ids(tm, "SinglePartition"), tm
    release_waypoints()


def test_global_as_of_join_single_range_exchange(spark):
    """global_as_of_join's contract (r5): ONE range shuffle of the
    tagged union does all the data movement; the per-partition carry-in
    joins back as a BROADCAST of #partitions summary rows; and the
    data-sized window is partition-bounded (__pid, __mid) — never a
    global ORDER BY window over the data."""
    from datetime import datetime, timedelta

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.joins import global_as_of_join

    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(base + timedelta(hours=i), i) for i in range(50)], "ts timestamp, x int"
    )
    right = spark.createDataFrame(
        [(base + timedelta(hours=3 * i), i * 10) for i in range(15)],
        "rts timestamp, v int",
    )
    df = global_as_of_join(left, right, "ts", "rts", ["v"])
    plan = _plan(df)
    # exactly one range-partitioning exchange (the tagged-union shuffle)
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    # carry-in comes back via broadcast joins, never a second data shuffle
    assert "BroadcastHashJoin" in plan
    # every data-sized window is partition-bounded on __pid
    for line in plan.split("\n"):
        if "windowspecdefinition(__pid" in line and "__mid" in line:
            break
    else:
        raise AssertionError(f"no __pid-bounded window found:\n{plan}")
    release_waypoints()


def test_ks_two_sample_one_range_pass(spark):
    """ks_two_sample (r5 hardening): BOTH cumulative columns ride ONE
    global_running_sum range shuffle over the value grain (the naive
    formulation pays two), and the grain collapse is a map-side-combined
    aggregate BEFORE the range shuffle — the shuffle carries the
    distinct-value grain, not raw rows."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["ks_price_returnflag"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, (
        "KS must make exactly one range pass carrying both CDF columns"
    )
    # grain collapse with partial (map-side) aggregation feeds the pass
    assert "partial_sum" in plan
    release_waypoints()


def test_poisson_bootstrap_repartition_before_explode(spark):
    """poisson_bootstrap_mean: the xR replicate explode multiplies
    per-row COMPUTE, so the input must be spread round-robin BEFORE the
    Generate (one parquet file = one task would otherwise eat the whole
    xR cost — the exact r5 gotcha, 16.9 -> 8.4 s cold); CI bounds are
    TakeOrdered-bounded selections, never a global sort/window."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["bootstrap_mean_totalprice"].spark_fn(spark, SF_ORACLE))
    gen = plan.index("Generate explode")
    rr = plan.index("Exchange RoundRobinPartitioning", gen)
    assert gen < rr, "explode must sit ABOVE (consume) the round-robin spread"
    assert "TakeOrderedAndProject(limit=3" in plan
    # replicate aggregation is map-side combined: the post-explode
    # shuffle carries R x partitions summary rows only
    assert "partial_sum((__w" in plan
    release_waypoints()


def test_basket_pairs_two_shuffles_no_predistinct(spark):
    """basket_pairs pays exactly TWO hash exchanges (basket collapse,
    pair count) — the r5-advice pre-distinct added a third full shuffle
    on every pair/triple/RA path; collect_set dedups already."""
    from hadoop_fcfs_spark.ops.affinity import basket_pairs

    df = spark.createDataFrame(
        [(i % 7, f"it{i % 5}") for i in range(100)], "b int, it string"
    )
    plan = _plan(basket_pairs(df, "b", "it"))
    assert len(_distinct_exchange_ids(plan, "hashpartitioning")) == 2, plan


def test_temperature_mix_data_never_shuffles(spark):
    """temperature_mix's scale claim: the DATA rows never shuffle —
    the group-count summary aggregates (its own small exchanges) and
    rejoins as a BROADCAST; the keep/drop decision is a pure per-row
    md5 filter. A hash exchange carrying the id column would mean the
    corpus itself moved."""
    from hadoop_fcfs_spark.ops.sampling import temperature_mix

    df = spark.createDataFrame(
        [(f"l{i % 5}", i) for i in range(500)], "lang string, doc_id int"
    )
    plan = _plan(temperature_mix(df, "lang", "doc_id", 1, 2))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # no data-carrying shuffle: every hash exchange in the plan is over
    # the group summary (count column), never over the id rows
    for line in plan.split("\n"):
        if "Exchange hashpartitioning" in line:
            assert "doc_id" not in line, line


def test_encode_ops_data_never_shuffles(spark):
    """loo_target_encode / woe_iv scale claims: the only aggregates
    are category/bin-keyed summaries that BROADCAST back — the data
    rows themselves never ride a hash exchange (same contract as
    temperature_mix)."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.encode import loo_target_encode, woe_iv

    df = spark.createDataFrame(
        [("c%d" % (i % 4), i, float(i % 50), i % 3 == 0) for i in range(300)],
        "cat string, rid int, y double, flag boolean",
    )
    loo = _plan(loo_target_encode(df, "cat", "y"))
    assert "BroadcastHashJoin" in loo
    for line in loo.split("\n"):
        if "Exchange hashpartitioning" in line:
            assert "rid" not in line, line
    woe = _plan(woe_iv(df, F.col("cat"), F.col("flag")))
    # per-bin + totals aggregates only; the rejoin is a broadcast
    assert "BroadcastNestedLoopJoin" in woe or "BroadcastHashJoin" in woe
    for line in woe.split("\n"):
        if "Exchange hashpartitioning" in line:
            assert "rid" not in line, line


def test_roc_auc_one_range_pass(spark):
    """roc_auc (r6): the AUC rank pass is ONE global_running_sum range
    shuffle over the distinct-SCORE grain — the grain collapse is a
    map-side-combined aggregate BEFORE it (the shuffle never carries raw
    rows), and the final (n_pos, n_neg, u2) reduction is a scalar
    aggregate, not a window or sort."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["roc_auc_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "partial_sum" in plan
    # the scan collapses to the grain FIRST: the range shuffle's input is
    # the aggregated grain relation, and no global sort/top-k appears
    assert "TakeOrderedAndProject" not in plan
    assert len(_distinct_exchange_ids(plan, "hashpartitioning")) == 3, (
        "grain collapse + the two grs-internal __pid passes only "
        "(both over grain/summary rows, never raw orders)"
    )
    release_waypoints()


def test_calibration_bins_broadcast_total_one_range_pass(spark):
    """calibration_bins (r6): one range pass over the score grain; the
    scalar row-count total joins back as a BROADCAST nested-loop (one
    summary row), never a second data shuffle; the per-bin rollup is
    map-side combined over n_bins keys."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["calibration_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_sum" in plan
    release_waypoints()


def test_brier_one_range_pass(spark):
    """brier_decomposition (r7): rides calibration_bins' machinery —
    ONE global_running_sum range pass over the distinct-score grain
    (map-side-combined collapse before it), broadcast scalar totals,
    and a bin-count-bounded final reduce; no sort, no window, no top-k
    over data rows."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["brier_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the scalar-total joins
    release_waypoints()


def test_feature_hash_single_data_shuffle(spark):
    """feature_hash (r7): the tokenize+explode is a projection; the ONLY
    data shuffle is the (doc, feat_idx) grain collapse (map-side
    combined). The profile gate adds exactly one more: the D-key
    rollup."""
    from hadoop_fcfs_spark.ops.encode import feature_hash
    from hadoop_fcfs_spark.tables import t

    docs = t(spark, SF_ORACLE, "documents")
    vec_plan = _plan(feature_hash(docs, "doc_id", "text", 64))
    assert len(_distinct_exchange_ids(vec_plan, "hashpartitioning")) == 1
    assert "partial_sum" in vec_plan
    gate_plan = _plan(Q["feature_hash_profile"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(gate_plan, "hashpartitioning")) == 2
    assert "Window" not in gate_plan


def test_js_divergence_bounded_grid(spark):
    """js_divergence_binned (r7): one (group, bucket) data aggregation;
    the dense grid is built from BROADCAST small sides (no sort-merge
    join anywhere, no window); the JSD reduce runs over the bounded
    grid only."""
    plan = _plan(Q["js_drift_sources"].spark_fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_scalar_stats_single_exchange(spark):
    """ab_power_required_n / smd_balance / fleiss_kappa (r7): the
    group-moment tier stays one (or for fleiss: two chained)
    map-side-combined aggregation(s) — no window, no sort, no join of
    data rows."""
    for name in ("ab_power_priorities", "smd_balance_nations"):
        plan = _plan(Q[name].spark_fn(spark, SF_ORACLE))
        assert len(_distinct_exchange_ids(plan, "hashpartitioning")) == 1, name
        assert "Window" not in plan and "SortMergeJoin" not in plan, name
    fl = _plan(Q["fleiss_langid"].spark_fn(spark, SF_ORACLE))
    assert "Window" not in fl
    assert "partial_sum" in fl


def test_blocking_quality_equi_candidates(spark):
    """mingram_blocking_quality (r7): the candidate stage is an EQUI
    join on one min-shingle key per doc (never a cartesian product);
    scalar counts come back as broadcast 1-row joins."""
    plan = _plan(Q["blocking_quality_mingram"].spark_fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar joins


def test_conformal_threshold_chunked_windows(spark):
    """conformal_threshold (r7): the per-group cumulative rides
    chunked_running_sum — every Window in the plan is partition-keyed
    (no unpartitioned data-grain window), and the crossing is a plain
    aggregation, not a sort or top-k."""
    from hadoop_fcfs_spark.caching import release_waypoints

    import re

    release_waypoints()
    plan = _plan(Q["conformal_threshold_prices"].spark_fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" not in plan
    # every window is keyed by the group (level 1 adds the chunk key):
    # no unpartitioned data-grain window anywhere
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "chunked_running_sum windows must appear"
    for spec in specs:
        assert "__g" in spec, f"unkeyed window in plan: {spec}"
    assert "partial_sum" in plan
    release_waypoints()


def test_info_gain_single_melt_shuffle(spark):
    """info_gain (r7): auditing K features costs ONE data shuffle (the
    melted (feature, value, label) grain) + bounded rollups — never one
    pass per feature; label marginal comes back broadcast."""
    plan = _plan(Q["info_gain_orders"].spark_fn(spark, SF_ORACLE))
    assert "Generate posexplode" in plan or "posexplode" in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row H(y) join


def test_t_closeness_grid_windows_are_class_keyed(spark):
    """t_closeness_audit (r7): the EMD cumulative runs over the dense
    class x bucket GRID with class-keyed windows (bounded by the
    global bucket count), never over data rows; small sides broadcast
    into the grid."""
    plan = _plan(Q["t_closeness_customers"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "c_nationkey" in spec, f"unkeyed window in plan: {spec}"


def test_mrr_composes_bounded_topk(spark):
    """knn_mrr_labels (r7): rides cosine_topk's bounded ranking (10
    queries x top-10) — per-query-key windows only, broadcast query
    side, no corpus-wide sort."""
    plan = _plan(Q["knn_mrr_labels"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "query_id" in m.group(1), "window must be query-keyed"


def test_bradley_terry_node_shaped_iterations(spark):
    """bradley_terry (r6, reshaped r7): the comparison log collapses to
    the match-up grain in ONE map-side-combined exchange behind an eager
    localCheckpoint (iterations re-scan the checkpoint, never the log),
    each MM step is two SHUFFLE_HASH node-state joins (no per-iteration
    edge sort, no broadcast of unbounded node state) + a map-side
    combined node aggregation, per-iteration __raw is materialized
    node-grain (feeds the scalar max AND the projection once), and
    normalization is a broadcast scalar max."""
    from hadoop_fcfs_spark.ops.ranking import (
        _edge_collapse,
        _mm_denominator,
        bradley_terry,
    )

    df = spark.createDataFrame(
        [("a", "b")] * 3 + [("b", "c"), ("c", "a")],
        "winner string, loser string",
    )
    # stage 1: the log collapse is a SINGLE hash exchange, combined
    col_plan = _plan(_edge_collapse(df, "winner", "loser"))
    assert len(_distinct_exchange_ids(col_plan, "hashpartitioning")) == 1
    assert "partial_sum" in col_plan
    # stage 2: one MM step over checkpointed state — hash joins, not
    # sort-merge, not broadcast; node agg map-side combined
    edges = _edge_collapse(df, "winner", "loser").localCheckpoint(eager=True)
    from pyspark.sql import functions as F

    p0 = edges.select(F.col("i").alias("node")).distinct().select(
        "node", F.lit(1_000_000).cast("long").alias("p")
    )
    d_plan = _plan(_mm_denominator(edges, p0))
    assert d_plan.count("ShuffledHashJoin") == 2, d_plan
    assert "SortMergeJoin" not in d_plan
    assert "BroadcastHashJoin" not in d_plan
    assert "partial_sum" in d_plan
    # stage 3: the composed operator's final plan reads ONLY
    # checkpointed node-grain state (raw log in no scan) and the
    # normalization is the broadcast scalar max
    out = bradley_terry(df, "winner", "loser", iterations=2)
    plan = _plan(out)
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "LocalTableScan" not in plan, "raw log must not be rescanned"


def test_shard_assignment_is_pure_projection(spark):
    """shard_assignment (r6): the export shard key is a per-row
    expression — NO exchange of any kind; corpus_pipeline_v6 therefore
    pays exactly one aggregation exchange beyond the v5 stages it
    composes (the n_shards-key manifest rollup)."""
    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.sampling import shard_assignment
    from hadoop_fcfs_spark.tables import t

    docs = t(spark, SF_ORACLE, "documents")
    plan = _plan(shard_assignment(docs, "doc_id", 8))
    assert "Exchange" not in plan, plan

    v5 = _plan(Q["corpus_pipeline_v5"].spark_fn(spark, SF_ORACLE))
    release_waypoints()
    v6 = _plan(Q["corpus_pipeline_v6"].spark_fn(spark, SF_ORACLE))
    release_waypoints()
    v5_shared = len(_distinct_exchange_ids(v5, "hashpartitioning"))
    v6_total = len(_distinct_exchange_ids(v6, "hashpartitioning"))
    # v5 ends in two per-lang rollups + a lang join over the shared
    # stages; v6 replaces them with ONE shard rollup — composing the
    # export last mile must not add data shuffles beyond it
    assert v6_total <= v5_shared, (v5_shared, v6_total)


def test_funnel_conversion_type_pruned_scans(spark):
    """funnel_conversion (r6): each step's event slice prunes by
    event_type AT THE SCAN (PushedFilters carries EqualTo(event_type,*)),
    and the whole funnel works in unix-micro integers — no window
    functions anywhere in the plan."""
    from hadoop_fcfs_spark.caching import release_waypoints

    df = Q["funnel_conversion"].spark_fn(spark, SF_ORACLE)
    full = _optimized(df)
    assert "EqualTo(event_type," in full, "type filter must reach the scan"
    assert "Window" not in _plan(df)
    release_waypoints()


def test_cohort_retention_broadcast_sizes(spark):
    """cohort_retention_matrix (r6): cohort sizes join back as a
    BROADCAST (cohort-grain rows, never a data-sized shuffle side) and
    the matrix rollup is map-side combined."""
    plan = _plan(Q["cohort_retention_matrix"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_mann_kendall_pairs_are_broadcast_grain(spark):
    """mann_kendall_daily_events (r7): the i<j pair set is a broadcast
    nested-loop self-join of the DAY GRAIN only — the raw event scan
    aggregates to days first (partial_count before the grain exchange)
    and no sort-merge/cartesian product ever touches data rows."""
    plan = _plan(Q["mann_kendall_daily_events"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan, "day grain must be map-side combined"


def test_gains_one_range_pass_bounded_cum(spark):
    """gains_orderstatus (r7): calibration machinery on the negated
    score — exactly one distinct range exchange (the grain prefix
    pass), the cross-bin cumulative is a broadcast triangular join of
    the 10-row bin table, and no sort-merge join appears anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["gains_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    release_waypoints()


def test_ece_one_range_pass(spark):
    """ece_orderstatus (r7): brier machinery — one grain shuffle, one
    distinct range pass, scalar reduce; no shuffled join anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["ece_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    release_waypoints()


def test_pairwise_winrates_single_exchange(spark):
    """supplier_winrate_bounds (r7): the preference log collapses to the
    canonical (min id, max id) match-up grain in ONE map-side-combined
    hash exchange (the bradley_terry collapse discipline), and the
    Wilson-bound projection rides it — no join, no second shuffle."""
    from hadoop_fcfs_spark.ops.ranking import pairwise_winrates

    df = spark.createDataFrame(
        [(1, 2)] * 3 + [(2, 1), (3, 1)], "winner int, loser int"
    )
    plan = _plan(pairwise_winrates(df, "winner", "loser"))
    assert len(_distinct_exchange_ids(plan, "hashpartitioning")) == 1, plan
    assert "partial_sum" in plan, "pair grain must be map-side combined"
    assert "Join" not in plan


def test_gram_power_iteration_checkpointed_node_state(spark):
    """embedding_top_pc (r7): per-iteration node state is eagerly
    localCheckpointed, so the RETURNED plan is a projection over a
    materialized RDD scan — constant size in the iteration count (no
    exchange, no join in the final plan). Removing either checkpoint
    regrows a nested join tree per step until planning itself OOMs —
    the failure mode this tripwire pins."""
    from hadoop_fcfs_spark.llm.similarity import gram_power_iteration

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(12)],
        "vec_id int, embedding array<double>",
    )
    out = gram_power_iteration(df, "embedding", iterations=4)
    plan = _plan(out)
    assert "ExistingRDD" in plan, plan
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_kruskal_one_range_pass_grain_join(spark):
    """kruskal_priority_price (r7): MWU machinery at k arms — exactly
    one distinct range exchange (the value-grain exclusive prefix),
    the (group,value)-grain collapse map-side combined, and the only
    join is grain-sized (never a data-row join)."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["kruskal_priority_price"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "partial_count" in plan, "grain collapse must map-side combine"
    release_waypoints()


def test_auc_by_segment_partitioned_window_no_global_sort(spark):
    """auc_by_segment (r7): the per-group prefix is a window
    PARTITIONED by segment over the (segment, score) grain — no global
    range exchange anywhere (the global AUC's one range pass is
    replaced by the partitioned shape), and the customer side rides a
    broadcast join."""
    plan = _plan(Q["auc_by_segment"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 0, plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_kmeans_lloyd_final_pass_shape(spark):
    """kmeans_embedding_cells (r7): the returned plan is ONE map-side-
    combined hash aggregation over the localCheckpointed quantized
    corpus, with centroids riding a 1-ROW BroadcastNestedLoopJoin
    (array-of-arrays column, NOT k*dim literals — literal trees cost
    ~2-4 s of Catalyst planning per iteration, measured). The corpus
    itself never shuffles: no shuffled join, no range exchange,
    exactly one hash exchange (the cell rollup); iteration state lives
    on the driver as k*dim ints (the kmeans_centroids contract)."""
    plan = _plan(Q["kmeans_embedding_cells"].spark_fn(spark, SF_ORACLE))
    assert "ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(_distinct_exchange_ids(plan, "hashpartitioning")) == 1, plan
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 0, plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_friedman_cell_grain_single_data_exchange(spark):
    """friedman_priority_volume (r7): ONE map-side-combined hash
    exchange touches data rows (the (month, priority) cell collapse);
    everything after is cell-grain (~months x 5 rows) — windows
    PARTITIONED by block, no range exchange anywhere."""
    plan = _plan(Q["friedman_priority_volume"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 0, plan
    assert "partial_count" in plan, "cell collapse must map-side combine"


def test_isotonic_triangular_joins_are_broadcast(spark):
    """isotonic_orderstatus (r7): the data-sized work is
    calibration_bins' one range pass; the PAV minimax adds ONLY
    broadcast joins over the 10-row bin table — no sort-merge or
    shuffled-hash join anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["isotonic_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    release_waypoints()


def test_dedup_watermark_audit_one_range_pass(spark):
    """The streaming dedup replay (r8): the high-water mark rides ONE
    range-partitioning exchange over the arrival order (the
    global_running_max two-level shape — the same single data-sized
    shuffle watermark_late_audit pays); the per-key predecessor lag is
    a hash-partitioned window (keyed, never single-task)."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["dedup_watermark_audit"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    # the predecessor window is partitioned on the dedup key
    assert "windowspecdefinition(user_id" in plan, plan
    release_waypoints()


def test_fellegi_sunter_no_pair_materialization(spark):
    """The record-linkage gate (r8): u comes from value-grain count
    products, never a pair table — the plan must contain NO cartesian
    product and no non-broadcast nested-loop join; the only
    nested-loop joins are the two 1-row scalar broadcasts (m-aggregate
    and pair-universe total)."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["fellegi_sunter_customers"].spark_fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan
    # scalar broadcasts only: every BNLJ line must be a cross of the
    # two 1-row aggregates (one per field branch of the union)
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 6, f"unexpected nested-loop joins ({n_bnlj}):\n{plan}"
    release_waypoints()


def test_pr_curve_one_range_pass(spark):
    """pr_curve_interp rides the roc_auc machinery: ONE range exchange
    carries the exclusive prefix (both columns), the checkpoint join is
    a broadcast of 11 rows — never a second data-sized shuffle."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["pr_curve_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_heaps_growth_one_prefix_pass(spark):
    """heaps_vocab_growth: rank + cumulative tokens share ONE
    range-partitioned prefix pass over the doc grain (two-column
    global_running_sum); checkpoints come back as broadcasts."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["heaps_vocab_growth"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    release_waypoints()


def test_aqe_skew_join_split_fires_at_runtime(spark):
    """The session claims AQE skew-join as the runtime half of the
    skew story (ops/skew.py salting is the planned half) — prove the
    claim: a join with one hot key (95% of 200k padded rows) under
    lowered skew thresholds must show `SortMergeJoin(skew=true)` and a
    skewed AQEShuffleRead in the FINAL adaptive plan. collect() drives
    THIS Dataset's QueryExecution (count()/noop writes build new ones
    whose final plans are not inspectable from here)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        pad = "x" * 200
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 < 19, 0)
            .otherwise(F.col("id") % 101).alias("k"),
            F.concat(F.lit(pad), F.col("id").cast("string")).alias("v"),
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), F.lit("r").alias("w")
        )
        j = left.join(right, "k").select(F.substring("v", 1, 1).alias("c"))
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "AQEShuffleRead coalesced and skewed" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Prove the partition-pruning claim end-to-end: a fact table
    PARTITIONED on the join key, joined to a filtered dim, must carry
    a dynamicpruning expression in the fact scan's PartitionFilters —
    the scan never touches pruned partitions at runtime (the 100 TB
    lever: a dim filter cuts the fact IO before it happens)."""
    d = str(tmp_path / "fact")
    spark.range(100_000).select(
        (F.col("id") % 10).alias("part_k"), F.col("id").alias("v")
    ).write.mode("overwrite").partitionBy("part_k").parquet(d)
    dim = spark.range(10).select(
        F.col("id").alias("part_k"),
        F.when(F.col("id") < 2, "keep").otherwise("drop").alias("tag"),
    )
    f = spark.read.parquet(d)
    j = f.join(dim.filter(F.col("tag") == "keep"), "part_k").agg(
        F.sum("v").alias("s")
    )
    [row] = j.collect()
    # ground truth: partitions 0 and 1 only
    assert row["s"] == sum(v for v in range(100_000) if v % 10 < 2)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l for l in scan_lines), scan_lines


def test_aqe_runtime_join_demotion_to_broadcast(spark, tmp_path):
    """AQE's runtime re-plan: a shuffle join whose build side STATIC
    size estimate exceeds the broadcast threshold, but whose filtered
    runtime size is tiny, must demote SortMergeJoin → BroadcastHashJoin
    at runtime (Initial Plan shows SMJ, Final Plan shows BHJ) — the
    100 TB lever that turns a planned fact-fact shuffle into a map-side
    join whenever a filter collapses one side, without anyone
    re-writing the query."""
    big_p, dim_p = str(tmp_path / "big"), str(tmp_path / "dim")
    # fixture codec pinned: the test is calibrated to the dim table's
    # STATIC on-disk size exceeding the 512 KB threshold, which must not
    # drift with the session's default parquet codec (r16: zstd default
    # shrank the file under the threshold and the initial plan went
    # straight to BHJ)
    spark.range(500_000).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).write.option("compression", "snappy").parquet(big_p)
    spark.range(300_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("x" * 60), F.col("id").cast("string")).alias("pad"),
        F.when(F.col("id") % 3000 == 0, "keep").otherwise("drop")
        .alias("tag"),
    ).write.option("compression", "snappy").parquet(dim_p)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "524288")
    try:
        big = spark.read.parquet(big_p)
        dim = spark.read.parquet(dim_p).filter(F.col("tag") == "keep")
        j = big.join(dim, "k").select("k", "v")
        assert len(j.collect()) == 100
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "== Initial Plan ==" in plan, plan[:1500]
        final, initial = plan.split("== Initial Plan ==")
        assert "SortMergeJoin" in initial, initial[:1500]
        assert "BroadcastHashJoin" in final, final[:1500]
        assert "SortMergeJoin" not in final, final[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_flagship_hot_paths_are_whole_stage_codegen(spark):
    """The JVM-side contract behind "UDFs are the slow path": flagship
    hot paths must run inside WholeStageCodegen stages (starred
    operators), with Python appearing ONLY at Arrow batch boundaries.
    pricing_summary's scan -> filter -> partial agg must be starred;
    wordcount's explode+agg likewise; and across the whole registry's
    flagship set no plan may contain a row-at-a-time BatchEvalPython
    (Arrow nodes — ArrowEvalPython / FlatMapGroupsInPandas /
    MapInPandas — are the allowed Python boundary)."""
    # codegen stars only appear on EXECUTED adaptive plans (the
    # aqe-pin lesson): drive the Dataset, then read its final plan
    df = Q["pricing_summary"].spark_fn(spark, SF_ORACLE)
    assert len(df.collect()) > 0
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p and "*(" in p, p[:1200]
    agg_lines = [l for l in p.splitlines() if "HashAggregate" in l]
    assert any("*(" in l for l in agg_lines), agg_lines
    wdf = Q["wordcount"].spark_fn(spark, SF_ORACLE)
    assert len(wdf.collect()) > 0
    w = wdf._jdf.queryExecution().executedPlan().toString()
    assert "*(" in w and "Generate" in w, w[:1200]
    for name in ("pricing_summary", "wordcount", "join_multiway",
                 "roc_auc_orderstatus", "dedup_minhash_lsh",
                 "corpus_pipeline_v7"):
        plan = _plan(Q[name].spark_fn(spark, SF_ORACLE))
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in the hot path"
        )
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()


def test_pr_auc_one_range_pass_scalar_reduce(spark):
    """pr_auc_orderstatus (r9): the roc_auc/gains substrate — ONE
    distinct range exchange (the two-column grain prefix), broadcast
    scalar totals, no shuffled join, scalar output."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # hermetic: a prior parity run may hold the grain
    plan = _plan(Q["pr_auc_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_cusum_chart_grain_prefix_passes_only(spark):
    """cusum_chart_daily_returns (r9): the day grain is map-side
    combined BEFORE any exchange (partial aggregation on the raw
    scan), and every range exchange that follows carries GRAIN rows
    only (the closed-form prefix passes); no shuffled or cartesian
    join anywhere — the raw lineitem scan shuffles nothing but the
    2.5k-day summary."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["cusum_chart_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan, (
        "day grain must be map-side combined"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_gray_test_single_prefix_no_subject_window(spark):
    """gray_test_cohorts (r9): subdistribution risk sets ride ONE
    exclusive two-column range prefix over the pooled duration grain
    (logrank discipline); totals are a broadcast 1-row cross; no
    sort-merge join and no unpartitioned window over subject rows."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["gray_test_cohorts"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross
    release_waypoints()


def test_mondrian_conformal_broadcast_thresholds(spark):
    """mondrian_conformal_prices (r9): both threshold tables join the
    test slice as BROADCASTS (group-grain and 1-row marginal) — the
    data-sized side never shuffles for a join; the only hash
    exchanges are the conformal grain collapses."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["mondrian_conformal_prices"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    release_waypoints()


def test_sprt_grain_prefix_only(spark):
    """sprt_daily_returns (r9): day grain map-side combined, ONE range
    prefix pass over grain rows, scalar reduce; no shuffled join."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["sprt_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    release_waypoints()


def test_bh_fdr_rank_pass_and_broadcast_kmax(spark):
    """bh_fdr_daily_returns (r9): one range rank pass over the unit
    grain, k_max joins back as a broadcast scalar — never a shuffled
    join of the battery against itself."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["bh_fdr_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row kmax/total crosses
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    release_waypoints()


def test_pinball_broadcast_predictor_join(spark):
    """pinball_loss_priorities (r9): the 5-row conformal threshold
    table joins the order rows as a BROADCAST; the data side shuffles
    only for its own grain aggregations."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["pinball_loss_priorities"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    release_waypoints()


def test_krippendorff_grain_rollups_only(spark):
    """krippendorff_langid (r9): (unit, category) grain collapse +
    unit/category rollups + broadcast scalars; the rater union never
    joins shuffled against itself at data grain (the pairable-unit
    filter join is grain-sized)."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["krippendorff_langid"].spark_fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    release_waypoints()


def test_ewma_chart_grain_band_broadcast(spark):
    """ewma_chart_daily_returns (r10): the day grain is map-side
    combined before any exchange, the 20-day dyadic kernel rides the
    EQUI chunked band self-join of GRAIN rows as a BROADCAST (never a
    shuffled or cartesian join), and the pooled center is a 1-row
    broadcast cross — the raw lineitem scan shuffles nothing but the
    2.5k-day summary."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["ewma_chart_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan, (
        "day grain must be map-side combined"
    )
    assert "BroadcastHashJoin" in plan  # grain-sized band self-join
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_youden_j_one_range_pass_broadcast_max(spark):
    """youden_j_orderstatus (r10): the roc/pr substrate — ONE distinct
    range exchange (the exclusive prefix over the distinct-score
    grain); totals and the scalar max join back as broadcast 1-row
    crosses, never a shuffled self-join."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["youden_j_orderstatus"].spark_fn(spark, SF_ORACLE))
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals/max crosses
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    release_waypoints()


def test_run_rules_grain_islands_only(spark):
    """run_rules_daily_returns (r10): day grain map-side combined, ONE
    distinct range exchange (the global row-number prefix), the
    per-side/island windows ride GRAIN-row hash exchanges (days, never
    events); no shuffled or cartesian join."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["run_rules_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_lexical_scalars_single_agg_no_join(spark):
    """simpson_d_tokens / herdan_c_tokens / token_entropy (r10): like
    yule_k_tokens, each is ONE map-side-combinable aggregation over the
    wordcount grain collapsing to a 1-row scalar — no join operator of
    any kind may appear in the plan."""
    for name in ("simpson_d_tokens", "herdan_c_tokens", "token_entropy"):
        plan = _plan(Q[name].spark_fn(spark, SF_ORACLE))
        assert "partial_sum" in plan, name
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct"):
            assert j not in plan, (name, j)


def test_nelson_rules_grain_windows_no_joins(spark):
    """nelson_rules_daily_returns (r11): day grain map-side combined,
    then GRAIN-bounded summary windows only (the kaplan_meier
    precedent — calendar days, never events); rules 3/4 need no center
    line, so NO join operator of any kind may appear (unlike
    run_rules' broadcast pooled scalar)."""
    plan = _plan(Q["nelson_rules_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j


def test_zone_rules_grain_windows_broadcast_scalar_only(spark):
    """zone_rules_daily_returns (r11): day grain map-side combined, the
    pooled scalar joins back as a broadcast 1-row cross (the p_chart
    shape), then GRAIN-bounded rolling windows only — no shuffled or
    cartesian join, no range exchange (zone tests need no global row
    number)."""
    plan = _plan(Q["zone_rules_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row pooled scalar
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_durbin_watson_grain_lag_no_joins(spark):
    """durbin_watson_daily_returns (r11): day grain map-side combined,
    one calendar-bounded lag window, scalar reduce — no join operator
    of any kind (the moment identity clears the mean without a second
    pass or broadcast)."""
    plan = _plan(Q["durbin_watson_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j


def test_ttr_family_single_agg_no_join(spark):
    """ttr_family_tokens (r11): like the other lexical scalars, ONE
    map-side-combinable aggregation over the wordcount grain — no join
    operator of any kind."""
    plan = _plan(Q["ttr_family_tokens"].spark_fn(spark, SF_ORACLE))
    assert "partial_sum" in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j


def test_brunner_munzel_one_prefix_broadcast_only(spark):
    """brunner_munzel_price (r11): the MWU substrate — value-grain
    collapse map-side combined, ONE distinct range exchange (the
    two-column exclusive prefix), arm totals broadcast back over the
    grain; no shuffled or cartesian join anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["brunner_munzel_price"].spark_fn(spark, SF_ORACLE))
    assert "partial_sum" in plan
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    release_waypoints()


def test_hapax_richness_single_agg_no_join(spark):
    """hapax_richness_tokens (r11): like the other lexical scalars,
    ONE map-side-combinable aggregation over the wordcount grain
    collapsing to a 1-row scalar — no join operator of any kind."""
    plan = _plan(Q["hapax_richness_tokens"].spark_fn(spark, SF_ORACLE))
    assert "partial_sum" in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j


def test_blob_column_pruned_for_metadata_only_reads(spark, tmp_path):
    """The multimodal scale contract (llm/multimodal.py module doc):
    metadata-only transforms must let the scan prune the binary payload
    column away entirely. Pinned at BOTH blob sources: (a) a parquet
    media table read through a size/format projection keeps `payload`
    out of ReadSchema; (b) the binaryFile source with only path/length
    selected keeps `content` out of ReadSchema — at 100 TB of blobs
    that's the difference between listing files and reading them."""
    import numpy as np

    from hadoop_fcfs_spark.io.readers import read_binary_files
    from hadoop_fcfs_spark.llm.multimodal import _encode_png

    tbl = str(tmp_path / "media_parquet")
    spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0blob-bytes", "jpeg"), (2, b"BMother", "bmp")],
        "media_id long, payload binary, fmt string",
    ).write.parquet(tbl)
    meta_only = spark.read.parquet(tbl).select("media_id", "fmt")
    plan = _plan(meta_only)
    scan = plan[plan.index("ReadSchema"):]
    assert "media_id" in scan and "fmt" in scan
    assert "payload" not in scan, "metadata projection must prune the blob"

    d = tmp_path / "files"
    d.mkdir()
    (d / "a.png").write_bytes(_encode_png(np.zeros((2, 2, 3), np.uint8)))
    listing = read_binary_files(spark, str(d)).select("path", "length")
    lplan = _plan(listing)
    lscan = lplan[lplan.index("ReadSchema"):]
    assert "content" not in lscan, "listing-only read must not scan bytes"


def test_runs_test_grain_lag_broadcast_scalars_only(spark):
    """runs_test_daily_returns (r12): day grain map-side combined, the
    pooled center joins back as a broadcast 1-row cross (run_rules'
    shape), one calendar-bounded lag, then two single-row aggregates
    broadcast-crossed — no shuffled or cartesian join anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["runs_test_daily_returns"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar crosses
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_kendall_tau_cells_bounded_quadratic(spark):
    """kendall_tau_quantity_discount (r12): raw rows collapse to the
    bounded VALUE-PAIR cell grain map-side combined, the cell-pair
    quadratic is a broadcast nested-loop join over CELLS (50×11,
    never data rows), tie totals broadcast-crossed — no shuffled or
    cartesian join anywhere."""
    plan = _plan(Q["kendall_tau_quantity_discount"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # cell pairs + scalar crosses
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ttr_curve_auc_one_prefix_equi_offsets(spark):
    """ttr_curve_auc_tokens (r12): within-doc ranks are DOC-partitioned
    windows, doc offsets ONE range-partitioned exclusive prefix
    (global_running_sum) EQUI-joined back on the doc key — exactly one
    range exchange and no nested-loop or cartesian join. The join
    strategy is deliberately NOT pinned: the offsets table is
    O(#documents), so a forced broadcast would bake in a driver
    ceiling at corpus scale; AQE picks broadcast when it is actually
    small."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["ttr_curve_auc_tokens"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert len(_distinct_exchange_ids(plan, "rangepartitioning")) == 1, plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)  # doc-offset equi-join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_theil_u_contingency_broadcast_scalars_only(spark):
    """theil_u_source_lang (r12): ONE pass to the observed-cells
    contingency grain (map-side combined), marginals re-aggregated
    FROM the cells, three entropy scalars broadcast-crossed — no
    shuffled or cartesian join anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()
    plan = _plan(Q["theil_u_source_lang"].spark_fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row entropy crosses
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    release_waypoints()


def test_tokenizer_fertility_one_scan_no_explode(spark):
    """tokenizer_fertility_lang (r13): per-row array SIZES only — no
    explode (Generate), no join of any kind, ONE map-side-combined
    hash aggregation to the bounded lang grain plus the output range
    sort; two exchanges total."""
    plan = _plan(Q["tokenizer_fertility_lang"].spark_fn(spark, SF_ORACLE))
    assert "partial_sum" in plan and "partial_count" in plan
    assert "Generate" not in plan, "fertility must count arrays, not explode"
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j
    assert plan.count("Exchange") == 2, plan.count("Exchange")


def test_ann_ivf_recall_curve_broadcast_cells_no_cartesian(spark):
    """ann_ivf_recall_curve (r13): the candidate pass joins corpus
    cells to BROADCAST probed queries (equi-join on cell, forced) and
    the sweep is an explode over already-bounded candidates — the
    nested-set design means no cartesian product anywhere, and the
    only nested-loop join is the 1-row totals cross (the scalar-cross
    convention)."""
    plan = _plan(Q["ann_ivf_recall_curve"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan  # cells x broadcast probes
    assert "Generate" in plan           # probe + sweep explodes
    assert "CartesianProduct" not in plan
    assert "Window" in plan             # per-(np, query) top-k


def test_wordpiece_pair_scores_single_scan_broadcast_joins(spark):
    """wordpiece_pair_scores (r14): the word-TYPE table is a waypoint
    feeding all three consumers (pair census + both symbol-count join
    sides) — documents scanned ONCE (the one FileScan is the cached
    plan's, which `_plan` shows once for the three scans of it); the
    symbol-count joins are alphabet-bounded BROADCASTS, never a shuffle
    join; no cartesian."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["wordpiece_pair_scores"].spark_fn(spark, SF_ORACLE))
    assert plan.count("InMemoryTableScan") == 3
    assert plan.count("FileScan") == 1
    assert plan.count("BroadcastHashJoin") == 2
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert j not in plan, j
    release_waypoints()


def test_unigram_seed_candidates_one_scan_one_explode(spark):
    """unigram_seed_candidates (r14): ONE corpus scan, the substring
    census an in-array flatten exploded once at word-TYPE grain with a
    map-side-combined aggregation — no join, no window, no second
    scan."""
    plan = _plan(Q["unigram_seed_candidates"].spark_fn(spark, SF_ORACLE))
    assert plan.count("FileScan") == 1
    assert "Window" not in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "CartesianProduct"):
        assert j not in plan, j
    assert "partial_" in plan  # map-side combine before the shuffle


def test_cdc_net_changes_single_combined_agg_no_window(spark):
    """cdc_net_changes_users (r13): first/last ops and carried values
    are min_by/max_by over the (ts, tiebreak) struct order in ONE
    map-side-combined aggregation — no window function, no per-key
    sort, no join; two exchanges (the groupBy + the output sort)."""
    plan = _plan(Q["cdc_net_changes_users"].spark_fn(spark, SF_ORACLE))
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert "Window" not in plan, "net compaction must not need a window"
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j
    assert plan.count("Exchange") == 2, plan.count("Exchange")
    # r14: the unknown-op guard is fused into this same pass — the log
    # is scanned exactly ONCE (no eager pre-scan job, no second scan)
    # and the validation raise_error rides the aggregation input
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert "raise_error" in plan, "fused loud-fail guard missing"


def test_ann_rp_lsh_recall_curve_broadcast_prefix_no_cartesian(spark):
    """ann_rp_lsh_recall_curve (r13): ONE candidate pass — corpus
    signatures equi-joined on the COARSEST low-bit bucket prefix
    against BROADCAST query signatures, the sweep an explode over
    already-bounded candidates filtered by the trailing-zeros agree
    tag — no cartesian product anywhere; the only nested-loop join is
    the 1-row totals cross (the scalar-cross convention)."""
    plan = _plan(Q["ann_rp_lsh_recall_curve"].spark_fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan  # prefix-bucket equi-join, broadcast
    assert "Generate" in plan           # sweep explode
    assert "CartesianProduct" not in plan
    assert "Window" in plan             # per-(p, query) top-k


def test_host_cap_documents_one_exchange_shared_partitioning(spark):
    """host_cap_documents (r15): the survivor rank and the audit count
    are two Window nodes over the SAME hashpartitioning(host) — ONE
    exchange, ONE sort (the count window reuses the rank window's
    sorted partitioning), no join; the audit count sits BEFORE the
    rank<=cap filter so host_total counts the host's full pre-cap
    population; the scan prunes to (doc_id, source, n_chars) — the
    text column never reads."""
    plan = _plan(Q["host_cap_documents"].spark_fn(spark, SF_ORACLE))
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("Window") == 2
    assert plan.count("Sort") == 1, "count window must reuse the rank sort"
    assert plan.count("FileScan") == 1
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "CartesianProduct"):
        assert j not in plan, j
    assert "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>" in plan


def test_url_dedup_documents_one_exchange_shared_partitioning(spark):
    """url_dedup_documents (r15): canonicalization is row-local string
    ops computed in the scan-side Project (the shuffle carries the
    canonical KEY, never recomputes it after the exchange); then the
    host_cap shape — survivor rank and dupe-count are two Window nodes
    over the SAME hashpartitioning(canonical_url), ONE exchange, ONE
    sort, no join; the scan prunes to (doc_id, source, n_chars) — the
    text column never reads."""
    plan = _plan(Q["url_dedup_documents"].spark_fn(spark, SF_ORACLE))
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("Window") == 2
    assert plan.count("Sort") == 1, "count window must reuse the rank sort"
    assert plan.count("FileScan") == 1
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "CartesianProduct"):
        assert j not in plan, j
    assert "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>" in plan
    assert "hashpartitioning(canonical_url" in plan


def test_corpus_pipeline_v8_single_scan_no_cartesian(spark):
    """corpus_pipeline_v8 (r15): the acquisition-pipeline ledger reads
    the corpus ONCE — every FileScan in the plan (including those
    rendered inside the waypoints' cached lineages) is the same pruned
    documents scan (doc_id, source, n_chars — text never reads); the
    url stage's rows_in derives from sum(url_dupes), not a second
    crawl scan; the only joins are the TWO 1x1 ledger-assembly cross
    joins (r16: n0 and n1 fused into one aggregate over the cached s1
    — r15 verdict advisory #2 — so three assembly joins became two)
    and the exact-dedup broadcast semi-join; no cartesian, data join,
    or row-Python anywhere."""
    from hadoop_fcfs_spark.caching import release_waypoints

    plan = _plan(Q["corpus_pipeline_v8"].spark_fn(spark, SF_ORACLE))
    release_waypoints()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and all("documents" in ln for ln in scans), scans
    assert all(
        "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>" in ln
        for ln in scans
    ), scans
    assert plan.count("BroadcastNestedLoopJoin") == 2, "1x1 ledger assembly"
    assert plan.count("BroadcastHashJoin") == 1, "exact-dedup semi-join"
    for bad in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
                "BatchEvalPython"):
        assert bad not in plan, bad
