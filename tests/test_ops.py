"""Unit tests: chain/jobcontrol, counters, pipes shim, pandas UDF
wrappers, fieldsel spec grammar, sort helpers."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_fcfs_spark.metrics import counted
from hadoop_fcfs_spark.ops.chain import chain, run_stages
from hadoop_fcfs_spark.ops.fieldsel import field_selection, parse_spec
from hadoop_fcfs_spark.ops.joins import override_join
from hadoop_fcfs_spark.ops.sort import grouped_sorted_apply, top_k
from hadoop_fcfs_spark.udf.pandas_ops import map_records, reduce_groups
from hadoop_fcfs_spark.udf.pipes import pipe_map


def test_chain_composes_in_one_plan(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    out = chain(
        df,
        lambda d: d.filter(F.col("x") % 2 == 0),
        lambda d: d.withColumn("y", F.col("x") * 10),
        lambda d: d.select("y"),
    )
    assert sorted(r["y"] for r in out.collect()) == [0, 20, 40, 60, 80]
    # narrow chain: one scan, no exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_run_stages_order_and_failure():
    log = []
    with pytest.raises(RuntimeError):
        run_stages(
            [
                ("a", lambda: log.append("a")),
                ("b", lambda: (_ for _ in ()).throw(RuntimeError("boom"))),
                ("c", lambda: log.append("c")),
            ]
        )
    assert log == ["a"]  # c never ran (DEPENDENT_FAILED semantics)


def test_counters_observe(spark):
    df = spark.createDataFrame([(1,), (2,), (None,)], "x int")
    df2, obs = counted(
        df, "job",
        n=F.count(F.lit(1)),
        nulls=F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)),
    )
    df2.write.format("noop").mode("overwrite").save()
    assert obs.get["n"] == 3 and obs.get["nulls"] == 1


def test_pipe_map_cat_roundtrip(spark):
    df = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    out = pipe_map(df, "cat")
    assert sorted(map(tuple, out.collect())) == [("a", "1"), ("b", "2")]


def test_pipe_map_transform(spark):
    df = spark.createDataFrame([("x", "hello"), ("y", "world")], "key string, value string")
    out = pipe_map(df, "tr a-z A-Z")  # uppercase everything, key included
    assert sorted(map(tuple, out.collect())) == [("X", "HELLO"), ("Y", "WORLD")]


def test_pipe_typedbytes_cat_binary_roundtrip(spark):
    """`-io typedbytes` parity: payloads with newlines, tabs and NULs
    survive a passthrough subprocess — the exact case the line-framed
    text mode cannot carry."""
    from hadoop_fcfs_spark.udf.pipes import pipe_map_typedbytes

    rows = [
        (b"k\n1", b"va\tl\x00ue"),
        (b"\x00\xff\xfe", b"line1\nline2\n"),
        (b"plain", b""),
    ]
    df = spark.createDataFrame(rows, "key binary, value binary")
    out = pipe_map_typedbytes(df, "cat")
    assert out.schema.simpleString() == "struct<key:binary,value:binary>"
    assert sorted((bytes(r["key"]), bytes(r["value"])) for r in out.collect()) == sorted(rows)


def test_pipe_typedbytes_transform_app(spark, tmp_path):
    """A TypedBytesMapApp-shaped subprocess (reference
    tools/hadoop-streaming/src/test/.../TypedBytesMapApp.java): decode
    frames, transform, re-encode — here swapping key/value and
    doubling int values, exercising non-BYTES wire types both ways."""
    import sys
    from pathlib import Path

    from hadoop_fcfs_spark.udf.pipes import pipe_map_typedbytes

    repo = str(Path(__file__).resolve().parent.parent)
    app = tmp_path / "tb_swap.py"
    app.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from hadoop_fcfs_spark.udf.typedbytes import decode_stream, encode\n"
        "frames = decode_stream(sys.stdin.buffer)\n"
        "for k in frames:\n"
        "    v = next(frames)\n"
        "    out = encode(v * 2) + encode(k)\n"
        "    sys.stdout.buffer.write(out)\n"
    )
    df = spark.createDataFrame([("a", 10), ("b", 21)], "key string, value long")
    out = pipe_map_typedbytes(
        df, [sys.executable, str(app)], output_schema="key long, value string"
    )
    assert sorted(map(tuple, out.collect())) == [(20, "a"), (42, "b")]


def test_typedbytes_codec_all_wire_types():
    """Encode→decode identity across the Type.java code table, including
    nested VECTOR/MAP and int32/int64 boundary selection."""
    import io as _io

    from hadoop_fcfs_spark.udf.typedbytes import decode_stream, encode

    vals = [
        b"\x00raw\nbytes",
        True,
        False,
        -(2**31),
        2**31 - 1,
        2**31,  # first value that must go out as LONG
        -(2**63),
        3.5,
        "uni\tcode\n",
        [1, "two", b"three"],
        {"k": 1, "b": b"v"},
    ]
    blob = b"".join(encode(v) for v in vals)
    got = list(decode_stream(_io.BytesIO(blob)))
    assert got == vals


def test_map_records_udtf_shape_and_lifecycle(spark):
    df = spark.createDataFrame([("a b",), ("c",), ("",)], "text string")

    def explode_words(rec):
        for w in rec["text"].split():
            yield {"word": w, "n": len(w)}

    out = map_records(df, explode_words, "word string, n int")
    assert sorted(r["word"] for r in out.collect()) == ["a", "b", "c"]


def test_reduce_groups_sorted_contract(spark):
    df = spark.createDataFrame(
        [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 9, "z")], "k long, o long, v string"
    )

    def concat_in_order(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [key[0]], "joined": ["".join(pdf["v"])]})

    out = reduce_groups(df, ["k"], concat_in_order, "k long, joined string", order_cols=["o"])
    got = {r["k"]: r["joined"] for r in out.collect()}
    assert got == {1: "abc", 2: "z"}


def test_grouped_sorted_apply_many_groups_order_holds(spark):
    # stress the no-reshuffle/no-resort plan assumption across many groups
    rows = [(g, o, g * 1000 + o) for g in range(50) for o in range(20, 0, -1)]
    df = spark.createDataFrame(rows, "g long, o long, v long")

    def first_last(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"g": [pdf["g"].iloc[0]], "first_v": [pdf["v"].iloc[0]], "last_v": [pdf["v"].iloc[-1]]}
        )

    out = grouped_sorted_apply(df, ["g"], ["o"], first_last, "g long, first_v long, last_v long")
    for r in out.collect():
        assert r["first_v"] == r["g"] * 1000 + 1, "group not sorted ascending by o"
        assert r["last_v"] == r["g"] * 1000 + 20


def test_parse_spec_grammar():
    key, value = parse_spec("6,5,1-3:0-")
    assert key == [(6, 6), (5, 5), (1, 3)]
    assert value == [(0, 1 << 30)]


def test_fieldsel_multi_ranges(spark):
    df = spark.createDataFrame([("a-b-c-d-e",)], "line string")
    out = field_selection(df, "line", "4,0,1-2:3-", separator="-")
    r = out.collect()[0]
    assert r["key"] == "e-a-b-c" and r["value"] == "d-e"


def test_top_k_with_ties_deterministic(spark):
    df = spark.createDataFrame([(i % 3, i) for i in range(30)], "v long, id long")
    out = top_k(df, 5, F.desc("v"), F.asc("id"))
    got = [(r["v"], r["id"]) for r in out.collect()]
    assert got == [(2, 2), (2, 5), (2, 8), (2, 11), (2, 14)]


def test_override_join_null_vs_missing(spark):
    # rightmost source that HAS the key wins, even if its value is null
    a = spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, v string")
    b = spark.createDataFrame([(1, None)], "k long, v string")
    out = {r["k"]: r["v"] for r in override_join("k", "v", a, b).collect()}
    # coalesce semantics: null value falls through to the earlier source —
    # matches OverrideRecordReader for written-but-empty slots
    assert out == {1: "a1", 2: "a2"}

def test_broadcast_lookup_small_and_large(spark):
    from hadoop_fcfs_spark.udf.pandas_ops import broadcast_lookup

    df = spark.createDataFrame([(1,), (2,), (99,)], "k long")
    small = broadcast_lookup(df, {1: "one", 2: "two"}, "k", "name", default="?")
    assert {r["k"]: r["name"] for r in small.collect()} == {1: "one", 2: "two", 99: "?"}
    # map-literal path stays JVM-side: no Python eval in plan
    assert "BatchEvalPython" not in small._jdf.queryExecution().executedPlan().toString()

    big_map = {i: i * 10 for i in range(20_000)}
    big = broadcast_lookup(df, big_map, "k", "v10", default=-1)
    assert {r["k"]: r["v10"] for r in big.collect()} == {1: 10, 2: 20, 99: 990}


def test_salted_agg_matches_direct(spark):
    from hadoop_fcfs_spark.ops.skew import salted_agg

    # one pathologically hot key
    rows = [("hot", i % 7) for i in range(5000)] + [("cold", i) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, v long")
    direct = {
        (r["k"]): (r["cnt"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = salted_agg(
        df,
        ["k"],
        [(F.count("*"), "cnt"), (F.sum("v"), "s"), (F.max("v"), "mx")],
        [("sum", "cnt"), ("sum", "s"), ("max", "mx")],
        salt_n=8,
    )
    got = {r["k"]: (r["cnt"], r["s"], r["mx"]) for r in salted.collect()}
    assert got == direct
    # stage-1 really spread the hot key over multiple salt buckets
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") >= 2  # two-stage shuffle


def test_salted_agg_spreads_byte_identical_rows(spark):
    """ADVICE r3: a hot key whose rows are BYTE-IDENTICAL (log data) must
    still spread over >1 salt bucket — a pure row-content hash would give
    every copy the same salt, defeating the operator exactly where it's
    needed. The id-mixed salt is nondeterministic but stage-2 re-merges,
    so the final aggregate stays exact."""
    from hadoop_fcfs_spark.ops.skew import salted_agg

    df = spark.createDataFrame([("hot", 1)] * 4096, "k string, v long").repartition(8)
    out = salted_agg(
        df, ["k"], [(F.count("*"), "cnt")], [("sum", "cnt")], salt_n=8
    )
    assert {(r["k"], r["cnt"]) for r in out.collect()} == {("hot", 4096)}
    # observe stage-1 spreading directly: distinct salts over identical rows
    salt = F.pmod(
        F.xxhash64(F.col("k"), F.col("v"), F.monotonically_increasing_id()),
        F.lit(8),
    )
    n_salts = df.select(salt.alias("s")).distinct().count()
    assert n_salts > 1


def test_approx_uniq_within_tolerance(spark):
    from hadoop_fcfs_spark.agg.registry import approx_uniq_value_count

    df = spark.range(20_000).select((F.col("id") % 5000).alias("v"))
    approx = df.agg(approx_uniq_value_count(F.col("v"), rsd=0.05).alias("a")).collect()[0]["a"]
    assert abs(approx - 5000) / 5000 < 0.15


def test_bucketized_interval_join_matches_nested_loop(spark):
    from hadoop_fcfs_spark.ops.joins import bucketized_interval_join, range_join

    points = spark.createDataFrame([(float(i),) for i in range(0, 100)], "x double")
    intervals = spark.createDataFrame(
        [(0.0, 10.0, "a"), (5.0, 7.0, "b"), (50.0, 99.5, "c"), (99.0, 200.0, "d")],
        "lo double, hi double, label string",
    )
    expected = sorted(
        (r["x"], r["label"]) for r in range_join(points, intervals, "x").collect()
    )
    got = sorted(
        (r["x"], r["label"])
        for r in bucketized_interval_join(points, intervals, "x", bucket_width=8.0).collect()
    )
    assert got == expected and len(got) > 0
    # plan is an equi-join (SMJ/SHJ on bucket), not a nested loop
    plan = bucketized_interval_join(points, intervals, "x", bucket_width=8.0)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in s and "CartesianProduct" not in s


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    from hadoop_fcfs_spark.io.writers import write_partitioned

    out = str(tmp_path / "pp")
    df = spark.createDataFrame(
        [(d, i) for d in ("a", "b", "c") for i in range(100)], "dt string, v long"
    )
    write_partitioned(df, out, ["dt"])
    q = spark.read.parquet(out).filter(F.col("dt") == "b")
    assert q.count() == 100
    full = q._jdf.queryExecution().toString()
    scan = [l for l in full.split("\n") if "PartitionFilters" in l][0]
    assert "dt" in scan.split("PartitionFilters")[1][:80], f"no partition pruning: {scan}"


def test_descriptor_framework_custom_uda(spark):
    """UserDefinedValueAggregatorDescriptor parity
    (mr-core/mapreduce/lib/aggregate/UserDefinedValueAggregatorDescriptor.java:41):
    plug a new aggregator type into the registry by name — an expression
    form and a Pandas GROUPED_AGG UDA — and run it alongside built-ins
    in one descriptor-driven aggregate (one shuffle)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from hadoop_fcfs_spark.agg.registry import AGGREGATORS, aggregate, register_aggregator

    register_aggregator("SumOfSquares", lambda c: F.sum(c * c))

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v[v > 0]).mean()))

    register_aggregator("GeometricMean", lambda c: geo_mean(c))
    try:
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 3.0)], "k string, v double"
        )
        out = {
            r["k"]: r
            for r in aggregate(
                df,
                ["k"],
                [("LongValueSum", "v", "s"), ("SumOfSquares", "v", "ss")],
            ).collect()
        }
        assert out["a"]["s"] == 7 and out["a"]["ss"] == 21.0
        assert out["b"]["ss"] == 9.0
        # Pandas GROUPED_AGG UDAs run in their own aggregate — Spark
        # cannot mix them with JVM aggregates in one agg() (documented
        # engine boundary; the descriptor registry supports both kinds,
        # just not in the same descriptor list).
        gm = {
            r["k"]: r["gm"]
            for r in aggregate(df, ["k"], [("GeometricMean", "v", "gm")]).collect()
        }
        assert abs(gm["a"] - 2.0) < 1e-9  # (1*2*4)^(1/3)
        with pytest.raises(ValueError):
            aggregate(df, ["k"], [("NoSuchAgg", "v", "x")])
    finally:
        AGGREGATORS.pop("SumOfSquares", None)
        AGGREGATORS.pop("GeometricMean", None)


def test_as_of_join_basic_null_and_ties(spark):
    from hadoop_fcfs_spark.ops.joins import as_of_join

    right = spark.createDataFrame(
        [
            # ts=10: two rows tied; greatest right_id (rid=2) must win
            ("u", 10, 1, 100),
            ("u", 10, 2, 200),
            # ts=20: a NULL value row — carried as NULL, not skipped
            ("u", 20, 3, None),
        ],
        "user string, rts int, rid int, price int",
    )
    left = spark.createDataFrame(
        [("u", 5), ("u", 10), ("u", 15), ("u", 25)],
        "user string, lts int",
    )
    out = {
        r["lts"]: (r["price_asof"], r["rid_asof"])
        for r in as_of_join(
            left, right, "user", "lts", "rts", ["price", "rid"], right_id="rid"
        ).collect()
    }
    assert out[5] == (None, None)        # no right row yet
    assert out[10] == (200, 2)           # tie at ts=10 → greatest rid
    assert out[15] == (200, 2)
    assert out[25] == (None, 3)          # matched row rid=3 has NULL price: kept NULL


def test_wrapper_surface_smoke(spark, tmp_path):
    """Thin built-in wrappers (covered operators, uncovered entry points):
    csv/orc round-trips, inverse, noop sink, records counter,
    register_views view registration, total_order_sort global ordering."""
    from hadoop_fcfs_spark.io.readers import read_csv, read_orc
    from hadoop_fcfs_spark.io.writers import write_noop
    from hadoop_fcfs_spark.metrics import records_counter
    from hadoop_fcfs_spark.ops.sort import total_order_sort
    from hadoop_fcfs_spark.ops.textops import inverse
    from hadoop_fcfs_spark.tables import register_views

    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 0)], "key string, value int")
    # csv round-trip
    cdir = str(tmp_path / "c")
    df.write.mode("overwrite").csv(cdir)
    back = read_csv(spark, cdir, schema="key string, value int")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    # orc round-trip
    odir = str(tmp_path / "o")
    df.write.mode("overwrite").orc(odir)
    assert {tuple(r) for r in read_orc(spark, odir).collect()} == {tuple(r) for r in df.collect()}
    # inverse swaps and renames
    assert inverse(df).columns == ["key", "value"]
    assert (1, "a") in {tuple(r) for r in inverse(df).collect()}
    # noop sink executes the plan (no exception, no output dir)
    write_noop(df)
    # observation counter sees all rows after an action
    counted_df, obs = records_counter(df)
    counted_df.write.format("noop").mode("overwrite").save()
    assert obs.get["count"] == 3
    # register_views registers temp views readable via SQL
    loaded = register_views(spark, "/root/testdata/sf0.001")
    assert {"region", "nation"} <= set(loaded)
    assert spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] == 5
    # total order sort: globally ascending across partitions
    big = spark.range(0, 10_000).select((F.col("id") * 2654435761 % 1_000_003).alias("k"))
    vals = [r["k"] for r in total_order_sort(big, "k").collect()]
    assert vals == sorted(vals)


def test_hash_sample_deterministic_and_calibrated(spark):
    """Same sample under any partitioning; observed rate near the asked
    fraction (binomial tolerance)."""
    from hadoop_fcfs_spark.ops.sampling import hash_sample

    df = spark.range(10_000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in hash_sample(df, "k", 0.25).collect())
    b = sorted(r["k"] for r in hash_sample(df.repartition(13), "k", 0.25).collect())
    assert a == b  # partitioning-independent membership
    assert abs(len(a) / 10_000 - 0.25) < 0.02


def test_train_holdout_split_partitions_corpus(spark):
    from hadoop_fcfs_spark.ops.sampling import train_holdout_split

    df = spark.range(1_000).withColumnRenamed("id", "k")
    out = train_holdout_split(df, "k", 0.1)
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "holdout"}
    assert counts["train"] + counts["holdout"] == 1_000
    # split is a pure function of the id: re-derivation agrees row-by-row
    again = {r["k"]: r["split"] for r in train_holdout_split(df, "k", 0.1).collect()}
    for r in out.collect():
        assert again[r["k"]] == r["split"]


def test_per_group_sample_bounded_and_plan(spark):
    from hadoop_fcfs_spark.ops.sampling import per_group_sample

    df = spark.range(5_000).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS g")
    out = per_group_sample(df, "g", "k", 3)
    sizes = {r["g"]: r["count"] for r in out.groupBy("g").count().collect()}
    assert set(sizes.values()) == {3}
    # the rank filter must bound window state (WindowGroupLimit on Spark 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_weighted_sample_k_pps_property(spark):
    """A-ES sampler: (a) deterministic across runs, (b) heavy rows are
    selected far more often than light ones (PPS), (c) per-stratum k is
    respected, (d) zero/negative weights are excluded."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.sampling import weighted_sample_k

    # 1000 rows; ids 0..49 carry weight 100, the rest weight 1
    df = spark.range(1000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") < 50, 100.0).otherwise(1.0).alias("w"),
        (F.col("id") % 4).alias("g"),
    )
    top = weighted_sample_k(df, "rid", "w", 100)
    ids = {r["rid"] for r in top.collect()}
    assert len(ids) == 100
    heavy = sum(1 for i in ids if i < 50)
    # heavy rows are 5% of the population but ~84% of the weight; with
    # k=100 expect nearly all 50 selected — require a strong majority
    assert heavy >= 40, heavy
    again = {r["rid"] for r in weighted_sample_k(df, "rid", "w", 100).collect()}
    assert ids == again
    # stratified: exactly k per group
    per = weighted_sample_k(df, "rid", "w", 5, stratum_col="g")
    cnt = {r["g"]: r["n"] for r in per.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert cnt == {0: 5, 1: 5, 2: 5, 3: 5}
    # zero-weight rows never selected
    z = df.withColumn("w", F.when(F.col("rid") < 999, F.col("w")).otherwise(F.lit(0.0)))
    assert 999 not in {r["rid"] for r in weighted_sample_k(z, "rid", "w", 1000).collect()}
    import pytest

    with pytest.raises(ValueError):
        weighted_sample_k(df, "rid", "w", 0)


def test_sampling_guards():
    import pytest
    from pyspark.sql import SparkSession

    from hadoop_fcfs_spark.ops.sampling import hash_sample, per_group_sample, stratified_sample

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.range(1).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="fraction"):
        hash_sample(df, "k", 1.5)
    with pytest.raises(ValueError, match="stratum"):
        stratified_sample(df, "k", "k", {"x": -0.1})
    with pytest.raises(ValueError, match="n must be"):
        per_group_sample(df, "k", "k", 0)


def test_register_rejects_gate_without_oracle():
    """Every gate is value-checked against its DuckDB twin: a gate
    with an empty oracle is refused and never enters the registry."""
    from hadoop_fcfs_spark.registry import _REGISTRY, register

    for oracle in ("", "  "):
        with pytest.raises(ValueError, match="oracle"):
            register("__no_oracle", oracle)(lambda spark, sf: None)
    assert "__no_oracle" not in _REGISTRY


def test_cli_list_run_sql(spark, capsys, tmp_path):
    """The CLI front door: list inventory, run a registered query, run
    ad-hoc SQL over the registered views (StreamJob-CLI parity)."""
    from hadoop_fcfs_spark.__main__ import main
    from tests.conftest import SF_SMOKE

    assert main(["list"]) == 0
    assert "wordcount" in capsys.readouterr().out

    assert main(["run", "wordcount", "--sf", SF_SMOKE, "--limit", "3"]) == 0
    capsys.readouterr()

    assert main(["sql", "SELECT COUNT(*) AS n FROM orders", "--sf", SF_SMOKE]) == 0
    assert "1500" in capsys.readouterr().out

    out = str(tmp_path / "sql_out")
    assert main(["sql", "SELECT o_orderkey FROM orders WHERE o_orderkey < 5",
                 "--sf", SF_SMOKE, "--out", out]) == 0
    assert spark.read.parquet(out).count() > 0


def test_validation_checks_unit(spark):
    """Hand-countable violations for each check type, plus the one-scan
    plan property of check_rows."""
    from hadoop_fcfs_spark.ops.validate import (
        check_foreign_key,
        check_rows,
        check_unique,
        validation_report,
    )

    df = spark.createDataFrame(
        [(1, 10, "x"), (1, -5, None), (2, 200, "y"), (3, 30, "z")],
        "k long, v long, s string",
    )
    rows = check_rows(df, {
        "neg_v": F.col("v") < 0,
        "big_v": F.col("v") > 100,
        "null_s": F.col("s").isNull(),
    })
    got = {r["rule"]: r["violations"] for r in rows.collect()}
    assert got == {"neg_v": 1, "big_v": 1, "null_s": 1}
    # all predicate rules fused into one aggregation over one scan
    # (AQE prints the plan twice — inspect the final section only)
    plan = rows._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Scan ExistingRDD") == 1

    uniq = check_unique(df, ["k"])
    assert uniq.collect()[0]["violations"] == 1  # k=1 appears twice

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    fk = check_foreign_key(df, "k", parent, "pk")
    assert fk.collect()[0]["violations"] == 1  # k=3 orphaned

    report = validation_report(rows, uniq, fk)
    assert report.count() == 5
    assert report.columns == ["rule", "violations"]


def test_hll_sketch_merge_equals_direct(spark):
    """Algebraic-aggregate contract: rolling up per-day partial sketches
    by union must estimate exactly what a direct whole-group sketch
    estimates (same algorithm, same stream), and land within the HLL
    error bound of exact."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.agg.sketches import hll_partial, hll_rollup
    from hadoop_fcfs_spark.tables import t
    from tests.conftest import SF_SMOKE

    ev = t(spark, SF_SMOKE, "events").withColumn("day", F.to_date("ts"))
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_rollup(hll_partial(ev, ["event_type", "day"], "user_id"), ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_rollup(hll_partial(ev, ["event_type"], "user_id"), ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert merged == direct
    for k, n in exact.items():
        assert abs(merged[k] - n) <= 0.05 * n


def test_kll_rollup_rank_contract(spark):
    """Merged per-day KLL sketches answer the whole-group median within
    the rank-error bound (2% at k=200), and quantiles are monotone."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.agg.sketches import kll_partial, kll_quantile_rollup
    from hadoop_fcfs_spark.tables import t
    from tests.conftest import SF_SMOKE

    ev = t(spark, SF_SMOKE, "events").withColumn("day", F.to_date("ts"))
    q = kll_quantile_rollup(
        kll_partial(ev, ["event_type", "day"], "value"),
        ["event_type"],
        [0.25, 0.5, 0.75],
    )
    rows = {r["event_type"]: r for r in q.collect()}
    ranks = {
        r["event_type"]: r["rk"]
        for r in ev.join(q.select("event_type", "q_50"), "event_type")
        .groupBy("event_type")
        .agg(F.avg((F.col("value") <= F.col("q_50")).cast("double")).alias("rk"))
        .collect()
    }
    for et, r in rows.items():
        assert r["q_25"] <= r["q_50"] <= r["q_75"], et
        assert abs(ranks[et] - 0.5) <= 0.02, (et, ranks[et])


def test_theta_set_algebra_vs_exact(spark):
    """Theta union/intersection/difference estimates from per-group
    sketches track exact distinct counts within 5%."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.agg.sketches import theta_partial

    a = spark.range(0, 2000).select(F.lit("a").alias("g"), F.col("id").alias("v"))
    b = spark.range(1000, 3000).select(F.lit("b").alias("g"), F.col("id").alias("v"))
    sk = theta_partial(a.unionByName(b), ["g"], "v")
    row = sk.agg(
        F.theta_sketch_estimate(F.theta_union_agg("theta_sketch")).alias("u"),
        F.theta_sketch_estimate(F.theta_intersection_agg("theta_sketch")).alias("i"),
    ).first()
    assert abs(row["u"] - 3000) <= 150
    assert abs(row["i"] - 1000) <= 50
    # difference a \ b = 1000 via the 2-sketch scalar form
    two = sk.groupBy().pivot("g").agg(F.first("theta_sketch"))
    d = two.select(
        F.theta_sketch_estimate(F.theta_difference(F.col("a"), F.col("b"))).alias("d")
    ).first()["d"]
    assert abs(d - 1000) <= 50


def test_zvalue_guards_and_known_values(spark):
    import pytest
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.layout import zvalue

    # interleave(x=0b11, y=0b00) -> bits at even positions: 0b0101 = 5
    row = spark.range(1).select(
        zvalue([F.lit(3), F.lit(0)], bits=2).alias("a"),
        zvalue([F.lit(0), F.lit(3)], bits=2).alias("b"),
        zvalue([F.lit(255), F.lit(255)], bits=8).alias("c"),
    ).first()
    assert row["a"] == 0b0101
    assert row["b"] == 0b1010
    assert row["c"] == 65535
    with pytest.raises(ValueError):
        zvalue([], bits=8)
    with pytest.raises(ValueError):
        zvalue([F.lit(1), F.lit(2)], bits=32)


def test_pagerank_cycle_and_star(spark):
    """Hand-checkable graphs: a 3-cycle stays uniform (1/3 each) at every
    iteration; in a star (B->A, C->A, A->B) the hub outranks the leaf
    that receives nothing."""
    import pytest
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.graph import pagerank

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    r = {x["node"]: x["rank"] for x in pagerank(cycle, iterations=4).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in r.values())

    star = spark.createDataFrame([("b", "a"), ("c", "a"), ("a", "b")], ["src", "dst"])
    r = {x["node"]: x["rank"] for x in pagerank(star, iterations=6).collect()}
    # a<->b oscillate (near-bipartite); both strictly outrank the sink-less c
    assert r["a"] > r["c"] and r["b"] > r["c"]
    # c has no in-edges: exactly the teleport mass
    assert abs(r["c"] - 0.15 / 3) < 1e-12
    # weighted: heavier edge carries more mass
    wdf = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0)], ["src", "dst", "w"]
    )
    rw = {x["node"]: x["rank"] for x in pagerank(wdf, weight="w", iterations=1).collect()}
    assert rw["b"] > rw["c"]
    with pytest.raises(ValueError):
        pagerank(cycle, iterations=0)


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """With a dangling node (c has no out-edges), dangling='none' leaks
    mass (sum < 1); 'redistribute' teleports it uniformly so ranks sum to
    exactly 1 each iteration."""
    from hadoop_fcfs_spark.ops.graph import pagerank

    # a -> b -> c, c dangles
    g = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    leaked = sum(r["rank"] for r in pagerank(g, iterations=3).collect())
    assert leaked < 1.0 - 1e-6
    for iters in (1, 3, 5):
        total = sum(
            r["rank"]
            for r in pagerank(g, iterations=iters, dangling="redistribute").collect()
        )
        assert abs(total - 1.0) < 1e-9, (iters, total)
    # no danglers -> redistribute is a no-op vs none
    cycle = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    r_none = {r["node"]: r["rank"] for r in pagerank(cycle, iterations=3).collect()}
    r_red = {
        r["node"]: r["rank"]
        for r in pagerank(cycle, iterations=3, dangling="redistribute").collect()
    }
    for k in r_none:
        assert abs(r_none[k] - r_red[k]) < 1e-12
    import pytest

    with pytest.raises(ValueError):
        pagerank(cycle, dangling="bogus")


def test_stats_tier_hand_cases(spark):
    """zscore: a planted spike day flags, quiet days don't; corr: exact
    +1/-1 on linear columns; MI: 0 for independent, ln(2) for a copy."""
    import math

    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.stats import (
        column_corr,
        mutual_information,
        zscore_anomalies,
    )

    # 10 quiet days of 10 events + one day of 100
    rows = [("a", d, i) for d in range(10) for i in range(10)]
    rows += [("a", 10, i) for i in range(100)]
    ev = spark.createDataFrame(rows, ["g", "day", "i"])
    out = {
        r["grain"]: r["is_anomaly"]
        for r in zscore_anomalies(
            ev, ["g"], F.col("day"), F.count("*").cast("long"), threshold=2.0
        ).collect()
    }
    assert out[10] is True and sum(out.values()) == 1

    df = spark.range(100).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2.0).alias("y"),
        (-F.col("id").cast("double")).alias("z"),
    )
    c = {(r["col_a"], r["col_b"]): r["corr"] for r in column_corr(df, ["x", "y", "z"]).collect()}
    assert c[("x", "y")] == 1.0 and c[("x", "z")] == -1.0 and c[("y", "z")] == -1.0
    import pytest

    with pytest.raises(ValueError):
        column_corr(df, ["x"])

    # independent uniform pair -> MI == 0 exactly (balanced table)
    ind = spark.range(400).select(
        (F.col("id") % 2).cast("string").alias("a"),
        ((F.col("id") / 2).cast("long") % 2).cast("string").alias("b"),
    )
    assert mutual_information(ind, "a", "b").first()["mi_e6"] == 0
    # perfect copy of a binary column -> MI == ln 2 (floored micro)
    cp = spark.range(400).select(
        (F.col("id") % 2).cast("string").alias("a"),
        (F.col("id") % 2).cast("string").alias("b"),
    )
    got = mutual_information(cp, "a", "b").first()
    assert got["mi_e6"] == math.floor(math.log(2) * 1_000_000)
    assert got["n_x"] == 2 and got["n_y"] == 2


def test_bfs_levels_hand_case(spark):
    """Chain a->b->c->d plus a shortcut a->c: min-hop wins (c at 1, not
    2); unreachable nodes absent; max_hops bounds the frontier; multi-
    source takes the closer source; guards fire."""
    import pytest

    from hadoop_fcfs_spark.ops.graph import bfs_levels

    g = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
        ["src", "dst"],
    )
    got = {r["node"]: r["hops"] for r in bfs_levels(g, ["a"], max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    capped = {r["node"]: r["hops"] for r in bfs_levels(g, ["a"], max_hops=1).collect()}
    assert capped == {"a": 0, "b": 1, "c": 1}
    multi = {r["node"]: r["hops"] for r in bfs_levels(g, ["a", "x"], max_hops=2).collect()}
    assert multi["y"] == 1 and multi["d"] == 2
    with pytest.raises(ValueError):
        bfs_levels(g, [], max_hops=1)
    with pytest.raises(ValueError):
        bfs_levels(g, ["a"], max_hops=-1)


def test_scd2_hand_case(spark):
    """a: x@1 -> x@2 (no-op, collapses) -> y@3 -> x@5; b: single version."""
    from hadoop_fcfs_spark.ops.cdc import scd2_from_changes

    rows = [
        ("a", "x", 1, 10), ("a", "x", 2, 11), ("a", "y", 3, 12), ("a", "x", 5, 13),
        ("b", "z", 4, 14),
    ]
    df = spark.createDataFrame(rows, ["k", "v", "ts", "seq"])
    out = sorted(
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_from_changes(df, "k", "ts", "v", tiebreak="seq").collect()
    )
    assert out == [
        ("a", "x", 1, 3, False),
        ("a", "x", 5, None, True),
        ("a", "y", 3, 5, False),
        ("b", "z", 4, None, True),
    ]


def test_apply_changeset_merge_semantics(spark):
    """MERGE INTO on plain DataFrames: untouched keys survive, 'U' rows
    update-or-insert, 'D' rows drop; ts compaction picks the latest change
    per key with a deterministic tiebreak; guards fire for ambiguous
    changesets and unknown ops."""
    import pytest

    from hadoop_fcfs_spark.ops.cdc import apply_changeset

    snap = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    ch = spark.createDataFrame(
        [(2, "U", "b2", 21), (3, "D", None, None), (4, "U", "d", 40)],
        "k long, op string, name string, v long",
    )
    got = sorted(
        (r["k"], r["name"], r["v"]) for r in apply_changeset(snap, ch, "k").collect()
    )
    assert got == [(1, "a", 10), (2, "b2", 21), (4, "d", 40)]

    # ts compaction: latest change per key wins; same-ts broken by seq
    ch2 = spark.createDataFrame(
        [(2, "U", "x", 1, 100, 1), (2, "D", None, None, 200, 1),
         (3, "U", "y", 2, 300, 1), (3, "U", "z", 3, 300, 2)],
        "k long, op string, name string, v long, ts long, seq long",
    )
    got2 = sorted(
        (r["k"], r["name"], r["v"])
        for r in apply_changeset(
            snap, ch2, "k", ts_col="ts", tiebreak="seq"
        ).collect()
    )
    assert got2 == [(1, "a", 10), (3, "z", 3)]  # 2 deleted, 3 -> latest (z)

    # both guards are fused into the merge pass (r14): they raise on
    # the first action as USER_RAISED_EXCEPTION, never pre-scanning
    from pyspark.errors import SparkRuntimeException

    with pytest.raises(SparkRuntimeException, match="multiple rows"):
        apply_changeset(snap, ch2.drop("ts", "seq"), "k").collect()
    bad = spark.createDataFrame([(1, "X", "q", 9)], "k long, op string, name string, v long")
    with pytest.raises(SparkRuntimeException, match="unknown ops"):
        apply_changeset(snap, bad, "k").collect()


def test_snapshot_diff_roundtrip_with_apply(spark):
    """snapshot_diff is apply_changeset's inverse: applying the diff to
    the old snapshot reproduces the new one exactly; unchanged rows
    produce no change row (minimality); schema guard fires."""
    import pytest

    from hadoop_fcfs_spark.ops.cdc import apply_changeset, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", None)],
        "k long, name string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", None), (5, "e", 50)],
        "k long, name string, v long",
    )
    d = snapshot_diff(old, new, "k")
    got = sorted((r["k"], r["op"]) for r in d.collect())
    # 1 unchanged (absent), 2 updated, 3 deleted, 4 null-equal (absent), 5 inserted
    assert got == [(2, "U"), (3, "D"), (5, "U")]
    applied = apply_changeset(old, d, "k")
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))
    with pytest.raises(ValueError, match="share columns"):
        snapshot_diff(old, new.drop("v"), "k")


def test_ntile_from_rank_matches_sql_ntile(spark):
    """Exact NTILE parity at cardinalities NOT divisible by k — the case
    the old equi-width formula ((rank-1)*k DIV n + 1) got wrong (ADVICE
    r3: NTILE front-loads the remainder, equi-width spreads it)."""
    import duckdb

    from hadoop_fcfs_spark.ops.sort import ntile_from_rank

    for n, k in [(23, 10), (7, 3), (100, 7), (5, 10), (9, 9)]:
        df = spark.range(1, n + 1).select(F.col("id").cast("int").alias("v"))
        got = {
            r["v"]: r["b"]
            for r in df.select(
                "v", ntile_from_rank(F.col("v"), n, k).alias("b")
            ).collect()
        }
        exp = {
            v: b
            for v, b in duckdb.sql(
                f"SELECT v, NTILE({k}) OVER (ORDER BY v) FROM range(1, {n + 1}) t(v)"
            ).fetchall()
        }
        assert got == exp, (n, k)


def test_scd2_same_timestamp_ties_deterministic(spark):
    """Two surviving changes sharing (key, ts): the tiebreak must order the
    interval stitching too, or valid_to/is_current assignment flakes.
    Stream: w@1, then x@2(seq20) and y@2(seq21) — all three survive the
    collapse; seq says x precedes y, so x's interval is [2,2) and y is
    current."""
    from hadoop_fcfs_spark.ops.cdc import scd2_from_changes

    rows = [("a", "w", 1, 10), ("a", "x", 2, 20), ("a", "y", 2, 21)]
    df = spark.createDataFrame(rows, ["k", "v", "ts", "seq"])
    for _ in range(3):  # rerun: nondeterminism would flake across runs
        out = sorted(
            (r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_from_changes(df, "k", "ts", "v", tiebreak="seq").collect()
        )
        assert out == [
            ("w", 1, 2, False),
            ("x", 2, 2, False),   # closed by y@2 (seq-later)
            ("y", 2, None, True),
        ]


def test_profile_table_exact_and_approx(spark):
    from hadoop_fcfs_spark.ops.validate import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "id long, s string"
    )
    got = {r["column"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
           for r in profile_table(df, exact=True).collect()}
    assert got == {"id": (4, 0, 4), "s": (4, 1, 2)}
    # approx estimator within HLL bounds on tiny input (exact at this size)
    ap = {r["column"]: r["n_distinct"] for r in profile_table(df).collect()}
    assert ap["id"] == 4 and ap["s"] == 2


def test_fuzzy_term_pairs_hand_case(spark):
    """Substitution, deletion, and insertion neighbors all pair; a
    distance-2 pair does not; short terms are excluded by min_len."""
    from hadoop_fcfs_spark.ops.textops import fuzzy_term_pairs

    df = spark.createDataFrame(
        [("spark",), ("spork",), ("sparks",), ("park",), ("hadoop",), ("hadoops",), ("spoon",), ("cat",)],
        ["term"],
    )
    got = sorted(
        (r["term_a"], r["term_b"], r["dist"]) for r in fuzzy_term_pairs(df).collect()
    )
    assert ("spark", "spork", 1) in got          # substitution
    assert ("park", "spark", 1) in got           # insertion/deletion
    assert ("spark", "sparks", 1) in got         # suffix insertion
    assert ("hadoop", "hadoops", 1) in got
    assert not any({a, b} == {"spork", "spoon"} for a, b, _ in got)  # dist 2
    assert not any("cat" in (a, b) for a, b, _ in got)  # below min_len


def test_fan_out_noop_on_well_partitioned_input(spark):
    from hadoop_fcfs_spark.tables import fan_out

    wide = spark.range(10_000).repartition(64)
    assert fan_out(wide) is wide  # already >= default parallelism: untouched
    narrow = spark.range(100).coalesce(1)
    out = fan_out(narrow)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100


def test_gap_fill_hand_case(spark):
    """Missing grid hours materialize with zero counts and carried-
    forward values; spine covers the global [min, max] range for every
    key even where that key has no events at the edges."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.timeseries import gap_fill

    rows = [
        ("a", "2024-01-01 00:10:00", 10.0),
        ("a", "2024-01-01 03:20:00", 40.0),  # hours 1, 2 missing for a
        ("b", "2024-01-01 01:00:00", 7.0),   # b absent at hours 0, 2, 3
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (r["k"], str(r["grid_ts"])): (r["n"], r["mv"])
        for r in gap_fill(
            df, ["k"], "ts", "1 hour",
            [(F.count("*").cast("long"), "n"), (F.max("v"), "mv")],
            fill_zero=["n"], fill_forward=["mv"],
        ).collect()
    }
    assert len(out) == 8  # 2 keys x 4 hours
    assert out[("a", "2024-01-01 00:00:00")] == (1, 10.0)
    assert out[("a", "2024-01-01 01:00:00")] == (0, 10.0)  # zero + ffill
    assert out[("a", "2024-01-01 02:00:00")] == (0, 10.0)
    assert out[("a", "2024-01-01 03:00:00")] == (1, 40.0)
    assert out[("b", "2024-01-01 00:00:00")][0] == 0
    assert out[("b", "2024-01-01 00:00:00")][1] is None  # nothing to carry yet
    assert out[("b", "2024-01-01 03:00:00")] == (0, 7.0)


def test_gap_fill_linear_interpolation(spark):
    """fill_linear: gaps interpolate time-weighted between the
    surrounding known values; edges fall back to the nearest known."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.timeseries import gap_fill

    rows = [
        ("a", "2024-01-01 01:00:00", 10.0),
        ("a", "2024-01-01 04:00:00", 40.0),  # hours 2, 3 missing
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        str(r["grid_ts"]): r["mv"]
        for r in gap_fill(
            df, ["k"], "ts", "1 hour",
            [(F.max("v"), "mv")], fill_linear=["mv"],
        ).collect()
    }
    assert out["2024-01-01 01:00:00"] == 10.0
    assert out["2024-01-01 02:00:00"] == 20.0
    assert out["2024-01-01 03:00:00"] == 30.0
    assert out["2024-01-01 04:00:00"] == 40.0


def test_inverted_index_postings_sorted_and_counts(spark):
    from hadoop_fcfs_spark.ops.textops import inverted_index

    df = spark.createDataFrame(
        [(3, "b a b"), (1, "a c"), (2, "b")], "doc_id long, text string"
    )
    out = {r["term"]: r for r in inverted_index(df, "doc_id", "text").collect()}
    assert out["a"]["postings"] == [1, 3] and out["a"]["doc_freq"] == 2
    assert out["a"]["total_tf"] == 2
    assert out["b"]["postings"] == [2, 3] and out["b"]["total_tf"] == 3
    assert out["c"]["postings"] == [1] and out["c"]["doc_freq"] == 1


def test_inverted_index_sharded_bounds_postings(spark):
    from hadoop_fcfs_spark.ops.textops import inverted_index

    df = spark.createDataFrame(
        [(i, "stop word") for i in range(10)], "doc_id long, text string"
    )
    sharded = inverted_index(df, "doc_id", "text", n_shards=4)
    rows = [r for r in sharded.collect() if r["term"] == "stop"]
    assert len(rows) == 4  # hot term split across shards, no single giant list
    merged = sorted(d for r in rows for d in r["postings"])
    assert merged == list(range(10))
    assert sum(r["doc_freq"] for r in rows) == 10


def test_cooccurrence_pairs_window_semantics(spark):
    from hadoop_fcfs_spark.ops.textops import cooccurrence_pairs

    # brute-force expectation on one small doc, window=2
    toks = "the quick brown fox the".split()
    expect = {}
    for i, x in enumerate(toks):
        for j in range(i + 1, min(i + 3, len(toks))):
            k = tuple(sorted((x, toks[j])))
            expect[k] = expect.get(k, 0) + 1
    df = spark.createDataFrame([(" ".join(toks),)], "text string")
    got = {
        (r["w1"], r["w2"]): r["cnt"]
        for r in cooccurrence_pairs(df, "text", window=2).collect()
    }
    assert got == expect


def test_triangle_count_k4_and_orientation_invariance(spark):
    from hadoop_fcfs_spark.ops.graph import triangle_count

    # K4: 4 triangles total, every node in exactly 3; edges fed directed
    # + duplicated + self-loop to prove normalization
    edges = [(a, b) for a in range(4) for b in range(4) if a != b] + [(0, 0), (1, 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    by_deg = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert by_deg == {0: 3, 1: 3, 2: 3, 3: 3}
    by_id = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(df, orient="id").collect()
    }
    assert by_id == by_deg


def test_triangle_count_skewed_star_plus_edge(spark):
    from hadoop_fcfs_spark.ops.graph import triangle_count

    # star hub 0 with 20 leaves (no triangles) + one leaf-leaf edge -> 1 triangle
    edges = [(0, i) for i in range(1, 21)] + [(1, 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_hash_prefilter_semi_join_exact_even_with_tiny_modulus(spark):
    from hadoop_fcfs_spark.ops.joins import hash_prefilter_semi_join

    big = spark.range(0, 2000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    small = spark.range(0, 2000, 13).select(F.col("id").alias("k"))
    expect = sorted(r["k"] for r in big.join(small, "k", "left_semi").collect())
    # modulus=16 forces heavy false positives; the scrub must remove all
    got = sorted(r["k"] for r in hash_prefilter_semi_join(big, small, "k", modulus=16).collect())
    assert got == expect
    plan = hash_prefilter_semi_join(big, small, "k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # digest prefilter stays a broadcast join


def test_cms_never_undercounts_and_rollup_merges(spark):
    from hadoop_fcfs_spark.agg.sketches import cms_estimate, cms_partial, cms_rollup

    # skewed: key 0 hot, 200 cold keys forced into 64 counters -> collisions
    rows = [(0,)] * 500 + [(k,) for k in range(1, 201)]
    df = spark.createDataFrame(rows, "k long")
    sk = cms_partial(df, "k", depth=4, width=64)
    keys = spark.createDataFrame([(0,), (1,), (199,)], "k long")
    est = {r["k"]: r["est"] for r in cms_estimate(sk, keys, "k", width=64).collect()}
    true = {0: 500, 1: 1, 199: 1}
    for k, tr in true.items():
        assert est[k] >= tr  # CMS one-sided error
        assert est[k] <= tr + 700 // 64 * 4 + 64  # loose sanity ceiling
    # rollup of per-group partials == direct sketch of the union
    g = df.withColumn("g", (F.col("k") % 2).cast("int"))
    part = cms_partial(g, "k", depth=4, width=64, group_cols=["g"])
    merged = cms_rollup(part.drop("g"))
    direct = cms_partial(df, "k", depth=4, width=64)
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_merge_intervals_semantics(spark):
    from hadoop_fcfs_spark.ops.timeseries import merge_intervals

    rows = [
        ("a", 1, 5), ("a", 3, 7),   # overlap -> [1,7]
        ("a", 7, 9),                 # touching (start == prev max end) -> merges
        ("a", 20, 25),               # separate island
        ("b", 0, 2), ("b", 10, 11),  # other key untouched
        ("a", 21, 22),               # contained -> absorbed
    ]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = sorted(
        (r["k"], r["s"], r["e"])
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    )
    assert got == [("a", 1, 9), ("a", 20, 25), ("b", 0, 2), ("b", 10, 11)]


def test_key_skew_report_hand_computed(spark):
    import math

    from hadoop_fcfs_spark.ops.stats import key_skew_report

    # key a x6, b x3, c x1 -> n=10, keys=3, max=6, cv = std/mean
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, ["k"]).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_cnt"], r["top10_cnt"]) == (10, 3, 6, 10)
    assert r["top1_share_e6"] == 600000
    assert r["top10_share_e6"] == 1000000
    counts = [6, 3, 1]
    mean = sum(counts) / 3
    var = sum((x - mean) ** 2 for x in counts) / 3
    assert r["cv_e6"] == math.floor(math.sqrt(var) / mean * 1_000_000)


def test_basket_lift_hand_computed(spark):
    from hadoop_fcfs_spark.ops.affinity import basket_lift

    # baskets: {a,b}, {a,b}, {a,c}, {b} -> n=4; c_a=3, c_b=3, c_ab=2
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"), (4, "b"),
            (1, "a")]  # duplicate item in basket collapses
    df = spark.createDataFrame(rows, "basket int, item string")
    out = {(r["item_a"], r["item_b"]): r for r in basket_lift(df, "basket", "item").collect()}
    ab = out[("a", "b")]
    assert (ab["pair_count"], ab["count_a"], ab["count_b"]) == (2, 3, 3)
    assert abs(ab["lift"] - 4 * 2 / (3 * 3)) < 1e-12
    assert out[("a", "c")]["pair_count"] == 1


def test_mad_anomalies_robust_to_single_spike(spark):
    from hadoop_fcfs_spark.ops.stats import mad_anomalies, zscore_anomalies

    # 11 quiet days at ~10 plus one 1000x spike: MAD flags it
    rows = []
    for d in range(11):
        rows += [("t", f"2024-01-{d+1:02d}")] * (10 + d % 3)
    rows += [("t", "2024-01-12")] * 1000
    df = spark.createDataFrame(rows, "k string, day string")
    out = {
        r["grain"]: r["is_anomaly"]
        for r in mad_anomalies(df, ["k"], F.col("day"), F.count("*")).collect()
    }
    assert out["2024-01-12"] is True
    assert sum(out.values()) == 1


def test_cms_join_size_estimator_contract(spark):
    from hadoop_fcfs_spark.agg.sketches import cms_join_size_estimate, cms_partial

    # A: key k appears k times (k=1..20); B: each key once -> exact join
    # size = sum(1..20) = 210
    a = spark.createDataFrame(
        [(k,) for k in range(1, 21) for _ in range(k)], "k long"
    )
    b = spark.createDataFrame([(k,) for k in range(1, 21)], "k long")
    est = cms_join_size_estimate(
        cms_partial(a, "k", depth=4, width=1024),
        cms_partial(b, "k", depth=4, width=1024),
    ).collect()[0]["join_size_est"]
    assert est >= 210          # inner product never undercounts
    assert est <= 210 + 50     # tiny key space in 1024 counters: near-exact


def test_pareto_frontier_matches_bruteforce_with_ties(spark):
    import random

    from hadoop_fcfs_spark.ops.stats import pareto_frontier

    rng = random.Random(7)
    # small x domain forces x-ties; duplicate (x, y) pairs included
    pts = [(rng.randrange(0, 30), float(rng.randrange(0, 50))) for _ in range(300)]
    pts += pts[:10]
    df = spark.createDataFrame(pts, "x int, y double")
    got = {
        (r["x"], r["y"])
        for r in pareto_frontier(
            df, "x", "y", chunk_of=lambda c: F.floor(c / 6)
        ).collect()
    }
    best = {}
    for x, y in pts:
        best[x] = max(best.get(x, float("-inf")), y)
    expect = {
        (x, y)
        for x, y in best.items()
        if not any(qx > x and qy >= y for qx, qy in best.items())
    }
    assert got == expect
    # frontier is strictly decreasing in y as x increases
    ordered = sorted(got)
    assert all(a[1] < b[1] for a, b in zip(ordered[1:], ordered[:-1]))


def test_ewma_decay_gap_and_chunk_boundary(spark):
    from hadoop_fcfs_spark.ops.timeseries import ewma_decay

    # idx 2 is a silent gap: idx 3 decays history by CALENDAR distance
    df = spark.createDataFrame(
        [("g", 0, 4), ("g", 1, 8), ("g", 3, 2)], "k string, n int, x long"
    )
    out = {
        r["n"]: r["ewma"]
        for r in ewma_decay(df, ["k"], "n", "x", window=20).collect()
    }
    assert out == {0: 4.0, 1: 10.0, 3: 2 + 8 * 0.25 + 4 * 0.125}

    # window=2 with idxs crossing the chunk boundary (chunk = n div 2):
    # every kernel is exactly {n-1, n}
    df2 = spark.createDataFrame(
        [("g", i, 1) for i in range(6)], "k string, n int, x long"
    )
    out2 = {
        r["n"]: r["ewma"]
        for r in ewma_decay(df2, ["k"], "n", "x", window=2).collect()
    }
    assert out2 == {0: 1.0, 1: 1.5, 2: 1.5, 3: 1.5, 4: 1.5, 5: 1.5}


def test_frequent_triples_bruteforce_and_prune_invariance(spark):
    import itertools
    import random

    from hadoop_fcfs_spark.ops.affinity import frequent_triples

    rng = random.Random(11)
    rows = [
        (b, rng.choice("abcdefgh"))
        for b in range(40)
        for _ in range(rng.randrange(2, 6))
    ]
    df = spark.createDataFrame(rows, "b int, i string")
    got = {
        (r["item_a"], r["item_b"], r["item_c"]): r["support"]
        for r in frequent_triples(df, "b", "i", min_support=3).collect()
    }
    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    expect = {}
    for items in baskets.values():
        for tri in itertools.combinations(sorted(items), 3):
            expect[tri] = expect.get(tri, 0) + 1
    expect = {k: v for k, v in expect.items() if v >= 3}
    assert got == expect and len(got) > 0


def test_session_ngram_paths_respect_session_boundaries(spark):
    from datetime import datetime

    from hadoop_fcfs_spark.ops.seqmine import session_ngram_paths

    T = lambda m: datetime(2024, 1, 1, 10, m)
    rows = [
        # user 1: a,b,c within one session; gap >30min; then d,e,f
        (1, T(0), 1, "a"), (1, T(1), 2, "b"), (1, T(2), 3, "c"),
        (1, T(40), 4, "d"), (1, T(41), 5, "e"), (1, T(42), 6, "f"),
        # user 2: same-ts ties ordered by event_id
        (2, T(0), 1, "x"), (2, T(0), 2, "y"), (2, T(0), 3, "z"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int, event_type string")
    got = {
        (r["step_1"], r["step_2"], r["step_3"]): r["path_count"]
        for r in session_ngram_paths(df, "user_id", "ts", "event_type", "event_id").collect()
    }
    # no path crosses the 40-minute gap (no b,c,d or c,d,e)
    assert got == {("a", "b", "c"): 1, ("d", "e", "f"): 1, ("x", "y", "z"): 1}

    # both window layers + sessionization reuse ONE user-key exchange
    plan = (
        session_ngram_paths(df, "user_id", "ts", "event_type", "event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("hashpartitioning(user_id") == 1


def test_debounce_bursts_and_first_rows(spark):
    from datetime import datetime

    from hadoop_fcfs_spark.ops.timeseries import debounce

    T = lambda s: datetime(2024, 1, 1, 10, 0, s)
    rows = [
        # burst of 3 within 2s, then quiet, then one more
        (1, "c", T(0), 1), (1, "c", T(1), 2), (1, "c", T(2), 3),
        (1, "c", T(50), 4),
        # different key: independent first row always kept
        (2, "c", T(1), 5),
        # slow-burst semantics: consecutive 3s gaps all < quiet -> one kept
        (3, "c", T(0), 6), (3, "c", T(3), 7), (3, "c", T(6), 8), (3, "c", T(9), 9),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp, event_id int")
    kept = sorted(
        r["event_id"]
        for r in debounce(df, ["user_id", "event_type"], "ts", "event_id", quiet_ms=5000).collect()
    )
    assert kept == [1, 4, 5, 6]


def test_label_propagation_two_cliques_weak_bridge(spark):
    from hadoop_fcfs_spark.ops.graph import label_propagation

    # two triangles {a,b,c} and {x,y,z} joined by a weight-1 bridge c-x;
    # heavy intra-clique edges pull each side to its min label
    edges = [
        ("a", "b", 10), ("b", "c", 10), ("a", "c", 10),
        ("x", "y", 10), ("y", "z", 10), ("x", "z", 10),
        ("c", "x", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iterations=4).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"
    # isolated self-loop-only node keeps its own label
    df2 = df.union(spark.createDataFrame([("q", "q", 5)], "src string, dst string, w long"))
    got2 = {r["node"]: r["community"] for r in label_propagation(df2, iterations=2).collect()}
    assert "q" not in got2  # self-loops dropped -> q has no edges at all


def test_theil_sen_robust_to_outlier(spark):
    from hadoop_fcfs_spark.ops.stats import theil_sen_trend

    # perfect line y = 2x + 1 with ONE wild outlier at x=5: the median
    # of pairwise slopes still recovers slope 2, intercept 1
    rows = [("g", x, 2 * x + 1) for x in range(10) if x != 5] + [("g", 5, 1000)]
    df = spark.createDataFrame(rows, "k string, n int, y long")
    r = theil_sen_trend(df, ["k"], "n", "y").collect()[0]
    assert r["n_points"] == 10
    assert r["slope"] == 2.0 and r["intercept"] == 1.0


def test_stats_tier_chi2_ztest_psi(spark):
    import math

    from hadoop_fcfs_spark.ops.stats import (
        chi_squared_independence,
        population_stability_index,
        two_proportion_ztest,
    )

    # chi2: perfectly independent 2x2 -> 0; fully dependent -> n
    ind = spark.createDataFrame(
        [("a", "x")] * 10 + [("a", "y")] * 10 + [("b", "x")] * 10 + [("b", "y")] * 10,
        "u string, v string",
    )
    r = chi_squared_independence(ind, "u", "v").collect()[0]
    assert r["chi2_e6"] == 0 and r["dof"] == 1 and r["n"] == 40
    dep = spark.createDataFrame(
        [("a", "x")] * 20 + [("b", "y")] * 20, "u string, v string"
    )
    r2 = chi_squared_independence(dep, "u", "v").collect()[0]
    assert r2["chi2_e6"] == 40 * 1_000_000

    # z-test vs scipy-free hand computation: 30/100 vs 45/100
    rows = [(i, i % 2, 1 if (i % 2 == 0 and i < 60) or (i % 2 == 1 and i < 90) else 0)
            for i in range(200)]
    df = spark.createDataFrame(rows, "user long, v int, s int")
    z = two_proportion_ztest(
        df, F.col("v") == 1, F.max("s") == 1, "user"
    ).collect()[0]
    p1, p2, pp = 30 / 100, 45 / 100, 75 / 200
    se = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 100))
    assert z["z_e6"] == math.floor((p2 - p1) / se * 1e6)
    # degenerate split: everyone converts -> NULL z, no crash
    allc = spark.createDataFrame([(i, i % 2, 1) for i in range(20)], "user long, v int, s int")
    assert two_proportion_ztest(allc, F.col("v") == 1, F.max("s") == 1, "user").collect()[0]["z_e6"] is None

    # PSI: identical distributions -> ~0; shifted -> large
    a = spark.createDataFrame([(float(i % 10),) for i in range(1000)], "x double")
    b = spark.createDataFrame([(float(i % 10) + 5,) for i in range(1000)], "x double")
    same = population_stability_index(a, a, "x", 0.0, 10.0, 10).collect()[0]
    assert same["psi_e6"] == 0 and same["n_ref"] == 1000
    moved = population_stability_index(a, b, "x", 0.0, 10.0, 10).collect()[0]
    assert moved["psi_e6"] > 250_000  # way past the 0.25 'shifted' bar


def test_kaplan_meier_hand_case_with_censoring(spark):
    from hadoop_fcfs_spark.ops.stats import kaplan_meier

    # classic textbook set: exits at t=1 (2 of 10), t=3 (1 of 8, after a
    # censor at 2), censors at t=2 and t=5
    rows = (
        [(1, False)] * 2 + [(2, True)] + [(3, False)] + [(5, True)] * 6
    )
    df = spark.createDataFrame(rows, "dur int, cens boolean")
    got = {r["t"]: (r["n_risk"], r["d_events"], r["surv_e6"]) for r in
           kaplan_meier(df, "dur", "cens").collect()}
    # S(1) = 1 - 2/10 = 0.8 ; S(3) = 0.8 * (1 - 1/7)
    assert got[1] == (10, 2, 800_000)
    import math

    expect3 = math.floor(math.exp(math.log(1 - 2 / 10) + math.log(1 - 1 / 7)) * 1e6)
    assert got[3] == (7, 1, expect3)
    assert set(got) == {1, 3}  # censor-only durations emit no row


def test_rolling_wau_hand_case(spark):
    from datetime import datetime

    from hadoop_fcfs_spark.registry import all_queries  # noqa: F401  (pattern ref)

    # direct mini-replica of the gate shape on controlled data
    from pyspark.sql import functions as FF

    rows = [
        (1, datetime(2024, 1, d)) for d in range(1, 11)
    ] + [(2, datetime(2024, 1, 10))]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    ud = ev.select("user_id", FF.to_date("ts").alias("day")).distinct()
    bounds = ud.agg(FF.min("day").alias("__lo"), FF.max("day").alias("__hi"))
    win = ud.select(
        "user_id",
        FF.explode(FF.array(*[FF.date_add(FF.col("day"), 6 - o) for o in range(7)])).alias("wend"),
    )
    got = {
        str(r["window_end"]): r["wau"]
        for r in (
            win.crossJoin(FF.broadcast(bounds))
            .filter((FF.col("wend") >= FF.date_add(FF.col("__lo"), 6)) & (FF.col("wend") <= FF.col("__hi")))
            .groupBy(FF.col("wend").cast("string").alias("window_end"))
            .agg(FF.countDistinct("user_id").cast("long").alias("wau"))
        ).collect()
    }
    # windows ending Jan 7..9 see only user 1; Jan 10's window sees both
    assert got == {"2024-01-07": 1, "2024-01-08": 1, "2024-01-09": 1, "2024-01-10": 2}


def test_purchase_attribution_window_semantics(spark):
    from datetime import datetime

    from hadoop_fcfs_spark.registry import all_queries  # noqa: F401

    # inline replica of the attribution shape on controlled rows
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    T = lambda m: datetime(2024, 1, 1, 10, m)
    rows = [
        (1, T(0), 1, "click"), (1, T(5), 2, "purchase"),     # click credited
        (1, T(50), 3, "purchase"),                            # >30min -> none
        (2, T(0), 4, "purchase"),                             # first event -> none
        (3, T(0), 5, "view"), (3, T(1), 6, "purchase"),
        (3, T(2), 7, "purchase"),                             # view still last touch
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int, event_type string")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    nonp = FF.when(FF.col("event_type") != "purchase", FF.col("event_type"))
    nonp_ts = FF.when(FF.col("event_type") != "purchase", FF.col("ts"))
    seq = ev.select(
        "event_type", "ts",
        FF.last(nonp, ignorenulls=True).over(w).alias("lt"),
        FF.last(nonp_ts, ignorenulls=True).over(w).alias("lt_ts"),
    )
    within = (FF.unix_micros(FF.col("ts")) - FF.unix_micros(FF.col("lt_ts"))) <= 1_800_000_000
    got = {
        r["channel"]: r["purchases"]
        for r in seq.filter(FF.col("event_type") == "purchase")
        .select(FF.coalesce(FF.when(within, FF.col("lt")), FF.lit("(none)")).alias("channel"))
        .groupBy("channel").agg(FF.count("*").cast("long").alias("purchases"))
        .collect()
    }
    assert got == {"click": 1, "(none)": 2, "view": 2}


def test_spearman_corr_monotone_and_ties(spark):
    from hadoop_fcfs_spark.ops.stats import spearman_corr

    # perfect monotone (nonlinear) relation -> exactly 1.0
    df = spark.createDataFrame([(float(i), float(i**3)) for i in range(20)], "x double, y double")
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r["spearman"] == 1.0 and r["n"] == 20

    # anti-monotone -> -1; ties get fractional average ranks (scipy-free
    # hand check: x=[1,1,2], y=[3,2,1] -> ranks x=[1.5,1.5,3], y=[3,2,1],
    # corr = -0.866025)
    df2 = spark.createDataFrame(
        [(1.0, 3.0), (1.0, 2.0), (2.0, 1.0)], "x double, y double"
    )
    r2 = spearman_corr(df2, "x", "y").collect()[0]
    assert r2["spearman"] == -0.866025


def test_weighted_draws_proportional_and_deterministic(spark):
    from hadoop_fcfs_spark.ops.sampling import weighted_draws

    w = spark.createDataFrame(
        [("a", 1), ("b", 10), ("c", 100)], "k string, wt long"
    )
    out = weighted_draws(w, "k", "wt", 2000, chunk_of=lambda k: F.lit(0))
    rows = out.collect()
    assert len(rows) == 2000                      # every draw routed exactly once
    got = {k: 0 for k in "abc"}
    for r in rows:
        got[r["k"]] += 1
    # proportionality: c ~ 100/111 of draws, a ~ 1/111
    assert got["c"] > 1600 and got["a"] < 60 and got["b"] > 100
    # engine-replayable: identical table -> identical draws
    again = weighted_draws(w, "k", "wt", 2000, chunk_of=lambda k: F.lit(0))
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_schema_diff_reports_all_change_kinds(spark):
    from hadoop_fcfs_spark.ops.validate import schema_diff

    old = spark.createDataFrame([], "a int, b string, c double")
    new = spark.createDataFrame([], "a long, b string, d string")
    got = {d["column"]: d["status"] for d in schema_diff(old, new)}
    assert got == {"a": "type_changed", "c": "dropped", "d": "added"}
    assert schema_diff(old, old) == []


def test_gini_hand_cases_via_gate_shape(spark):
    from hadoop_fcfs_spark.ops.sort import ranked_total_order

    # equal values -> gini 0; one-holder economy of n=4 -> (n-1)/n = 0.75
    def gini(vals):
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        ranked = ranked_total_order(df, [F.asc("v")], rank_col="i")
        total = ranked.agg(F.count("*").cast("long").alias("n"))
        row = (
            ranked.crossJoin(F.broadcast(total))
            .select(
                ((2 * F.col("i").cast("decimal(38,0)")
                  - F.col("n").cast("decimal(38,0)") - 1)
                 * F.col("v").cast("decimal(38,0)")).alias("t"),
                "n",
                F.col("v").cast("decimal(38,0)").alias("vd"),
            )
            .groupBy("n")
            .agg(F.sum("t").alias("num"), F.sum("vd").alias("sv"))
            .collect()[0]
        )
        return float(row["num"]) / (row["n"] * float(row["sv"]))

    assert gini([5, 5, 5, 5]) == 0.0
    assert gini([0, 0, 0, 100]) == 0.75


def test_weighted_median_crossing_and_contrast_with_unweighted(spark):
    from hadoop_fcfs_spark.ops.stats import weighted_median

    # values 1..4; weight is concentrated on 4: weighted median = 4,
    # unweighted median would be 2.5
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 10)], "v double, w long"
    )
    r = weighted_median(df, "v", "w").collect()[0]
    assert r["wmedian"] == 4.0 and r["total_weight"] == 13

    # exact-half crossing: weights 1,1 -> lower median (first value with
    # 2*cum >= total) = the smaller value
    df2 = spark.createDataFrame([(10.0, 1), (20.0, 1)], "v double, w long")
    assert weighted_median(df2, "v", "w").collect()[0]["wmedian"] == 10.0


def test_kaplan_meier_exhausted_risk_set_hits_zero(spark):
    from hadoop_fcfs_spark.ops.stats import kaplan_meier

    # all longest-duration subjects exit uncensored: d == n_risk at t=3,
    # so S(3) must be exactly 0 — under the old ln(0)->NULL behavior the
    # window SUM dropped the term and S froze at the previous value
    rows = [(1, False)] * 2 + [(3, False)] * 3
    df = spark.createDataFrame(rows, "dur int, cens boolean")
    got = {r["t"]: (r["n_risk"], r["d_events"], r["surv_e6"]) for r in
           kaplan_meier(df, "dur", "cens").collect()}
    assert got[1] == (5, 2, 600_000)
    assert got[3] == (3, 3, 0)


def test_two_proportion_ztest_empty_arm_returns_null(spark):
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.stats import two_proportion_ztest

    # every unit is in the treatment arm: n_control == 0 divided p1/se
    # under ANSI Spark before the guard — must yield NULL z, not throw
    rows = [(u, 1, u % 2) for u in range(10)]
    df = spark.createDataFrame(rows, "user int, v int, s int")
    out = two_proportion_ztest(
        df, F.col("v") == 1, F.max("s") == 1, "user"
    ).collect()[0]
    assert out["n_control"] == 0 and out["n_treat"] == 10
    assert out["z_e6"] is None


def test_trailing_band_join_matches_naive_and_is_equi(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.joins import trailing_band_join

    W = 1_800_000_000  # 30 min in micros

    def ts(m, s=0, us=0):
        return datetime(2024, 1, 1, m // 60, m % 60, s, us)

    anchors = spark.createDataFrame(
        [(1, 100, ts(60)), (1, 101, ts(90)), (2, 200, ts(45))],
        "p_user int, p_id int, p_ts timestamp",
    )
    events = spark.createDataFrame(
        [
            (1, "ad", ts(30)),          # exactly 30 min before p 100: IN (inclusive)
            (1, "email", ts(29, 59)),   # 30m01s before: OUT for 100
            (1, "ad", ts(60)),          # equal ts: IN for 100
            (1, "push", ts(75)),        # between: IN for 101 only
            (1, "ad", ts(95)),          # after both: OUT
            (2, "email", ts(20)),       # 25 min before 200: IN
            (3, "ad", ts(60)),          # other user: OUT
        ],
        "user_id int, channel string, ts timestamp",
    )
    got = {
        (r["p_id"], r["channel"], r["ts"])
        for r in trailing_band_join(
            anchors, events, "p_user", "user_id", "p_ts", "ts", band_us=W
        ).collect()
    }
    naive = {
        (r["p_id"], r["channel"], r["ts"])
        for r in anchors.join(events, F.col("p_user") == F.col("user_id"))
        .filter(
            (F.col("ts") <= F.col("p_ts"))
            & (F.unix_micros("p_ts") - F.unix_micros("ts") <= W)
        )
        .collect()
    }
    assert got == naive
    assert (100, "ad", ts(30)) in got and (100, "email", ts(29, 59)) not in got

    # the scale contract: the physical join is EQUI on (key, bucket) —
    # the bucket column must appear in the join keys, not a post-filter
    plan = trailing_band_join(
        anchors, events, "p_user", "user_id", "p_ts", "ts", band_us=W
    )._jdf.queryExecution().executedPlan().toString()
    assert "__abkt" in plan and "__ebkt" in plan


def test_global_running_sum_matches_window(spark):
    from pyspark.sql import Window, functions as F

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    df = spark.createDataFrame(
        [(i * 7 % 101, i % 5 + 1) for i in range(101)], "k int, v int"
    ).repartition(8)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        (r["k"], r["run"]): True
        for r in df.withColumn("run", F.sum("v").over(w)).collect()
    }
    got_inc = {
        (r["k"], r["run"]): True
        for r in global_running_sum(df, ["k"], "v", out_col="run").collect()
    }
    assert got_inc == expect
    # exclusive variant: inclusive minus own value
    got_exc = {
        r["k"]: r["run"]
        for r in global_running_sum(
            df, ["k"], "v", out_col="run", inclusive=False
        ).collect()
    }
    vals = {r["k"]: r["v"] for r in df.collect()}
    assert all(got_exc[k] + vals[k] == run for (k, run) in expect)
    # plan contract: no unpartitioned data-sized window — the only
    # ORDER-BY-without-PARTITION window runs over per-partition totals
    plan = global_running_sum(df, ["k"], "v")._jdf.queryExecution().toString()
    assert "rangepartitioning" in plan.lower()
    release_waypoints()


def test_sssp_hand_case_weighted_vs_hops(spark):
    from hadoop_fcfs_spark.ops.graph import sssp

    # A->B cost 10, A->C cost 1, C->B cost 2: weighted SP to B is 3 via
    # C (BFS hop-count would say the direct edge); D unreachable from A
    edges = spark.createDataFrame(
        [("A", "B", 10), ("A", "C", 1), ("C", "B", 2), ("D", "A", 1)],
        "src string, dst string, w long",
    )
    got = {r["node"]: r["dist"] for r in sssp(edges, ["A"], max_iters=5).collect()}
    assert got == {"A": 0, "C": 1, "B": 3}
    # multi-source: min over sources; extra iterations past convergence
    # change nothing (monotone min-merge)
    got2 = {r["node"]: r["dist"] for r in sssp(edges, ["A", "D"], max_iters=9).collect()}
    assert got2 == {"A": 0, "D": 0, "C": 1, "B": 3}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sssp(edges, [], max_iters=3)


def test_frequent_subsequences_hand_case(spark):
    from datetime import datetime

    from hadoop_fcfs_spark.ops.seqmine import frequent_subsequences

    def ts(u, m):
        return (u, datetime(2024, 1, 1, 10, m))

    # users 1+2 do a->b->c in order; user 3 does c->b->a (reversed);
    # user 4 has a,a,b (tests the repeated-step pair a<a via two
    # occurrences feeding (a,a,b))
    rows = []
    for u in (1, 2):
        for i, s in enumerate(["a", "b", "c"]):
            rows.append((u, datetime(2024, 1, 1, 10, i), i, s))
    for i, s in enumerate(["c", "b", "a"]):
        rows.append((3, datetime(2024, 1, 1, 10, i), i, s))
    for i, s in enumerate(["a", "a", "b"]):
        rows.append((4, datetime(2024, 1, 1, 10, i), i, s))
    df = spark.createDataFrame(rows, "u int, ts timestamp, eid int, s string")
    got = {
        (r["step_a"], r["step_b"], r["step_c"]): r["support"]
        for r in frequent_subsequences(
            df, "u", "ts", "s", "eid", min_support_num=1, min_support_den=2
        ).collect()
    }
    # support >= 2 of 4 users: (a,b,c) by users 1+2 only
    assert got == {("a", "b", "c"): 2}
    # session scoping: a 12h gap between b and c for user 1 removes the
    # in-session containment, dropping (a,b,c) below the threshold
    rows2 = [r for r in rows if not (r[0] == 1 and r[3] == "c")]
    rows2.append((1, datetime(2024, 1, 2, 10, 0), 99, "c"))
    df2 = spark.createDataFrame(rows2, "u int, ts timestamp, eid int, s string")
    got2 = {
        (r["step_a"], r["step_b"], r["step_c"]): r["support"]
        for r in frequent_subsequences(
            df2, "u", "ts", "s", "eid",
            min_support_num=1, min_support_den=2, session_gap_minutes=720,
        ).collect()
    }
    assert got2 == {}


def test_wilson_lower_bound_hand_values(spark):
    import math

    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.stats import wilson_lower_bound

    df = spark.createDataFrame(
        [(2, 2), (480, 520), (0, 10), (0, 0)], "s long, n long"
    )
    got = {
        (r["s"], r["n"]): r["lb"]
        for r in df.select(
            "s", "n", wilson_lower_bound(F.col("s"), F.col("n")).alias("lb")
        ).collect()
    }

    def ref(s, n, z=1.96):
        p = s / n
        return (p + z * z / (2 * n) - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))) / (
            1 + z * z / n
        )

    # the sample-size honesty property: 2/2 must NOT outrank 480/520
    assert got[(2, 2)] == ref(2, 2) and got[(2, 2)] < got[(480, 520)]
    assert abs(got[(480, 520)] - ref(480, 520)) < 1e-12
    # p=0: exact bound is 0; the raw float cancels one ulp negative
    # (~-2e-17) which the operator clamps so e6-floors never emit -1
    assert got[(0, 10)] == 0.0
    assert got[(0, 0)] is None  # empty arm: NULL, no ANSI divide error


def test_kcore_hand_case(spark):
    from hadoop_fcfs_spark.ops.graph import kcore

    # triangle A-B-C (2-core) with a pendant chain C-D-E: peeling
    # removes E (deg 1), then D (deg 1 after E) — cascades need >1 round
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"), ("D", "E")],
        "src string, dst string",
    )
    got = {r["node"]: r["degree"] for r in kcore(edges, k=2).collect()}
    assert got == {"A": 2, "B": 2, "C": 2}
    # 3-core of a triangle is empty
    assert kcore(edges, k=3).collect() == []

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kcore(edges, k=0)


def test_markov_stationary_hand_case(spark):
    from hadoop_fcfs_spark.ops.graph import markov_stationary

    # two-state chain with P = [[0, 1], [1/2, 1/2]]: stationary is
    # (1/3, 2/3); counts (A->B: 2), (B->A: 1), (B->B: 1)
    edges = spark.createDataFrame(
        [("A", "B", 2), ("B", "A", 1), ("B", "B", 1)],
        "src string, dst string, w long",
    )
    got = {r["node"]: r["pi"] for r in markov_stationary(edges, iters=40).collect()}
    total = sum(got.values())
    # integer floor-div leaks <= 1 unit per term per round: tolerance
    assert abs(got["A"] / total - 1 / 3) < 1e-6
    assert abs(got["B"] / total - 2 / 3) < 1e-6
    assert total > 10**12 - 10_000  # mass preserved up to div leakage
    # replay determinism (exact integers end to end)
    again = {r["node"]: r["pi"] for r in markov_stationary(edges, iters=40).collect()}
    assert again == got


def test_trailing_band_join_random_equivalence(spark):
    """Seeded-random equivalence vs the naive key-join + band filter,
    with timestamps landing on and around bucket boundaries."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.joins import trailing_band_join

    rng = random.Random(42)
    W = 600_000_000  # 10 min band
    base = datetime(2024, 3, 1)

    def rts():
        # mix of arbitrary offsets and exact 10-min boundary hits
        if rng.random() < 0.3:
            return base + timedelta(minutes=10 * rng.randint(0, 40))
        return base + timedelta(seconds=rng.randint(0, 24000), microseconds=rng.randint(0, 999999))

    anchors = [(rng.randint(1, 5), i, rts()) for i in range(60)]
    events = [(rng.randint(1, 5), f"c{rng.randint(0, 3)}", rts()) for _ in range(200)]
    a = spark.createDataFrame(anchors, "p_user int, p_id int, p_ts timestamp")
    e = spark.createDataFrame(events, "user_id int, channel string, ts timestamp")
    got = {
        (r["p_id"], r["channel"], r["ts"])
        for r in trailing_band_join(a, e, "p_user", "user_id", "p_ts", "ts", band_us=W).collect()
    }
    naive = {
        (r["p_id"], r["channel"], r["ts"])
        for r in a.join(e, F.col("p_user") == F.col("user_id"))
        .filter(
            (F.col("ts") <= F.col("p_ts"))
            & (F.unix_micros("p_ts") - F.unix_micros("ts") <= W)
        )
        .collect()
    }
    assert got == naive and len(got) > 0


def test_trailing_band_join_negative_epochs(spark):
    """Pre-1970 timestamps: bucketing must be FLOOR division, not
    trunc-toward-zero — a trunc-div puts t=-1us and t=+1us in the SAME
    bucket 0 and silently drops true band matches whose floor-buckets
    differ (r5 ADVICE regression)."""
    from datetime import datetime

    from hadoop_fcfs_spark.ops.joins import trailing_band_join

    W = 600_000_000  # 10 min
    # anchor just after epoch 0, event just before: in-band (59s apart),
    # but trunc-div buckets both to 0 while floor puts the event at -1 —
    # under the OLD trunc code both land in bucket 0 and this pair is
    # found by luck; the killer case is anchor in floor-bucket -1 whose
    # explode {-2,-1} must cover an event in floor-bucket -2.
    a = spark.createDataFrame(
        [(1, 10, datetime(1969, 12, 31, 23, 51, 0))],  # floor-bucket -1
        "p_user int, p_id int, p_ts timestamp",
    )
    e = spark.createDataFrame(
        [
            (1, "in", datetime(1969, 12, 31, 23, 42, 0)),  # 9min before, bucket -2
            (1, "out", datetime(1969, 12, 31, 23, 40, 0)),  # 11min before
        ],
        "user_id int, channel string, ts timestamp",
    )
    got = {
        r["channel"]
        for r in trailing_band_join(
            a, e, "p_user", "user_id", "p_ts", "ts", band_us=W
        ).collect()
    }
    assert got == {"in"}


def test_kll_merge_fold_empty_array_yields_null(spark):
    """kll_merge_fold's contract: empty array -> NULL sketch (not an
    ANSI INVALID_ARRAY_INDEX throw — r5 ADVICE regression)."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.agg.sketches import kll_merge_fold, kll_partial

    part = kll_partial(
        spark.range(100).select((F.col("id") % 7).alias("g"), F.col("id").alias("v")),
        ["g"],
        "v",
    )
    rows = (
        part.groupBy()
        .agg(F.collect_list("kll_sketch").alias("sk"))
        .select(
            kll_merge_fold(F.col("sk")).alias("merged"),
            kll_merge_fold(F.array().cast("array<binary>")).alias("empty"),
            kll_merge_fold(F.slice(F.col("sk"), 1, 1)).alias("single"),
        )
        .collect()[0]
    )
    assert rows["merged"] is not None
    assert rows["empty"] is None
    assert rows["single"] is not None


def test_ivm_merge_agg_delta_retractions(spark):
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.cdc import merge_agg_delta, weighted_partial_agg

    rows = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k string, v int"
    )
    base = weighted_partial_agg(
        rows, ["k"], [(F.col("v"), "s")], F.lit(1)
    )
    # retract both 'a' rows, insert one new 'c' row
    delta_rows = spark.createDataFrame(
        [("a", 10, -1), ("a", 20, -1), ("c", 7, 1)], "k string, v int, w int"
    )
    delta = weighted_partial_agg(
        delta_rows, ["k"], [(F.col("v"), "s")], F.col("w")
    )
    got = {
        r["k"]: (r["s"], r["n"])
        for r in merge_agg_delta(base, delta, ["k"], ["s"]).collect()
    }
    # fully-retracted group 'a' DISAPPEARS; b untouched; c appears
    assert got == {"b": (5, 1), "c": (7, 1)}

    # retracting a row never inserted leaves a visible negative count
    bad = weighted_partial_agg(
        spark.createDataFrame([("z", 1, -1)], "k string, v int, w int"),
        ["k"], [(F.col("v"), "s")], F.col("w"),
    )
    audit = {
        r["k"]: r["n"]
        for r in merge_agg_delta(base, bad, ["k"], ["s"]).collect()
    }
    assert audit["z"] == -1


def test_ivm_count_balancing_bad_retraction_stays_visible(spark):
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.cdc import merge_agg_delta, weighted_partial_agg

    base = weighted_partial_agg(
        spark.createDataFrame([("k", 10)], "k string, v int"),
        ["k"], [(F.col("v"), "s")], F.lit(1),
    )
    # retract a DIFFERENT value than was inserted: count nets to 0 but
    # the sum leaves a -10 residue — the audit row must NOT vanish
    bad = weighted_partial_agg(
        spark.createDataFrame([("k", 20, -1)], "k string, v int, w int"),
        ["k"], [(F.col("v"), "s")], F.col("w"),
    )
    got = {r["k"]: (r["s"], r["n"]) for r in merge_agg_delta(base, bad, ["k"], ["s"]).collect()}
    assert got == {"k": (-10, 0)}
    # a clean full retraction (count AND sums all zero) does disappear
    clean = weighted_partial_agg(
        spark.createDataFrame([("k", 10, -1)], "k string, v int, w int"),
        ["k"], [(F.col("v"), "s")], F.col("w"),
    )
    assert merge_agg_delta(base, clean, ["k"], ["s"]).collect() == []


def test_frequent_subsequences_random_vs_bruteforce(spark):
    """Seeded-random equivalence of the type-grain containment test
    (some b-position strictly between first_pos(a) and last_pos(c))
    against literal brute-force subsequence search per session —
    covers repeated types, singleton sessions, a==b==c and boundary
    positions the hand case can't."""
    import random
    from datetime import datetime, timedelta
    from itertools import product

    from hadoop_fcfs_spark.ops.seqmine import frequent_subsequences

    rng = random.Random(7)
    types = ["x", "y", "z"]
    rows, truth = [], {}
    base = datetime(2024, 5, 1)
    for u in range(25):
        # 1-3 sessions, separated by > the 720-min gap
        sessions = []
        eid = 0
        for s in range(rng.randint(1, 3)):
            seq = [rng.choice(types) for _ in range(rng.randint(1, 7))]
            sessions.append(seq)
            t0 = base + timedelta(days=2 * s)
            for i, st in enumerate(seq):
                rows.append((u, t0 + timedelta(minutes=i), eid, st))
                eid += 1
        # brute force: (a,b,c) contained iff indices i<j<k exist in ONE session
        contained = set()
        for a, b, c in product(types, repeat=3):
            for seq in sessions:
                ok = any(
                    seq[i] == a and seq[j] == b and seq[k] == c
                    for i in range(len(seq))
                    for j in range(i + 1, len(seq))
                    for k in range(j + 1, len(seq))
                )
                if ok:
                    contained.add((a, b, c))
                    break
        for trip in contained:
            truth[trip] = truth.get(trip, 0) + 1

    df = spark.createDataFrame(rows, "u int, ts timestamp, eid int, s string")
    got = {
        (r["step_a"], r["step_b"], r["step_c"]): r["support"]
        for r in frequent_subsequences(
            df, "u", "ts", "s", "eid",
            min_support_num=1, min_support_den=1000,  # keep everything
            session_gap_minutes=720,
        ).collect()
    }
    assert got == truth


def test_ks_two_sample_hand_values(spark):
    from hadoop_fcfs_spark.ops.stats import ks_two_sample

    rows = [("a", float(v)) for v in (1, 2, 3)] + [("b", float(v)) for v in (2, 3, 4)]
    # an extra group that must be ignored
    rows += [("c", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    # ECDF gaps over {1,2,3,4}: 1/3, 1/3, 1/3, 0 -> D = 1/3
    assert r["d_e6"] == 333333 and r["n_a"] == 3 and r["n_b"] == 3

    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    assert ks_two_sample(same, "v", "g", "a", "b").collect()[0]["d_e6"] == 0


def test_mann_whitney_u_separation_and_ties(spark):
    import math

    from hadoop_fcfs_spark.ops.stats import mann_whitney_u

    # complete separation: every a < every b -> U_A = 0
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0)],
        "g string, v double",
    )
    r = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert r["u2"] == 0 and r["n_a"] == 3 and r["n_b"] == 3
    var_u = 9.0 / 12.0 * 7.0  # no ties
    z = (0.0 - 9.0) / (2.0 * math.sqrt(var_u))
    assert r["z_e6"] == math.floor(z * 1_000_000)

    # all-tied input: U_A = na*nb/2 exactly, variance 0 -> z NULL
    tied = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)], "g string, v double"
    )
    r2 = mann_whitney_u(tied, "v", "g", "a", "b").collect()[0]
    assert r2["u2"] == 4 and r2["z_e6"] is None


def test_welch_ttest_hand_values_and_degenerate(spark):
    import math

    from hadoop_fcfs_spark.ops.stats import welch_ttest

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 12.0), ("a", 14.0), ("b", 10.0), ("b", 11.0), ("b", 12.0)],
        "g string, v double",
    )
    r = welch_ttest(df, "v", "g", "a", "b").collect()[0]
    # cent units: a = 1000,1200,1400; b = 1000,1100,1200
    va, vb = 40000.0, 10000.0
    sea, seb = va / 3.0, vb / 3.0
    t = (1200.0 - 1100.0) / math.sqrt(sea + seb)
    dfree = (sea + seb) ** 2 / (sea**2 / 2.0 + seb**2 / 2.0)
    assert r["t_e6"] == math.floor(t * 1_000_000)
    assert r["df_e3"] == math.floor(dfree * 1_000)
    assert r["n_a"] == 3 and r["n_b"] == 3

    # both arms constant -> zero variance -> NULL t and df
    const = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)], "g string, v double"
    )
    r2 = welch_ttest(const, "v", "g", "a", "b").collect()[0]
    assert r2["t_e6"] is None and r2["df_e3"] is None


def test_acf_lags_perfect_alternation(spark):
    from hadoop_fcfs_spark.ops.timeseries import acf_lags

    # period-2 series: lag-1 ACF = -1, lag-2 ACF = +1; a gap at i=10
    # removes pairs instead of zero-filling
    rows = [(i, float(1 if i % 2 == 0 else 5)) for i in range(12) if i != 10]
    df = spark.createDataFrame(rows, "i long, v double")
    out = {r["lag"]: r for r in acf_lags(df, "i", "v", [1, 2]).collect()}
    assert out[1]["acf"] == -1.0 and out[2]["acf"] == 1.0
    # 11 points (0..9, 11); lag-1 keeps (0,1)..(8,9) -> 9 pairs; lag-2
    # keeps (0,2)..(7,9) plus (9,11) -> 9 pairs
    assert out[1]["n_pairs"] == 9 and out[2]["n_pairs"] == 9


def test_cusum_split_locates_level_shift(spark):
    from hadoop_fcfs_spark.ops.timeseries import cusum_split

    # level 10 for t=1..5, level 100 for t=6..10: split at the last
    # low-regime step
    rows = [(f"t{i:02d}", 10 if i <= 5 else 100) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "o string, n long")
    r = cusum_split(df, "o", "n").collect()[0]
    assert r["split_at"] == "t05"
    # S_5 = 50, S_n = 550, n = 10 -> |10*50 - 5*550| = 2250
    assert r["g_max"] == 2250
    assert r["ratio_e6"] == int(2250 * 1_000_000 / (10 * 550))


def test_resource_allocation_pairs_hand_values(spark):
    from hadoop_fcfs_spark.ops.affinity import resource_allocation_pairs

    # basket 1 = {a,b} (d=2), basket 2 = {a,b,c} (d=3), basket 3 = {a,c} (d=2)
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"), (3, "a"), (3, "c")]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {(r["item_a"], r["item_b"]): r for r in
           resource_allocation_pairs(df, "bk", "it").collect()}
    # RA(a,b) = 1/2 + 1/3 -> 500000 + 333333; RA(a,c) = 1/3 + 1/2; RA(b,c) = 1/3
    assert out[("a", "b")]["ra_e6"] == 833333 and out[("a", "b")]["n_shared"] == 2
    assert out[("a", "c")]["ra_e6"] == 833333
    assert out[("b", "c")]["ra_e6"] == 333333 and out[("b", "c")]["n_shared"] == 1
    # duplicate (basket,item) rows must not double-count
    dup = df.unionByName(df)
    out2 = {(r["item_a"], r["item_b"]): r["ra_e6"] for r in
            resource_allocation_pairs(dup, "bk", "it").collect()}
    assert out2[("a", "b")] == 833333


def test_hits_star_graph_roles(spark):
    from hadoop_fcfs_spark.ops.graph import hits

    # star: h -> {x, y, z}; plus y -> x so y is also (weakly) a hub.
    edges = spark.createDataFrame(
        [("h", "x"), ("h", "y"), ("h", "z"), ("y", "x")], "src string, dst string"
    )
    out = {r["node"]: r for r in hits(edges, iterations=4).collect()}
    # h points at every authority -> max hub; x has two hub in-links -> max auth
    assert out["h"]["hub_e6"] == 1_000_000
    assert out["x"]["auth_e6"] == 1_000_000
    # pure sinks have hub 0; pure sources have auth 0
    assert out["x"]["hub_e6"] == 0 and out["z"]["hub_e6"] == 0
    assert out["h"]["auth_e6"] == 0
    # y: in-link from the best hub only -> positive auth below x's
    assert 0 < out["y"]["auth_e6"] < 1_000_000
    assert 0 < out["y"]["hub_e6"] < 1_000_000


def test_poisson_bootstrap_mean_properties(spark):
    from hadoop_fcfs_spark.ops.sampling import (
        POISSON1_T32,
        poisson_bootstrap_mean,
    )

    # thresholds are a valid CDF ladder on the 2^32 scale
    assert list(POISSON1_T32) == sorted(POISSON1_T32)
    assert POISSON1_T32[-1] < 2**32

    df = spark.createDataFrame(
        [(i, 100.0 + (i % 7)) for i in range(400)], "k long, v double"
    )
    r = poisson_bootstrap_mean(df, "k", "v", replicates=50).collect()[0]
    assert r["n_rows"] == 400
    # CI brackets the point estimate; width is sane for values in [100,106]
    assert r["boot_lo_e4"] <= r["mean_e4"] <= r["boot_hi_e4"]
    assert 100 * 10_000 <= r["boot_lo_e4"] and r["boot_hi_e4"] <= 107 * 10_000
    # fully deterministic: identical input -> identical CI
    r2 = poisson_bootstrap_mean(df, "k", "v", replicates=50).collect()[0]
    assert r == r2


def test_nelson_aalen_hand_values_and_exhaustion(spark):
    from hadoop_fcfs_spark.ops.stats import nelson_aalen

    # t=1: 2 exits of 5 at risk; t=2: 1 censored (no row emitted);
    # t=3: 2 exits of 2 at risk (exhausted -> step exactly 1)
    rows = [(1, False), (1, False), (2, True), (3, False), (3, False)]
    df = spark.createDataFrame(rows, "dur int, cens boolean")
    out = {r["t"]: r for r in nelson_aalen(df, "dur", "cens").collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_risk"] == 5 and out[1]["d_events"] == 2
    assert out[1]["hazard_e9"] == 400_000_000  # 2/5
    assert out[3]["n_risk"] == 2 and out[3]["d_events"] == 2
    # H(3) = 2/5 + 2/2 = 1.4 exactly
    assert out[3]["hazard_e9"] == 1_400_000_000


def test_anova_oneway_hand_values(spark):
    import math

    from hadoop_fcfs_spark.ops.stats import anova_oneway

    # groups (cent units): a = {0, 200}, b = {400, 600}, c = {800, 1000}
    rows = [("a", 0.0), ("a", 2.0), ("b", 4.0), ("b", 6.0), ("c", 8.0), ("c", 10.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "v", "g").collect()[0]
    assert r["k_groups"] == 3 and r["n_rows"] == 6
    assert r["df_between"] == 2 and r["df_within"] == 3
    # SSB = 2*((100-500)^2 + 0 + (900-500)^2) = 640000; SSW = 3*2*100^2... no:
    # each group has var contribution (q - mean_g)^2 summed = 2*100^2 per group
    ssb, ssw = 640_000.0, 60_000.0
    f = (ssb / 2.0) / (ssw / 3.0)
    assert r["f_e6"] == math.floor(f * 1_000_000)

    # single group -> NULL F
    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    assert anova_oneway(one, "v", "g").collect()[0]["f_e6"] is None


def test_trimmed_mean_partial_tie_groups(spark):
    from hadoop_fcfs_spark.ops.stats import trimmed_mean

    # 10 rows, trim 10% each side (k=1): values 0, 1..8, 100 -> drop one 0
    # and one 100 -> mean of 1..8 = 4.5
    rows = [(0.0,)] + [(float(i),) for i in range(1, 9)] + [(100.0,)]
    df = spark.createDataFrame(rows, "v double")
    r = trimmed_mean(df, "v", trim_permille=100).collect()[0]
    assert r["n_rows"] == 10 and r["n_kept"] == 8
    assert r["trimmed_mean_e4"] == 45_000

    # tie group straddles the cut: values [5,5,5,5], k=1 -> keep 2 of the
    # SAME value (partial contribution), mean stays 5
    ties = spark.createDataFrame([(5.0,)] * 4, "v double")
    r2 = trimmed_mean(ties, "v", trim_permille=250).collect()[0]
    assert r2["n_kept"] == 2 and r2["trimmed_mean_e4"] == 50_000


def test_global_as_of_join_matches_partitioned_asof(spark):
    from hadoop_fcfs_spark.ops.joins import global_as_of_join

    right = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c")], "k long, tagv string"
    )
    left = spark.createDataFrame(
        [(5,), (10,), (15,), (25,), (40,)], "k long"
    )
    out = {r["k"]: r["tagv_asof"] for r in
           global_as_of_join(left, right, "k", "k", ["tagv"]).collect()}
    # 5 -> no right key <= 5 -> NULL; 10 -> exact tie matches; 15 -> a@10
    assert out == {5: None, 10: "a", 15: "a", 25: "b", 40: "c"}
    # few-partition stress: carry-in must cross range-partition borders
    big_right = spark.createDataFrame(
        [(i * 10, f"v{i}") for i in range(50)], "k long, tagv string"
    )
    big_left = spark.createDataFrame(
        [(i,) for i in range(0, 500, 7)], "k long"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        got = {r["k"]: r["tagv_asof"] for r in
               global_as_of_join(big_left, big_right, "k", "k", ["tagv"]).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for k, v in got.items():
        assert v == f"v{k // 10}"


def test_quantile_normalize_aligns_group_means(spark):
    from hadoop_fcfs_spark.ops.stats import quantile_normalize

    # group a = {1..4}, group b = {101..104}: same shape, shifted.
    # Global distribution = union; after normalization both groups map
    # rank-for-rank onto the SAME global values, so their normalized
    # means agree while raw means differ by 100.
    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (101, 102, 103, 104)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in quantile_normalize(df, "v", "g").collect()}
    assert out["a"]["n_rows"] == 4 and out["b"]["n_rows"] == 4
    assert out["a"]["mean_norm_e4"] == out["b"]["mean_norm_e4"]
    assert out["b"]["mean_raw_e4"] - out["a"]["mean_raw_e4"] == 100 * 10_000


def test_basket_partners_directed_counts(spark):
    from hadoop_fcfs_spark.ops.affinity import basket_partners

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (2, "b")]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {(r["item_a"], r["item_b"]): r["pair_count"] for r in
           basket_partners(df, "bk", "it").collect()}
    # directed: both orientations; basket 2's duplicate b counts once
    assert out[("a", "b")] == 2 and out[("b", "a")] == 2
    assert out[("a", "c")] == 1 and out[("c", "a")] == 1
    assert out[("b", "c")] == 1 and out[("c", "b")] == 1
    assert len(out) == 6


def test_logrank_hand_values_and_null_variance(spark):
    import math

    from hadoop_fcfs_spark.ops.stats import logrank_test

    # group a exits early (t=1,2), group b late (t=3,4); no censoring.
    rows = [("a", 1, False), ("a", 2, False), ("b", 3, False), ("b", 4, False)]
    df = spark.createDataFrame(rows, "g string, dur int, cens boolean")
    r = logrank_test(df, "dur", "cens", "g", "a", "b").collect()[0]
    assert r["n_1"] == 2 and r["n_2"] == 2 and r["o_1"] == 2
    # E = 2/4 + 1/3 + 0 + 0 = 5/6; V = (2/4)(2/4)(3/3) + (1/3)(2/3)(2/2)
    e = 0.5 + 1.0 / 3.0
    v = 0.25 + 2.0 / 9.0
    e9 = math.floor(0.5 * 1e9) + math.floor(1e9 / 3)
    v9 = math.floor(0.25 * 1e9) + math.floor(2e9 / 9)
    assert r["e1_e9"] == e9 and r["v_e9"] == v9
    z = (2 * 10**9 - e9) / math.sqrt(1e9 * v9)
    assert r["z_e6"] == math.floor(z * 1_000_000)
    assert abs(z - (2 - e) / math.sqrt(v)) < 1e-6

    # one subject per arm at the same t: n=2, d=2 -> V term 0 -> NULL z
    deg = spark.createDataFrame(
        [("a", 5, False), ("b", 5, False)], "g string, dur int, cens boolean"
    )
    assert logrank_test(deg, "dur", "cens", "g", "a", "b").collect()[0]["z_e6"] is None


def test_weighted_quantiles_hand_values(spark):
    import pytest as _pytest

    from hadoop_fcfs_spark.ops.stats import weighted_quantiles

    # values 1..4 with weights 1,1,1,7 (total 10): cum = 1,2,3,10
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 7)], "v double, w long"
    )
    out = {r["p_permille"]: r["value"] for r in
           weighted_quantiles(df, "v", "w", [100, 300, 301, 1000]).collect()}
    # p10: cum 1 >= 1 -> v=1; p30: cum 3 >= 3 -> v=3; p30.1: needs cum>3 -> v=4
    assert out == {100: 1.0, 300: 3.0, 301: 4.0, 1000: 4.0}

    with _pytest.raises(ValueError):
        weighted_quantiles(df, "v", "w", [0])


def test_k_anonymity_audit_hand_values(spark):
    from hadoop_fcfs_spark.ops.validate import k_anonymity_audit

    # classes: (A,x): 3 rows sens {1,2}; (A,y): 1 row sens {9}; (B,x): 5 rows sens {1}
    rows = (
        [("A", "x", 1), ("A", "x", 1), ("A", "x", 2), ("A", "y", 9)]
        + [("B", "x", 1)] * 5
    )
    df = spark.createDataFrame(rows, "q1 string, q2 string, s long")
    r = k_anonymity_audit(df, ["q1", "q2"], "s", k=5).collect()[0]
    assert r["n_rows"] == 9 and r["n_classes"] == 3
    assert r["k_anonymity"] == 1          # the (A,y) singleton
    assert r["l_diversity"] == 1          # (A,y) and (B,x) are homogeneous
    assert r["classes_below_k"] == 2 and r["rows_below_k"] == 4
    assert r["rows_below_k_share_e6"] == 1_000_000 * 4 // 9


def test_two_sample_ops_survive_empty_and_tiny_arms(spark):
    """ANSI division-by-zero hardening: an empty or single-row arm must
    yield NULL statistics, never throw (the two_proportion_ztest lesson
    from ADVICE r4, applied to the whole two-sample tier)."""
    from hadoop_fcfs_spark.ops.stats import (
        anova_oneway,
        ks_two_sample,
        mann_whitney_u,
        welch_ttest,
    )

    only_a = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    r = ks_two_sample(only_a, "v", "g", "a", "b").collect()[0]
    assert r["d_e6"] is None and r["n_b"] == 0
    r = mann_whitney_u(only_a, "v", "g", "a", "b").collect()[0]
    assert r["z_e6"] is None
    r = welch_ttest(only_a, "v", "g", "a", "b").collect()[0]
    assert r["t_e6"] is None and r["df_e3"] is None

    tiny = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "g string, v double"
    )
    r = welch_ttest(tiny, "v", "g", "a", "b").collect()[0]
    assert r["t_e6"] is None  # n=1 arms: variance undefined

    one_group = spark.createDataFrame([("a", 1.0)], "g string, v double")
    assert anova_oneway(one_group, "v", "g").collect()[0]["f_e6"] is None


def test_ks_group_drift_dense_grid_matters(spark):
    from hadoop_fcfs_spark.ops.stats import ks_group_drift

    # group a = {1, 10}; group b = {2,...,9} (8 values). a's ECDF is
    # flat at 0.5 across (1, 10); the global ECDF climbs there, so a's
    # sup gap lands at v=9 (global 9/10, a still 1/2): D_a = 0.4. At
    # a's own values alone the gap is .4 at v=1 and 0 at v=10; the
    # two-sided endpoint rule also evaluates just before v=10 (a's
    # cumulative 1, the pooled one 9), which is the interior max at v=9.
    rows = [("a", 1.0), ("a", 10.0)] + [("b", float(v)) for v in range(2, 10)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in ks_group_drift(df, "v", "g").collect()}
    assert out["a"]["n_g"] == 2 and out["a"]["n_total"] == 10
    assert out["a"]["d_e6"] == 400_000
    # b's max gap: at v=9 its ECDF is 1.0, global 9/10 -> 0.1; at v=1
    # global .1, b 0 -> .1; interior |(k/8) - (k+1)/10| peaks at .1
    assert out["b"]["d_e6"] == 100_000


def test_binseg_splits_two_level_staircase(spark):
    from hadoop_fcfs_spark.ops.timeseries import binseg_splits

    # staircase 10,10,10, 50,50,50, 100,100,100: level 1 splits at the
    # biggest jump boundary; level 2 finds the other step inside one side
    rows = [(f"t{i:02d}", v) for i, v in enumerate(
        [10, 10, 10, 50, 50, 50, 100, 100, 100], start=1)]
    df = spark.createDataFrame(rows, "o string, n long")
    out = [(r["level"], r["segment"], r["split_at"]) for r in
           binseg_splits(df, "o", "n", depth=2).collect()]
    levels = {lv for lv, _, _ in out}
    assert levels == {1, 2}
    l1 = [s for lv, _, s in out if lv == 1]
    # level-1 argmax: S=480, n=9; g(t)=|9*S_t-480t| peaks at t=6 (g=450)
    assert l1 == ["t06"]
    # level 2 must find the 10->50 step inside the left segment
    assert (2, 0, "t03") in out
    # right segment [7..9] is constant -> NO split emitted for it
    assert all(not (lv == 2 and seg == 1) for lv, seg, _ in out)

    # constant series: no splits at all
    const = spark.createDataFrame([(f"t{i}", 5) for i in range(1, 6)], "o string, n long")
    assert binseg_splits(const, "o", "n", depth=2).count() == 0


def test_diversified_topk_caps_hot_group(spark):
    from hadoop_fcfs_spark.ops.ranking import diversified_topk

    # group g1 holds the 4 best scores; cap 2 forces g2/g3 rows in
    rows = [
        ("g1", 100, 1), ("g1", 99, 2), ("g1", 98, 3), ("g1", 97, 4),
        ("g2", 50, 5), ("g2", 49, 6), ("g3", 10, 7),
    ]
    df = spark.createDataFrame(rows, "g string, score long, id long")
    got = [
        (r["g"], r["score"]) for r in diversified_topk(
            df, [F.desc("score"), F.asc("id")], k=4, group_col="g",
            per_group_cap=2,
        ).collect()
    ]
    assert got == [("g1", 100), ("g1", 99), ("g2", 50), ("g2", 49)]
    # plan: global stage is TakeOrdered, not a global window
    plan = diversified_topk(
        df, [F.desc("score"), F.asc("id")], k=4, group_col="g", per_group_cap=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_gini_by_group_hand_values(spark):
    from hadoop_fcfs_spark.ops.stats import gini_by_group

    # group a: perfectly equal -> G = 0; group b: one holder -> G = (n-1)/n
    rows = [("a", i, 5.0) for i in range(4)] + [
        ("b", 10, 0.0), ("b", 11, 0.0), ("b", 12, 0.0), ("b", 13, 100.0)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = {r["g"]: r for r in gini_by_group(df, "g", "v", "id").collect()}
    assert out["a"]["gini_e6"] == 0
    # b: ranks of (0,0,0,100) -> srx = 4*10000; G = (2*40000 - 5*10000)/(4*10000)
    assert out["b"]["gini_e6"] == 750_000
    assert out["a"]["n"] == 4 and out["b"]["total_q"] == 10_000

    # all-zero group -> NULL G
    z = spark.createDataFrame([("z", 1, 0.0), ("z", 2, 0.0)], "g string, id long, v double")
    assert gini_by_group(z, "g", "v", "id").collect()[0]["gini_e6"] is None


def test_pacf_lag2_matches_python_closed_form(spark):
    import math

    # AR(1)-ish ramp with noise-free structure: x_t = t^2 gives strong
    # lag-1 AND lag-2 correlation; the closed form must match a pure-
    # python mirror computed from the SAME rounded-@6 ACF inputs
    from hadoop_fcfs_spark.ops.timeseries import pacf_lag2

    xs = [(i, float(i * i % 17)) for i in range(30)]
    df = spark.createDataFrame(xs, "i long, v double")

    def corr(pairs):
        n = len(pairs)
        mx = sum(a for a, _ in pairs) / n
        my = sum(b for _, b in pairs) / n
        cov = sum((a - mx) * (b - my) for a, b in pairs)
        sx = math.sqrt(sum((a - mx) ** 2 for a, _ in pairs))
        sy = math.sqrt(sum((b - my) ** 2 for _, b in pairs))
        return round(cov / (sx * sy), 6)

    vals = dict(xs)
    r1 = corr([(vals[i], vals[i + 1]) for i in range(29)])
    r2 = corr([(vals[i], vals[i + 2]) for i in range(28)])
    ref = math.floor((r2 - r1 * r1) / (1.0 - r1 * r1) * 1_000_000)
    r = pacf_lag2(df, "i", "v").collect()[0]
    assert r["r1"] == r1 and r["r2"] == r2
    assert r["pacf2_e6"] == ref

    # perfectly alternating series: r1 = -1, denominator 0 -> NULL
    alt = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(10)], "i long, v double"
    )
    assert pacf_lag2(alt, "i", "v").collect()[0]["pacf2_e6"] is None


def test_shard_assignment_deterministic_partition_invariant_balanced(spark):
    """shard_assignment: total function into [0, n_shards), identical
    under repartitioning (pure per-row md5 expression — the replayable
    property that lets one shard rebuild without touching others), and
    statistically balanced; n_shards=1 degenerates to all-zero."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.sampling import shard_assignment

    import pytest

    df = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["shard"] for r in shard_assignment(df, "doc_id", 16).collect()}
    b = {
        r["doc_id"]: r["shard"]
        for r in shard_assignment(df.repartition(13), "doc_id", 16).collect()
    }
    assert a == b and len(a) == 4000
    assert set(a.values()) == set(range(16))
    sizes = [sum(1 for s in a.values() if s == i) for i in range(16)]
    # i.i.d. balance: each shard ~250, allow 5 sigma (~79)
    assert all(abs(s - 250) < 80 for s in sizes), sizes
    one = shard_assignment(df, "doc_id", 1).agg(F.max("shard"), F.min("shard")).collect()[0]
    assert one == (0, 0)
    with pytest.raises(ValueError):
        shard_assignment(df, "doc_id", 0)


def test_loo_target_encode_hand_values(spark):
    """LOO encode on a tiny hand-computed frame: each row gets the mean
    of the OTHERS in its category; singletons and NULL targets NULL."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.encode import loo_target_encode

    rows = [
        ("a", 1, 10.0),
        ("a", 2, 20.0),
        ("a", 3, 30.0),
        ("b", 4, 5.0),     # singleton -> NULL
        ("c", 5, 7.0),
        ("c", 6, None),    # NULL target -> NULL encode, excluded from S
        ("c", 7, 9.0),
    ]
    df = spark.createDataFrame(rows, "cat string, id int, y double")
    got = {
        r["id"]: r["loo_e4"]
        for r in loo_target_encode(df, "cat", "y").collect()
    }
    assert got[1] == 250_000      # mean(20,30)=25 -> 25e4
    assert got[2] == 200_000
    assert got[3] == 150_000
    assert got[4] is None
    assert got[5] == 90_000       # mean(9)=9 (NULL row excluded from n,S)
    assert got[6] is None
    assert got[7] == 70_000


def test_woe_iv_hand_values_and_empty_class_bins(spark):
    """WOE/IV on a hand frame: known ln ratios; a bin missing one class
    emits NULL woe/iv (audit-visible, not smoothed); IV terms sum to
    the textbook IV."""
    import math

    from hadoop_fcfs_spark.ops.encode import woe_iv

    # bin 0: 2 good 1 bad; bin 1: 1 good 3 bad; bin 2: 1 good 0 bad
    rows = [(0, True), (0, True), (0, False),
            (1, True), (1, False), (1, False), (1, False),
            (2, True)]
    df = spark.createDataFrame(rows, "bin int, flag boolean")
    got = {r["bin"]: r for r in woe_iv(df, "bin", "flag").collect()}
    G, B = 4, 4
    for b, (g, bad) in {0: (2, 1), 1: (1, 3)}.items():
        woe = math.log((g / G) / (bad / B))
        assert got[b]["woe_e6"] == math.floor(woe * 1e6)
        assert got[b]["iv_term_e12"] == math.floor(
            (g / G - bad / B) * woe * 1e12
        )
    assert got[2]["woe_e6"] is None and got[2]["iv_term_e12"] is None
    assert (got[0]["n_good"], got[0]["n_bad"]) == (2, 1)


def test_cohens_kappa_hand_and_degenerate(spark):
    """Kappa against the textbook 2x2 worked example; perfect agreement
    = 1.0; constant raters (pe = n^2) -> NULL."""
    from hadoop_fcfs_spark.ops.stats import cohens_kappa

    # classic: n=50, a: 25/25, b: 30/20, agree=20+15=35
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    n, agree, pe = 50, 35, 25 * 30 + 25 * 20
    assert (r["n"], r["n_agree"], r["pe_num"]) == (n, agree, pe)
    import math

    assert r["kappa_e6"] == math.floor(
        (n * agree - pe) / (n * n - pe) * 1_000_000
    )
    perfect = spark.createDataFrame([("x", "x"), ("z", "z")], "a string, b string")
    assert cohens_kappa(perfect, "a", "b").collect()[0]["kappa_e6"] == 1_000_000
    const = spark.createDataFrame([("x", "x"), ("x", "x")], "a string, b string")
    assert cohens_kappa(const, "a", "b").collect()[0]["kappa_e6"] is None


def test_rolling_origin_folds_hand_values(spark):
    """Folds on a 10-day synthetic stream, 3 folds x 2 test days: train
    never overlaps test, test windows tile backwards from the max day,
    counts match a hand partition; an empty-train fold still emits."""
    from datetime import datetime

    from hadoop_fcfs_spark.ops.timeseries import rolling_origin_folds

    import pytest

    rows = [
        (datetime(2024, 5, d, 12, 0, 0),) for d in range(1, 11) for _ in range(d)
    ]  # day d has d events, days 1..10
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {r["fold"]: r for r in rolling_origin_folds(df, "ts", 3, 2).collect()}
    assert len(got) == 3
    # fold 1: test {9,10}=19, train 1..8 = 36
    assert (got[1]["n_test"], got[1]["n_train"]) == (19, 36)
    assert (got[1]["test_start_day"].isoformat(), got[1]["test_end_day"].isoformat()) == ("2024-05-09", "2024-05-10")
    assert got[1]["train_end_day"].isoformat() == "2024-05-08"
    # fold 2: test {7,8}=15, train 1..6 = 21; fold 3: test {5,6}=11, train 1..4 = 10
    assert (got[2]["n_test"], got[2]["n_train"]) == (15, 21)
    assert (got[3]["n_test"], got[3]["n_train"]) == (11, 10)
    # 5 folds x 2 days: fold 5 tests {1,2}, train side empty but emitted
    got5 = {r["fold"]: r for r in rolling_origin_folds(df, "ts", 5, 2).collect()}
    assert (got5[5]["n_test"], got5[5]["n_train"]) == (3, 0)
    with pytest.raises(ValueError):
        rolling_origin_folds(df, "ts", 0, 2)


def test_grouped_quartiles_and_robust_scale_hand_values(spark):
    """Exact lower-crossing quartiles on a hand frame; robust scale
    replays (x-med)/IQR; constant group -> NULL (IQR 0)."""
    from hadoop_fcfs_spark.ops.encode import grouped_quartiles, robust_scale

    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8])]
    rows += [("c", 100 + i, 5.0) for i in range(4)]  # constant group
    df = spark.createDataFrame(rows, "g string, id int, v double")
    qs = {r["g"]: r for r in grouped_quartiles(df, "g", "v").collect()}
    # n=8: q1 at 4*cum>=8 -> cum>=2 -> v=2; med cum>=4 -> v=4; q3 cum>=6 -> v=6
    assert (qs["a"]["q1_q"], qs["a"]["med_q"], qs["a"]["q3_q"]) == (200, 400, 600)
    assert (qs["c"]["q1_q"], qs["c"]["med_q"], qs["c"]["q3_q"]) == (500, 500, 500)
    got = {
        r["id"]: r["robust_e6"] for r in robust_scale(df, "g", "v").collect()
    }
    # (v*100 - 400)/400 floored e6
    import math

    for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8]):
        assert got[i] == math.floor((v * 100 - 400) / 400 * 1_000_000)
    for i in range(4):
        assert got[100 + i] is None


def test_roc_auc_hand_values(spark):
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.stats import roc_auc

    # perfect separation: every positive outscores every negative -> AUC 1
    df = spark.createDataFrame(
        [(1.0, False), (2.0, False), (3.0, True), (4.0, True)],
        "s double, y boolean",
    )
    r = roc_auc(df, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_micro"]) == (2, 2, 1_000_000)

    # anti-separation -> AUC 0
    r = roc_auc(df, "s", ~F.col("y")).collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_micro"]) == (2, 2, 0)

    # all scores tied -> AUC exactly 1/2 (ties count half)
    tied = spark.createDataFrame(
        [(5.0, True), (5.0, True), (5.0, False), (5.0, False)],
        "s double, y boolean",
    )
    assert roc_auc(tied, "s", "y").collect()[0]["auc_micro"] == 500_000

    # hand case with a straddling tie: pos={1,3}, neg={2,3}
    # pairs: (1,2) lose, (1,3) lose, (3,2) win, (3,3) half -> U=1.5/4
    mix = spark.createDataFrame(
        [(1.0, True), (3.0, True), (2.0, False), (3.0, False)],
        "s double, y boolean",
    )
    assert roc_auc(mix, "s", "y").collect()[0]["auc_micro"] == 375_000

    # one class empty -> NULL auc
    pos_only = spark.createDataFrame([(1.0, True)], "s double, y boolean")
    r = roc_auc(pos_only, "s", "y").collect()[0]
    assert r["auc_micro"] is None and r["n_neg"] == 0


def test_roc_auc_random_matches_python_reference(spark):
    import random

    from hadoop_fcfs_spark.ops.stats import roc_auc

    rng = random.Random(20260814)
    rows = [
        (float(rng.randint(0, 12)), rng.random() < 0.4) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = roc_auc(df, "s", "y").collect()[0]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    u2 = sum(2 for p in pos for q in neg if p > q) + sum(
        1 for p in pos for q in neg if p == q
    )
    want = (u2 * 1_000_000) // (2 * len(pos) * len(neg))
    assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))
    assert got["auc_micro"] == want


def test_calibration_bins_hand_values(spark):
    import pytest as _pytest

    from hadoop_fcfs_spark.ops.stats import calibration_bins

    # 8 rows, 4 bins -> 2 rows per bin; positives concentrated high
    rows = [(float(i), i >= 5) for i in range(8)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {
        r["bin"]: r for r in calibration_bins(df, "s", "y", n_bins=4).collect()
    }
    assert sorted(out) == [0, 1, 2, 3]
    assert all(out[b]["n"] == 2 for b in out)
    assert [out[b]["n_pos"] for b in (0, 1, 2, 3)] == [0, 0, 1, 2]
    assert out[2]["rate_micro"] == 500_000
    assert out[3]["score_lo"] == 6.0 and out[3]["score_hi"] == 7.0

    # a tie block bigger than a bin stays in ONE bin (block start rules)
    tied = spark.createDataFrame(
        [(1.0, False)] * 6 + [(2.0, True)] * 2, "s double, y boolean"
    )
    out = {
        r["bin"]: r
        for r in calibration_bins(tied, "s", "y", n_bins=4).collect()
    }
    assert sorted(out) == [0, 3]  # 6-row tie block at bin 0, rest at bin 3
    assert out[0]["n"] == 6 and out[0]["n_pos"] == 0
    assert out[3]["n"] == 2 and out[3]["rate_micro"] == 1_000_000

    with _pytest.raises(ValueError):
        calibration_bins(df, "s", "y", n_bins=0)


def test_bradley_terry_hand_ordering_and_floor(spark):
    import pytest as _pytest

    from hadoop_fcfs_spark.ops.ranking import bradley_terry

    # a beats b 3x, b beats a 1x, b beats c 2x, c never wins
    rows = (
        [("a", "b")] * 3 + [("b", "a")] + [("b", "c")] * 2
    )
    df = spark.createDataFrame(rows, "winner string, loser string")
    out = {r["node"]: r for r in bradley_terry(df, "winner", "loser").collect()}
    assert sorted(out) == ["a", "b", "c"]
    assert out["a"]["wins"] == 3 and out["a"]["games"] == 4
    assert out["b"]["wins"] == 3 and out["b"]["games"] == 6
    assert out["c"]["wins"] == 0 and out["c"]["games"] == 2
    # strengths order: a > b > c; never-winner sits at the 1-micro floor
    assert out["a"]["strength_e6"] > out["b"]["strength_e6"]
    assert out["b"]["strength_e6"] > out["c"]["strength_e6"]
    assert out["c"]["strength_e6"] == 1
    # max-normalized: the strongest item is exactly 1.0
    assert out["a"]["strength_e6"] == 1_000_000

    with _pytest.raises(ValueError):
        bradley_terry(df, "winner", "loser", iterations=0)


def test_bradley_terry_random_matches_python_reference(spark):
    import math
    import random

    from hadoop_fcfs_spark.ops.ranking import bradley_terry

    rng = random.Random(20260814)
    items = list("abcdefgh")
    true = {x: 2.0 ** i for i, x in enumerate(items)}
    rows = []
    for _ in range(400):
        i, j = rng.sample(items, 2)
        w = i if rng.random() < true[i] / (true[i] + true[j]) else j
        rows.append((w, i if w == j else j))
    df = spark.createDataFrame(rows, "winner string, loser string")
    got = {
        r["node"]: r["strength_e6"]
        for r in bradley_terry(df, "winner", "loser", iterations=4).collect()
    }

    # pure-Python replica of the exact integer MM schedule
    g: dict[tuple, int] = {}
    w: dict[tuple, int] = {}
    for win, lose in rows:
        g[(win, lose)] = g.get((win, lose), 0) + 1
        g[(lose, win)] = g.get((lose, win), 0) + 1
        w[(win, lose)] = w.get((win, lose), 0) + 1
    wins = {x: 0 for x in items}
    for (a, _), n in w.items():
        wins[a] += n
    p = {x: 1_000_000 for x in items}
    for _ in range(4):
        d = {x: 0 for x in items}
        for (a, b), n in g.items():
            d[a] += n * 10**12 // (p[a] + p[b])
        raw = {x: (wins[x] * 10**12) // d[x] for x in items}
        mx = max(raw.values())
        p = {
            x: max(1, math.floor(raw[x] / mx * 1_000_000)) for x in items
        }
    assert got == p


def test_funnel_steps_strict_ordering_semantics(spark):
    from datetime import datetime

    import pytest as _pytest

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.seqmine import funnel_steps

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # u1 converts fully in order
        (1, "a", ts(0)), (1, "b", ts(1)), (1, "c", ts(2)),
        # u2 does b BEFORE a: must count for step 1 only (no b after a)
        (2, "b", ts(0)), (2, "a", ts(1)),
        # u3 reaches b via its SECOND b (first precedes a), then c
        (3, "b", ts(0)), (3, "a", ts(1)), (3, "b", ts(2)), (3, "c", ts(3)),
        # u4 ties: b at the SAME micro as a does NOT qualify (strict >)
        (4, "a", ts(5)), (4, "b", ts(5)),
        # u5 never does step 1
        (5, "b", ts(0)), (5, "c", ts(1)),
    ]
    df = spark.createDataFrame(rows, "u int, t string, ts timestamp")
    out = {
        r["step"]: r
        for r in funnel_steps(df, "u", "t", "ts", ["a", "b", "c"]).collect()
    }
    release_waypoints()
    assert [out[s]["n_users"] for s in (1, 2, 3)] == [4, 2, 2]
    assert out[1]["conversion_micro"] == 1_000_000
    assert out[2]["conversion_micro"] == 500_000
    assert out[2]["step_name"] == "b"

    with _pytest.raises(ValueError):
        funnel_steps(df, "u", "t", "ts", ["a"])
    with _pytest.raises(ValueError):
        funnel_steps(df, "u", "t", "ts", ["a", "b"], within_us=0)


def test_funnel_steps_within_window(spark):
    from datetime import datetime

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.seqmine import funnel_steps

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        (1, "a", ts(0)), (1, "b", ts(5)),        # inside the 10-min window
        (2, "a", ts(0)), (2, "b", ts(10)),       # exactly AT the bound: counts
        (3, "a", ts(0)), (3, "b", ts(11)),       # outside: step 1 only
    ]
    df = spark.createDataFrame(rows, "u int, t string, ts timestamp")
    out = {
        r["step"]: r["n_users"]
        for r in funnel_steps(
            df, "u", "t", "ts", ["a", "b"], within_us=600_000_000
        ).collect()
    }
    release_waypoints()
    assert out == {1: 3, 2: 2}


def test_cohort_retention_hand_values(spark):
    from datetime import datetime

    import pytest as _pytest

    from hadoop_fcfs_spark.ops.timeseries import cohort_retention

    day = 86_400_000_000
    rows = [
        # cohort day 0: users 1,2 — u1 returns day 1 and 2, u2 only day 2
        (1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 2)),
        (1, datetime(2024, 1, 3)), (1, datetime(2024, 1, 3, 6)),
        (2, datetime(2024, 1, 1)), (2, datetime(2024, 1, 3)),
        # cohort day 1: user 3, never returns
        (3, datetime(2024, 1, 2)),
    ]
    df = spark.createDataFrame(rows, "u int, ts timestamp")
    out = {
        (r["cohort_period"] % 100000, r["period_offset"]): r
        for r in cohort_retention(df, "u", "ts", period_us=day).collect()
    }
    c0 = min(k[0] for k in out)
    assert out[(c0, 0)]["n_active"] == 2 and out[(c0, 0)]["retention_micro"] == 1_000_000
    assert out[(c0, 1)]["n_active"] == 1 and out[(c0, 1)]["retention_micro"] == 500_000
    # day-2 activity of BOTH cohort-0 users, counted once despite u1's
    # two same-day events
    assert out[(c0, 2)]["n_active"] == 2
    assert out[(c0 + 1, 0)]["n_active"] == 1 and out[(c0 + 1, 0)]["cohort_size"] == 1
    assert len(out) == 4

    with _pytest.raises(ValueError):
        cohort_retention(df, "u", "ts", period_us=0)


def test_cohort_retention_negative_epochs(spark):
    """Pre-1970 timestamps must FLOOR-bucket (the trailing_band_join
    pmod idiom), not truncate toward zero — a 1969-12-31 event is
    cohort period -1 at day grain, and a user whose first touch is
    pre-epoch with a return just after epoch spans offset 1, not 0."""
    from datetime import datetime

    from hadoop_fcfs_spark.ops.timeseries import cohort_retention

    day = 86_400_000_000
    rows = [
        # u1 first touch 1969-12-31 18:00 (epoch -6h → floor day -1),
        # returns 1970-01-01 06:00 (day 0) → offsets 0 and 1
        (1, datetime(1969, 12, 31, 18)), (1, datetime(1970, 1, 1, 6)),
        # u2 only pre-epoch → cohort -1, offset 0
        (2, datetime(1969, 12, 31, 2)),
    ]
    df = spark.createDataFrame(rows, "u int, ts timestamp")
    out = {
        (r["cohort_period"], r["period_offset"]): r["n_active"]
        for r in cohort_retention(df, "u", "ts", period_us=day).collect()
    }
    # truncation toward zero would put both 1969-12-31 events in day 0
    # and collapse u1's return to offset 0
    assert out == {(-1, 0): 2, (-1, 1): 1}


def test_position_attribution_credit_rules(spark):
    """U-shaped credit arithmetic on a constructed log driven through
    the registered gate's exact expressions (k=1 full, k=2 halves,
    k>=3 40/40/20-split with flooring middles)."""
    from datetime import datetime

    from pyspark.sql import Window

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    # p1: 1 touch (a); p2: 2 touches (a,b); p3: 4 touches (a,b,b,c)
    rows = [
        (1, 1, "a", ts(0)), (1, 100, "purchase", ts(1)),
        (2, 2, "a", ts(0)), (2, 3, "b", ts(1)), (2, 101, "purchase", ts(2)),
        (3, 4, "a", ts(0)), (3, 5, "b", ts(1)), (3, 6, "b", ts(2)),
        (3, 7, "c", ts(3)), (3, 102, "purchase", ts(4)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, ts timestamp"
    )
    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.joins import trailing_band_join

    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_type").alias("channel"),
        F.col("event_id").alias("tid"), "ts",
    )
    touches = trailing_band_join(
        p, e, "p_user", "user_id", "p_ts", "ts", band_us=1_800_000_000
    ).select("p_id", "channel", F.unix_micros("ts").alias("us"), "tid")
    w = Window.partitionBy("p_id")
    r = touches.select(
        "p_id", "channel",
        F.row_number().over(w.orderBy("us", "tid")).alias("pos"),
        F.count("*").over(w).cast("long").alias("kk"),
    )
    out = {
        x["channel"]: x["credit"]
        for x in r.groupBy("channel").agg(
            F.sum(
                F.expr(
                    "CASE WHEN kk = 1 THEN 1000000 WHEN kk = 2 THEN 500000 "
                    "WHEN pos = 1 OR pos = kk THEN 400000 "
                    "ELSE 200000 div (kk - 2) END"
                )
            ).alias("credit")
        ).collect()
    }
    release_waypoints()
    # a: p1 full (1e6) + p2 first-of-two (5e5) + p3 first-of-4 (4e5)
    assert out["a"] == 1_000_000 + 500_000 + 400_000
    # b: p2 last-of-two (5e5) + p3 two middles (100_000 each)
    assert out["b"] == 500_000 + 100_000 + 100_000
    # c: p3 last-of-4 (4e5)
    assert out["c"] == 400_000


def test_r6_ops_empty_input_contracts(spark):
    """Degenerate-input contracts for the r6 tier under ANSI mode:
    empty inputs must yield empty/NULL results, never throw (the ANSI
    traps are max-over-empty normalizers, scalar divisions, and
    element_at-style seeds)."""
    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.ranking import bradley_terry
    from hadoop_fcfs_spark.ops.seqmine import funnel_steps
    from hadoop_fcfs_spark.ops.stats import calibration_bins, roc_auc
    from hadoop_fcfs_spark.ops.timeseries import cohort_retention

    empty_sy = spark.createDataFrame([], "s double, y boolean")
    r = roc_auc(empty_sy, "s", "y").collect()
    assert len(r) == 1 and r[0]["auc_micro"] is None

    assert calibration_bins(empty_sy, "s", "y").collect() == []

    empty_wl = spark.createDataFrame([], "winner string, loser string")
    assert bradley_terry(empty_wl, "winner", "loser").collect() == []

    empty_ev = spark.createDataFrame([], "u int, t string, ts timestamp")
    rows = funnel_steps(empty_ev, "u", "t", "ts", ["a", "b"]).collect()
    # steps still report, with zero users and NULL conversion (0-denominator)
    assert [(x["step"], x["n_users"], x["conversion_micro"]) for x in rows] == [
        (1, 0, None), (2, 0, None)
    ]

    assert cohort_retention(empty_ev, "u", "ts").collect() == []
    release_waypoints()


def test_neyman_allocation_hand_values(spark):
    import math

    import pytest as _pytest

    from hadoop_fcfs_spark.ops.sampling import neyman_allocation

    # stratum a: constant values (sigma 0 -> weight 0, nothing allocated);
    # stratum b: spread values -> takes the whole budget
    rows = [("a", 10, i) for i in range(50)] + [
        ("b", 10 * (i % 5), 100 + i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    out = {
        r["stratum"]: r
        for r in neyman_allocation(df, "g", "v", "id", budget=20).collect()
    }
    assert out["a"]["weight_q"] == 0 and out["a"]["allocated"] == 0
    assert out["a"]["n_selected"] == 0
    # b: n*S2 - S1^2 with v in {0,10,20,30,40} x10 each
    s1 = sum(10 * (i % 5) for i in range(50))
    s2 = sum((10 * (i % 5)) ** 2 for i in range(50))
    assert out["b"]["weight_q"] == math.floor(math.sqrt(50 * s2 - s1 * s1))
    assert out["b"]["allocated"] == 20  # whole budget
    assert 0 < out["b"]["n_selected"] <= 50

    # allocation above a stratum's size keeps the whole stratum
    big = neyman_allocation(df, "g", "v", "id", budget=1000).collect()
    b = next(r for r in big if r["stratum"] == "b")
    assert b["allocated"] == 1000 and b["n_selected"] == 50

    with _pytest.raises(ValueError):
        neyman_allocation(df, "g", "v", "id", budget=-1)


def test_brier_decomposition_identity_and_hand_values(spark):
    """When forecasts are constant per bin the Murphy 3-term identity
    is EXACT: BS = REL - RES + UNC. Constructed so each bin holds one
    distinct score: score 1 -> forecast 0, score 2 -> forecast 0.5
    (exclusive-prefix percentiles), REL = RES = 0.0625, UNC = 0.25,
    direct Brier = 2/8 = 0.25 = 0.0625 - 0.0625 + 0.25."""
    import pytest as _pytest

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.stats import brier_decomposition

    rows = [(1.0, i < 1) for i in range(4)] + [(2.0, i < 3) for i in range(4)]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = brier_decomposition(df, "score", "y", n_bins=2).collect()[0]
    release_waypoints()
    assert out["n"] == 8 and out["n_pos"] == 4
    assert out["reliability_r6"] == 0.0625
    assert out["resolution_r6"] == 0.0625
    assert out["uncertainty_r6"] == 0.25
    assert out["brier_r6"] == 0.25

    with _pytest.raises(ValueError):
        brier_decomposition(df, "score", "y", n_bins=0)


def test_fleiss_kappa_hand_values(spark):
    """Textbook arithmetic: items (a,a,b) and (a,b,b) give
    P-bar = 1/3, P-e = 1/2, kappa = -1/3 -> floor(-333333.33..) =
    -333334; unanimous raters over >1 category give kappa = 1; a
    single category everywhere is the degenerate NULL."""
    import pytest as _pytest

    from hadoop_fcfs_spark.ops.stats import fleiss_kappa

    df = spark.createDataFrame(
        [(1, "a", "a", "b"), (2, "a", "b", "b")],
        "i int, r1 string, r2 string, r3 string",
    )
    out = fleiss_kappa(df, "i", ["r1", "r2", "r3"]).collect()[0]
    assert (out["n_items"], out["n_raters"]) == (2, 3)
    assert out["kappa_e6"] == -333334

    perfect = spark.createDataFrame(
        [(1, "a", "a", "a"), (2, "b", "b", "b")],
        "i int, r1 string, r2 string, r3 string",
    )
    assert fleiss_kappa(perfect, "i", ["r1", "r2", "r3"]).collect()[0][
        "kappa_e6"
    ] == 1_000_000

    degenerate = spark.createDataFrame(
        [(1, "a", "a", "a"), (2, "a", "a", "a")],
        "i int, r1 string, r2 string, r3 string",
    )
    assert (
        fleiss_kappa(degenerate, "i", ["r1", "r2", "r3"]).collect()[0][
            "kappa_e6"
        ]
        is None
    )

    with _pytest.raises(ValueError):
        fleiss_kappa(df, "i", ["r1"])


def test_feature_hash_exact_python_replica(spark):
    """The signed hashing trick replayed token-by-token in pure Python
    (hashlib md5, same index/sign derivation) must reproduce the
    operator's sparse vectors exactly — including zero-cancellation
    dropping."""
    import hashlib
    from collections import defaultdict

    import pytest as _pytest

    from hadoop_fcfs_spark.ops.encode import feature_hash

    docs = [
        (1, "alpha beta gamma alpha"),
        (2, "beta beta   delta"),
        (3, ""),
        (4, "epsilon"),
    ]
    D = 16

    def ref(text):
        acc = defaultdict(int)
        for w in text.split():
            h = hashlib.md5(w.encode()).hexdigest()
            idx = int(h[:8], 16) % D
            s = 1 if int(h[8], 16) % 2 == 0 else -1
            acc[idx] += s
        return {k: v for k, v in acc.items() if v != 0}

    expected = {
        (i, k): v for i, txt in docs for k, v in ref(txt).items()
    }
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["doc_id"], r["feat_idx"]): r["val"]
        for r in feature_hash(df, "doc_id", "text", D).collect()
    }
    assert got == expected

    with _pytest.raises(ValueError):
        feature_hash(df, "doc_id", "text", 0)


def test_js_divergence_hand_values(spark):
    """Identical group and global distributions give JSD 0; two
    disjoint single-bucket groups against their uniform mixture give
    the closed-form 0.5·log2(4/3) + 0.25·log2(2/3) + 0.25 =
    0.311278 bits each."""
    import math

    import pytest as _pytest

    from hadoop_fcfs_spark.ops.stats import js_divergence_binned

    same = spark.createDataFrame(
        [("g1", 10), ("g1", 70), ("g2", 10), ("g2", 70)], "g string, v long"
    )
    out = {r["g"]: r["jsd_r6"] for r in
           js_divergence_binned(same, "g", "v", bin_width=64).collect()}
    assert out == {"g1": 0.0, "g2": 0.0}

    disjoint = spark.createDataFrame(
        [("g1", 10), ("g2", 70)], "g string, v long"
    )
    exp = round(
        0.5 * (1.0 * math.log2(1.0 / 0.75))
        + 0.5 * (0.5 * math.log2(0.5 / 0.75) + 0.5 * math.log2(0.5 / 0.25)),
        6,
    )
    out = {r["g"]: r["jsd_r6"] for r in
           js_divergence_binned(disjoint, "g", "v", bin_width=64).collect()}
    assert out == {"g1": exp, "g2": exp}

    with _pytest.raises(ValueError):
        js_divergence_binned(same, "g", "v", bin_width=0)


def test_ab_power_closed_form_and_guards(spark):
    """The frozen-z sample-size formula replayed in pure Python must
    match; p1 = 0 (nothing to lift) and p1 = 1 (degenerate effect)
    give NULL."""
    import math

    import pytest as _pytest

    from hadoop_fcfs_spark.ops.stats import ab_power_required_n

    rows = (
        [("a", True)] * 3 + [("a", False)] * 7
        + [("z", False)] * 4
        + [("o", True)] * 4
    )
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = {r["g"]: r for r in
           ab_power_required_n(df, "g", "s", rel_lift=0.1).collect()}

    p1 = 0.3
    p2 = min(p1 * (1.0 + 0.1), 1.0)
    pb = (p1 + p2) / 2.0
    exp = math.ceil(
        (1.959964 * math.sqrt(2.0 * pb * (1.0 - pb))
         + 0.841621 * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))) ** 2
        / (p2 - p1) ** 2
    )
    assert out["a"]["required_n_per_arm"] == exp
    assert out["z"]["required_n_per_arm"] is None  # p1 = 0
    assert out["o"]["required_n_per_arm"] is None  # p1 = 1 -> p2 = p1

    with _pytest.raises(ValueError):
        ab_power_required_n(df, "g", "s", rel_lift=0.0)


def test_smd_balance_hand_values(spark):
    """Equal arms give SMD 0; a constructed stratum matches the
    n-1-variance closed form; a 1-row arm gives NULL smd but a real
    mean_diff."""
    from hadoop_fcfs_spark.ops.stats import smd_balance

    rows = [
        # stratum s0: treat {1,3}, ctrl {1,3} -> identical arms, SMD 0
        ("s0", True, 1.0), ("s0", True, 3.0),
        ("s0", False, 1.0), ("s0", False, 3.0),
        # stratum s1: treat {2,4} (m=3, v=2), ctrl {1,1} (m=1, v=0)
        # SMD = 2 / sqrt(1) = 2
        ("s1", True, 2.0), ("s1", True, 4.0),
        ("s1", False, 1.0), ("s1", False, 1.0),
        # stratum s2: single treat row -> NULL smd
        ("s2", True, 5.0), ("s2", False, 1.0), ("s2", False, 2.0),
    ]
    df = spark.createDataFrame(rows, "st string, arm boolean, v double")
    out = {r["st"]: r for r in
           smd_balance(df, "st", "arm", "v", scale=100).collect()}
    assert out["s0"]["smd_r6"] == 0.0 and out["s0"]["mean_diff_r6"] == 0.0
    assert out["s1"]["smd_r6"] == 2.0 and out["s1"]["mean_diff_r6"] == 2.0
    assert out["s2"]["smd_r6"] is None
    assert out["s2"]["mean_diff_r6"] == 3.5


def test_conformal_threshold_hand_values(spark):
    """Hand order statistics: n=9 at alpha=0.1 gives idx=ceil(10*0.9)=9
    -> the 9th smallest; n=3 gives idx=ceil(4*0.9)=4 > n -> NULL (too
    small to conformalize); ties share a grain row and still cross at
    the right index."""
    import pytest as _pytest

    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.ops.stats import conformal_threshold

    rows = [("a", float(v)) for v in [5, 1, 9, 3, 7, 2, 8, 4, 6]] + [
        ("b", 1.0), ("b", 2.0), ("b", 3.0),
        ("t", 1.0), ("t", 5.0), ("t", 5.0), ("t", 5.0),
        ("t", 5.0), ("t", 5.0), ("t", 5.0), ("t", 5.0), ("t", 9.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in
           conformal_threshold(df, "g", "v", alpha_permille=100).collect()}
    release_waypoints()
    assert (out["a"]["n"], out["a"]["q_index"], out["a"]["threshold"]) == (9, 9, 9.0)
    assert out["b"]["threshold"] is None and out["b"]["q_index"] == 4
    # n=9, idx=9: values sorted 1,5x7,9 -> 9th smallest = 9.0; the tie
    # block at 5 (cum=8) must not satisfy the crossing
    assert out["t"]["threshold"] == 9.0

    with _pytest.raises(ValueError):
        conformal_threshold(df, "g", "v", alpha_permille=0)


def test_info_gain_hand_values(spark):
    """A feature that perfectly splits the label carries IG = H(y); an
    uninformative constant feature carries IG = 0."""
    import pytest as _pytest

    from hadoop_fcfs_spark.ops.stats import info_gain

    rows = [
        ("x1", "c", "yes"), ("x1", "c", "yes"),
        ("x2", "c", "no"), ("x2", "c", "no"),
    ]
    df = spark.createDataFrame(rows, "perfect string, const string, y string")
    out = {r["feature"]: r for r in
           info_gain(df, ["perfect", "const"], "y").collect()}
    assert out["perfect"]["h_label_r6"] == 1.0  # balanced binary label
    assert out["perfect"]["h_cond_r6"] == 0.0
    assert out["perfect"]["info_gain_r6"] == 1.0
    assert out["const"]["h_cond_r6"] == 1.0
    assert out["const"]["info_gain_r6"] == 0.0

    with _pytest.raises(ValueError):
        info_gain(df, [], "y")


def test_t_closeness_hand_values(spark):
    """Constructed classes: one mirroring the global distribution
    exactly (t = 0) and one concentrated in a single bucket. With
    global = uniform over buckets {0,1} and class B all in bucket 0:
    cum deviation after bucket 0 is |n_B*N/2|, EMD = 1/2."""
    from hadoop_fcfs_spark.ops.validate import t_closeness_audit

    rows = (
        [("A", "s", 0), ("A", "s", 1)] * 2       # class A: 2/2 split
        + [("B", "s", 0)] * 4                     # class B: all bucket 0
        + [("C", "s", 1)] * 4                     # class C: all bucket 1
    )
    df = spark.createDataFrame(rows, "q1 string, q2 string, sens int")
    out = {r["q1"]: r for r in
           t_closeness_audit(df, ["q1", "q2"], "sens").collect()}
    # global: bucket0 = 6, bucket1 = 6 -> uniform
    assert out["A"]["t_emd_r6"] == 0.0
    assert out["B"]["t_emd_r6"] == 0.5
    assert out["C"]["t_emd_r6"] == 0.5
    assert out["B"]["n_class"] == 4


def test_pps_ess_hand_values(spark):
    """Equal weights give ESS = n (ratio 1); one dominant weight
    collapses ESS toward 1: weights (1,1,1,97) -> ESS = 100^2/9412."""
    from hadoop_fcfs_spark.ops.sampling import pps_effective_sample_size

    rows = [("eq", 2.0)] * 4 + [
        ("skew", 1.0), ("skew", 1.0), ("skew", 1.0), ("skew", 97.0),
        ("neg", -1.0), ("neg", 3.0),
    ]
    df = spark.createDataFrame(rows, "g string, w double")
    out = {r["g"]: r for r in
           pps_effective_sample_size(df, "g", "w").collect()}
    assert out["eq"]["ess_r6"] == 4.0 and out["eq"]["ess_ratio_r6"] == 1.0
    assert out["skew"]["ess_r6"] == round(100.0 ** 2 / 9412.0, 6)
    assert out["neg"]["n"] == 1  # non-positive weights excluded


def test_readability_scores_hand_values(spark):
    """Known text: 'the cat sat. it ran!' -> 5 words, 2 sentence runs,
    5 vowel groups; FRE = 206.835 - 1.015*(5/2) - 84.6*(5/5);
    empty text floors at 1 word / 1 sentence."""
    from hadoop_fcfs_spark.llm.textan import readability_scores

    df = spark.createDataFrame(
        [(1, "the cat sat. it ran!"), (2, "")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in
           readability_scores(df, "doc_id", "text").collect()}
    assert (out[1]["n_words"], out[1]["n_sentences"], out[1]["n_vowel_groups"]) == (5, 2, 5)
    import math
    exp = math.floor((206.835 - 1.015 * 2.5 - 84.6 * 1.0) * 1000)
    assert out[1]["flesch_e3"] == exp
    assert out[2]["n_words"] == 0 and out[2]["n_sentences"] == 1


def test_mann_kendall_hand_values(spark):
    """Strictly increasing series of n=4: S = 6 (all pairs concordant),
    no ties -> var18_num = 4*3*13 = 156, z = (6-1)/sqrt(156/18),
    tau_b = 6/6 = 1. Constant series: S = 0, var 0 -> z/tau NULL."""
    import math

    from hadoop_fcfs_spark.ops.stats import mann_kendall_trend

    up = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0)], "i int, x double"
    )
    r = mann_kendall_trend(up, "i", "x").collect()[0]
    assert (r["n"], r["s_stat"], r["var18_num"]) == (4, 6, 156)
    assert r["z_r6"] == round(5.0 / math.sqrt(156 / 18.0), 6)
    assert r["tau_b_r6"] == 1.0
    flat = spark.createDataFrame(
        [(0, 7.0), (1, 7.0), (2, 7.0)], "i int, x double"
    )
    rf = mann_kendall_trend(flat, "i", "x").collect()[0]
    assert rf["s_stat"] == 0 and rf["var18_num"] == 0
    assert rf["z_r6"] is None and rf["tau_b_r6"] is None


def test_mann_kendall_tie_correction(spark):
    """Series (1,2,2,3): S = 5; one tie group t=2 subtracts
    2*1*9 = 18 from 4*3*13 = 156 -> var18_num = 138; tau_b uses
    D = 6, T_v = 1 -> 5/sqrt(6*5)."""
    import math

    from hadoop_fcfs_spark.ops.stats import mann_kendall_trend

    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 2.0), (3, 3.0)], "i int, x double"
    )
    r = mann_kendall_trend(df, "i", "x").collect()[0]
    assert (r["s_stat"], r["var18_num"]) == (5, 138)
    assert r["z_r6"] == round(4.0 / math.sqrt(138 / 18.0), 6)
    assert r["tau_b_r6"] == round(5.0 / math.sqrt(30.0), 6)


def test_mcnemar_hand_values(spark):
    """Cells: both-right 3, both-wrong 1, a-only 4, b-only 1 ->
    chi2_cc = (|4-1|-1)^2/5 = 0.8; a NULL correctness row is dropped;
    never-disagree data reports NULL chi2 (no evidence, not 0)."""
    from hadoop_fcfs_spark.ops.stats import mcnemar_test

    rows = (
        [(True, True)] * 3 + [(False, False)] + [(True, False)] * 4
        + [(False, True)] + [(None, True)]
    )
    df = spark.createDataFrame(rows, "ca boolean, cb boolean")
    r = mcnemar_test(df, "ca", "cb").collect()[0]
    assert (r["n"], r["both_right"], r["both_wrong"]) == (9, 3, 1)
    assert (r["a_only"], r["b_only"]) == (4, 1)
    assert r["chi2_cc_r6"] == 0.8
    agree = spark.createDataFrame(
        [(True, True), (False, False)], "ca boolean, cb boolean"
    )
    assert mcnemar_test(agree, "ca", "cb").collect()[0]["chi2_cc_r6"] is None


def test_cumulative_gains_hand_values(spark):
    """20 rows, scores 20..1, positives = the top 4 scores; 4 bins of
    5 rows: bin 0 captures 4/4 -> capture 1e6, lift = (4/4)/(5/20) = 4;
    bins 1-3 add no positives so capture stays 1e6 and lift decays
    20/10, 20/15, 20/20."""
    from hadoop_fcfs_spark.ops.stats import cumulative_gains

    rows = [(float(s), s > 16) for s in range(1, 21)]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = {r["bin"]: r for r in
           cumulative_gains(df, "score", "y", n_bins=4).collect()}
    assert [out[b]["n"] for b in range(4)] == [5] * 4
    assert [out[b]["n_pos"] for b in range(4)] == [4, 0, 0, 0]
    assert out[0]["score_hi"] == 20.0 and out[0]["score_lo"] == 16.0
    assert [out[b]["capture_micro"] for b in range(4)] == [1000000] * 4
    assert [out[b]["cum_lift_r6"] for b in range(4)] == [
        4.0, 2.0, round(4.0 / 3, 6), 1.0]


def test_cumulative_gains_no_positives_null(spark):
    from hadoop_fcfs_spark.ops.stats import cumulative_gains

    df = spark.createDataFrame(
        [(1.0, False), (2.0, False)], "score double, y boolean"
    )
    r = cumulative_gains(df, "score", "y", n_bins=1).collect()[0]
    assert r["capture_micro"] is None and r["cum_lift_r6"] is None


def test_ece_hand_values(spark):
    """Distinct scores 1..4, labels (F,F,T,T): forecasts are exclusive
    prefix percentiles (0, .25, .5, .75); 2 bins of 2 rows:
    bin0 acc 0 conf .125 -> |ce| .125; bin1 acc 1 conf .625 -> .375;
    ECE = .5*.125 + .5*.375 = .25, MCE = .375."""
    from hadoop_fcfs_spark.ops.stats import expected_calibration_error

    df = spark.createDataFrame(
        [(1.0, False), (2.0, False), (3.0, True), (4.0, True)],
        "score double, y boolean",
    )
    r = expected_calibration_error(df, "score", "y", n_bins=2).collect()[0]
    assert (r["n"], r["n_bins_used"]) == (4, 2)
    assert r["ece_r6"] == 0.25 and r["mce_r6"] == 0.375


def test_pairwise_winrates_hand_values(spark):
    """Log: 3 wins for 1 over 2, 1 win for 2 over 1, 1 win for 3 over
    1 -> pair (1,2): wins_a 3, games 4, winrate 750000; pair (1,3):
    wins_a 0, games 1. Wilson bounds replicate the exact formula."""
    import math

    from hadoop_fcfs_spark.ops.ranking import pairwise_winrates

    logs = [(1, 2)] * 3 + [(2, 1), (3, 1)]
    df = spark.createDataFrame(logs, "winner int, loser int")
    out = {(r["a"], r["b"]): r for r in
           pairwise_winrates(df, "winner", "loser").collect()}
    assert out[(1, 2)]["wins_a"] == 3 and out[(1, 2)]["games"] == 4
    assert out[(1, 2)]["winrate_micro"] == 750000
    assert out[(1, 3)]["wins_a"] == 0 and out[(1, 3)]["games"] == 1

    def wilson(s, n, sign):
        z, p = 1.96, s / n
        center = p + z * z / (2 * n)
        margin = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        v = (center + sign * margin) / (1 + z * z / n)
        v = max(0.0, v) if sign < 0 else min(1.0, v)
        return math.floor(v * 1000000)

    assert out[(1, 2)]["wilson_lo_e6"] == wilson(3, 4, -1)
    assert out[(1, 2)]["wilson_hi_e6"] == wilson(3, 4, +1)
    assert out[(1, 3)]["wilson_lo_e6"] == 0


def test_gram_power_iteration_exact_replica_and_direction(spark):
    """The engine output equals a pure-Python integer replica of the
    same algorithm (quantize -> Gram -> truncate-scale -> 3 exact
    matvec+normalize steps), and with enough iterations the direction
    aligns with numpy's dominant eigenvector (|cos| > 0.999)."""
    import numpy as np

    from hadoop_fcfs_spark.llm.similarity import gram_power_iteration

    rng = np.random.RandomState(7)
    base = rng.randn(4)
    vecs = base[None, :] * rng.randn(40)[:, None] + 0.05 * rng.randn(40, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    out = {r["dim"]: r["component_e6"] for r in
           gram_power_iteration(df, "embedding", iterations=3,
                                quantize=1000, scale_div=10).collect()}

    q = np.floor(vecs * 1000).astype(np.int64)
    G = (q.T @ q)
    Gs = np.trunc(G / 10).astype(np.int64)  # truncating div
    p = np.full(4, 1000000, dtype=np.int64)
    for _ in range(3):
        u = Gs @ p
        m = np.abs(u).max()
        p = np.floor(u.astype(float) / float(m) * 1000000).astype(np.int64)
    assert [out[i + 1] for i in range(4)] == list(p)

    many = {r["dim"]: r["component_e6"] for r in
            gram_power_iteration(df, "embedding", iterations=8,
                                 quantize=1000, scale_div=10).collect()}
    v = np.array([many[i + 1] for i in range(4)], dtype=float)
    w, vecs_e = np.linalg.eigh(G.astype(float))
    top = vecs_e[:, np.argmax(w)]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999


def test_kruskal_wallis_hand_values(spark):
    """3 groups with cross-group ties -> H matches a pure-Python
    midrank replica (and the tie-corrected H_c and epsilon-squared
    follow the standard formulas)."""
    import math

    from hadoop_fcfs_spark.ops.stats import kruskal_wallis

    data = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0),
            ("c", 5.0), ("c", 5.0), ("c", 6.0)]
    df = spark.createDataFrame(data, "g string, v double")
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert (r["k_groups"], r["n_rows"]) == (3, 9)

    # pure-Python midrank replica
    vals = sorted(v for _, v in data)
    rank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2.0
        i = j
    n = len(data)
    groups = {}
    for g, v in data:
        groups.setdefault(g, []).append(rank[v])
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in groups.values()
    ) - 3 * (n + 1)
    from collections import Counter

    ties = sum(c ** 3 - c for c in Counter(vals).values())
    hc = h / (1 - ties / (n ** 3 - n))
    k = len(groups)
    eps2 = (h - k + 1) / (n - k)
    # engine truncates Σ(2R_g)² div (4n_g) per group (error < 1 rank
    # unit before the 12/(N(N+1)) scale); allow that slack vs the
    # rational replica
    assert abs(r["h_e6"] - math.floor(h * 1e6)) <= math.ceil(
        12.0 / (n * (n + 1)) * k * 1e6
    )
    assert abs(r["hc_e6"] - math.floor(hc * 1e6)) <= math.ceil(
        12.0 / (n * (n + 1)) * k / (1 - ties / (n ** 3 - n)) * 1e6
    )
    assert r["eps2_e6"] is not None and abs(
        r["eps2_e6"] - math.floor(eps2 * 1e6)
    ) <= math.ceil(12.0 / (n * (n + 1)) * k / (n - k) * 1e6)


def test_kruskal_wallis_null_guards(spark):
    """k < 2 -> NULL statistics; single shared value everywhere ->
    tie correction hits 0 -> NULL hc."""
    from hadoop_fcfs_spark.ops.stats import kruskal_wallis

    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    r = kruskal_wallis(one, "v", "g").collect()[0]
    assert r["k_groups"] == 1 and r["h_e6"] is None and r["hc_e6"] is None

    tied = spark.createDataFrame(
        [("a", 7.0), ("a", 7.0), ("b", 7.0)], "g string, v double"
    )
    r = kruskal_wallis(tied, "v", "g").collect()[0]
    assert r["h_e6"] is not None and r["hc_e6"] is None


def test_roc_auc_by_group_hand_values(spark):
    """Group X: perfect separation -> AUC 1.0; group Y: perfect
    inversion -> AUC 0.0; group Z: one class only -> NULL (row still
    present). Matches global roc_auc run per slice."""
    from hadoop_fcfs_spark.ops.stats import roc_auc, roc_auc_by_group

    rows = [("X", 1.0, 0), ("X", 2.0, 0), ("X", 3.0, 1), ("X", 4.0, 1),
            ("Y", 1.0, 1), ("Y", 2.0, 1), ("Y", 3.0, 0),
            ("Z", 1.0, 1), ("Z", 2.0, 1)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    from pyspark.sql import functions as F

    out = {r["group"]: r for r in
           roc_auc_by_group(df, "s", F.col("y") == 1, "g").collect()}
    assert set(out) == {"X", "Y", "Z"}
    assert out["X"]["auc_micro"] == 1000000
    assert out["Y"]["auc_micro"] == 0
    assert out["Z"]["auc_micro"] is None and out["Z"]["n_neg"] == 0
    for g in ("X", "Y"):
        glob = roc_auc(
            df.filter(F.col("g") == g), "s", F.col("y") == 1
        ).collect()[0]
        assert glob["auc_micro"] == out[g]["auc_micro"]


def test_cochran_q_hand_values(spark):
    """Classic 3-treatment example: Q matches the textbook formula
    computed by hand; all-concordant rows -> NULL Q; k=2 equals the
    McNemar chi2 WITHOUT continuity correction."""
    from hadoop_fcfs_spark.ops.stats import cochran_q

    # 6 subjects x 3 treatments
    rows = [(True, True, False), (True, False, False),
            (True, True, True), (False, True, False),
            (True, True, False), (False, False, False)]
    df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean")
    r = cochran_q(df, ["a", "b", "c"]).collect()[0]
    assert (r["n_subjects"], r["k_treatments"]) == (6, 3)
    cj = [4, 4, 1]
    ri = [2, 1, 3, 1, 2, 0]
    t_ = sum(ri)
    q = 2 * (3 * sum(c * c for c in cj) - t_ * t_) / (3 * t_ - sum(x * x for x in ri))
    import math

    assert r["t_total"] == t_ and r["q_e6"] == math.floor(q * 1e6)

    conc = spark.createDataFrame(
        [(True, True), (False, False)], "a boolean, b boolean"
    )
    assert cochran_q(conc, ["a", "b"]).collect()[0]["q_e6"] is None

    # k=2: Q = (b-c)^2/(b+c) (discordant counts), McNemar sans cc
    two = spark.createDataFrame(
        [(True, False)] * 5 + [(False, True)] * 2 + [(True, True)] * 3,
        "a boolean, b boolean",
    )
    r2 = cochran_q(two, ["a", "b"]).collect()[0]
    assert r2["q_e6"] == math.floor((5 - 2) ** 2 / (5 + 2) * 1e6)


def test_cochran_q_null_is_failure_and_arity_guard(spark):
    import pytest

    from hadoop_fcfs_spark.ops.stats import cochran_q

    df = spark.createDataFrame(
        [(True, None), (True, True)], "a boolean, b boolean"
    )
    r = cochran_q(df, ["a", "b"]).collect()[0]
    assert r["t_total"] == 3  # the NULL counted as 0, not skipped
    with pytest.raises(ValueError):
        cochran_q(df, ["a"])


def test_cramers_v_hand_values(spark):
    """Perfect association (x == y) -> V = 1; independent uniform
    2x2 -> V = 0; V replicates sqrt(chi2/(n*minm)) from the floored
    chi2."""
    import math

    from hadoop_fcfs_spark.ops.stats import cramers_v

    perfect = spark.createDataFrame(
        [("a", "x")] * 3 + [("b", "y")] * 5, "u string, v string"
    )
    r = cramers_v(perfect, "u", "v").collect()[0]
    assert r["v_e6"] == 1000000 and r["dof"] == 1

    indep = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 2,
        "u string, v string",
    )
    r0 = cramers_v(indep, "u", "v").collect()[0]
    assert r0["chi2_e6"] == 0 and r0["v_e6"] == 0

    skew = spark.createDataFrame(
        [("a", "x")] * 4 + [("a", "y")] * 1 + [("b", "x")] * 2
        + [("b", "y")] * 3,
        "u string, v string",
    )
    rs = cramers_v(skew, "u", "v").collect()[0]
    assert rs["v_e6"] == math.floor(
        math.sqrt((rs["chi2_e6"] / 1e6) / (rs["n"] * 1)) * 1e6
    )


def test_kmeans_lloyd_exact_replica(spark):
    """Engine output equals a pure-Python integer replica of the same
    algorithm: milli quantize -> k lowest-id init -> exact sqdist
    argmin (lowest cell wins ties) -> truncating-division centroid
    update with empty-cell carry -> final (cell, n, inertia)."""
    import numpy as np

    from hadoop_fcfs_spark.llm.similarity import kmeans_lloyd_exact

    rng = np.random.RandomState(11)
    vecs = np.concatenate([
        rng.randn(15, 5) + 4.0, rng.randn(15, 5) - 4.0, rng.randn(10, 5)
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    out = {r["cell"]: (r["n"], r["inertia"]) for r in
           kmeans_lloyd_exact(df, k=3, iterations=2).collect()}

    q = np.floor(vecs * 1000).astype(np.int64)
    cents = [q[i].copy() for i in range(3)]  # k lowest ids

    def assign(c):
        d = np.array([((q - ci) ** 2).sum(axis=1) for ci in c])  # k x n
        return d.argmin(axis=0), d.min(axis=0)  # argmin ties -> lowest

    for _ in range(2):
        cell, _ = assign(cents)
        for c in range(3):
            m = q[cell == c]
            if len(m):
                s = m.sum(axis=0)
                cents[c] = np.where(
                    s >= 0, np.abs(s) // len(m), -(np.abs(s) // len(m))
                )
    cell, d = assign(cents)
    expect = {c: (int((cell == c).sum()), int(d[cell == c].sum()))
              for c in range(3) if (cell == c).any()}
    assert out == expect


def test_kmeans_lloyd_exact_empty_cell_carry_and_guards(spark):
    """A far-away init centroid that captures nothing keeps its
    coordinates (so k stays k); iterations=0 scores the init
    assignment; bad args raise."""
    import pytest

    from hadoop_fcfs_spark.llm.similarity import kmeans_lloyd_exact

    # ids 0,1 are the inits; id 0 sits alone far away -> cell 0 keeps it
    rows = [(0, [100.0, 100.0]), (1, [0.0, 0.0]), (2, [0.1, 0.1]),
            (3, [0.2, 0.2])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["cell"]: r["n"] for r in
           kmeans_lloyd_exact(df, k=2, iterations=3).collect()}
    assert out == {0: 1, 1: 3}

    r0 = kmeans_lloyd_exact(df, k=2, iterations=0).collect()
    assert {r["cell"] for r in r0} == {0, 1}

    with pytest.raises(ValueError):
        kmeans_lloyd_exact(df, k=0)


def test_minhash_estimate_audit_pure_python_replica(spark):
    """Tiny corpus with known near-dup pairs: the audit's n_pairs,
    mean and max errors equal a pure-Python md5 replica of the same
    estimator (signatures, exact Jaccard, micro integer arithmetic)."""
    import hashlib

    from hadoop_fcfs_spark.llm.dedup import minhash_estimate_audit

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "a completely different document with no shared shingles"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    r = minhash_estimate_audit(
        df, "doc_id", "text", n=3, num_hashes=16, min_jaccard_micro=200_000
    ).collect()[0]

    def shingles(text):
        ws = [w for w in text.split() if w]
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    def sig(grams, m=16):
        out = []
        for i in range(m):
            out.append(min(
                int(hashlib.md5(f"{g}|{i}".encode()).hexdigest()[:15], 16)
                for g in grams
            ))
        return out

    sh = {d: shingles(t_) for d, t_ in docs}
    sg = {d: sig(g) for d, g in sh.items()}
    errs = []
    for a in sh:
        for b in sh:
            if a >= b:
                continue
            common = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if common == 0:
                continue
            jac = common * 1_000_000 // union
            if jac < 200_000:
                continue
            m = sum(1 for x, y in zip(sg[a], sg[b]) if x == y)
            errs.append(abs(m * 1_000_000 // 16 - jac))
    assert r["n_pairs"] == len(errs) and len(errs) >= 2
    assert r["mean_abs_err_e6"] == sum(errs) // len(errs)
    assert r["max_abs_err_e6"] == max(errs)


def test_minhash_estimate_audit_empty_pairset(spark):
    """No qualifying pair -> n_pairs 0, NULL mean (no ANSI div-zero)."""
    from hadoop_fcfs_spark.llm.dedup import minhash_estimate_audit

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id int, text string",
    )
    r = minhash_estimate_audit(df, "doc_id", "text").collect()[0]
    assert r["n_pairs"] == 0 and r["mean_abs_err_e6"] is None


def test_friedman_hand_values(spark):
    """Classic 3-treatment x 4-block table with within-block ties ->
    Q and tie-corrected Q_c match a pure-Python midrank replica;
    a block missing a treatment is excluded (n_blocks drops)."""
    import math
    from collections import Counter

    from hadoop_fcfs_spark.ops.stats import friedman_test

    table = {  # block -> {treatment: value}
        1: {"a": 10.0, "b": 20.0, "c": 30.0},
        2: {"a": 15.0, "b": 15.0, "c": 40.0},  # tie inside the block
        3: {"a": 5.0, "b": 1.0, "c": 9.0},
        4: {"a": 7.0, "b": 8.0, "c": 6.0},
    }
    rows = [(b, t_, v) for b, tv in table.items() for t_, v in tv.items()]
    df = spark.createDataFrame(rows, "blk int, tr string, v double")
    r = friedman_test(df, "blk", "tr", "v").collect()[0]
    assert (r["k_treatments"], r["n_blocks"]) == (3, 4)

    k, n = 3, 4
    r2sum = {t_: 0 for t_ in "abc"}
    ties = 0
    for tv in table.values():
        vals = sorted(tv.values())
        cnt = Counter(vals)
        ties += sum(c ** 3 - c for c in cnt.values())
        for t_, v in tv.items():
            before = sum(1 for x in vals if x < v)
            c = cnt[v]
            r2sum[t_] += 2 * before + c + 1
    srr = sum((x * x) // 4 for x in r2sum.values())
    q = 12.0 * srr / (n * k * (k + 1)) - 3.0 * n * (k + 1)
    corr = 1.0 - ties / (n * k * (k * k - 1))
    assert r["q_e6"] == math.floor(q * 1e6)
    assert r["qc_e6"] == math.floor(q / corr * 1e6)

    # drop treatment 'c' from block 4 -> block excluded entirely
    rows2 = [x for x in rows if not (x[0] == 4 and x[1] == "c")]
    df2 = spark.createDataFrame(rows2, "blk int, tr string, v double")
    r2 = friedman_test(df2, "blk", "tr", "v").collect()[0]
    assert r2["n_blocks"] == 3


def test_friedman_degenerate(spark):
    """Single treatment -> NULL statistics; all-tied blocks -> NULL
    tie-corrected Q_c but a defined (negative-zero-free) Q."""
    from hadoop_fcfs_spark.ops.stats import friedman_test

    one = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "blk int, tr string, v double"
    )
    r = friedman_test(one, "blk", "tr", "v").collect()[0]
    assert r["k_treatments"] == 1 and r["q_e6"] is None

    tied = spark.createDataFrame(
        [(1, "a", 5.0), (1, "b", 5.0), (2, "a", 7.0), (2, "b", 7.0)],
        "blk int, tr string, v double",
    )
    rt = friedman_test(tied, "blk", "tr", "v").collect()[0]
    assert rt["qc_e6"] is None and rt["q_e6"] is not None


def test_isotonic_calibration_equals_pav(spark):
    """The minimax curve equals a pure-Python pool-adjacent-violators
    fit (weights = bin sizes) and is monotone nondecreasing; an
    already-monotone diagram passes through unchanged."""
    import math

    from hadoop_fcfs_spark.ops.stats import isotonic_calibration

    # scores 0..79 in 4 bins of 20; positives per bin: 10, 4, 12, 18
    # -> bins 0 and 1 violate monotonicity and must pool
    rows = []
    pos_per_bin = [10, 4, 12, 18]
    for b in range(4):
        for i in range(20):
            rows.append((float(b * 20 + i), i < pos_per_bin[b]))
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {r["bin"]: r for r in
           isotonic_calibration(df, "s", "y", n_bins=4).collect()}
    assert sorted(out) == [0, 1, 2, 3]

    # pure-Python PAV on (rate, weight) per bin
    blocks = [[p, 20] for p in pos_per_bin]  # [pos_sum, n_sum]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    fit = []
    for p, n in blocks:
        fit += [p / n] * (n // 20)
    assert [out[b]["iso_micro"] for b in range(4)] == [
        math.floor(v * 1e6) for v in fit
    ]
    isos = [out[b]["iso_micro"] for b in range(4)]
    assert isos == sorted(isos)
    # pooled pair (0,1) -> 14/40 = 0.35 on both; untouched bins keep
    # their observed rates
    assert isos[0] == isos[1] == 350000
    assert isos[2] == out[2]["rate_micro"] and isos[3] == out[3]["rate_micro"]


def test_isotonic_monotone_input_is_identity(spark):
    from hadoop_fcfs_spark.ops.stats import isotonic_calibration

    rows = []
    for b, p in enumerate([2, 8, 14, 19]):
        for i in range(20):
            rows.append((float(b * 20 + i), i < p))
    df = spark.createDataFrame(rows, "s double, y boolean")
    for r in isotonic_calibration(df, "s", "y", n_bins=4).collect():
        assert r["iso_micro"] == r["rate_micro"]


def test_brown_forsythe_hand_values(spark):
    """Two equal-spread groups -> W ~ 0-ish exact replica; one group
    with visibly larger spread -> large W. Replica follows the exact
    integer median (lower-crossing) + ANOVA-on-|z| arithmetic."""
    import math

    from hadoop_fcfs_spark.ops.stats import brown_forsythe

    a = [1.0, 2.0, 3.0, 4.0, 5.0]
    b = [11.0, 12.0, 13.0, 14.0, 15.0]      # same spread as a
    c = [0.0, 10.0, 20.0, 30.0, 40.0]       # much wider
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", v) for v in c]
    df = spark.createDataFrame(rows, "g string, v double")
    r = brown_forsythe(df, "v", "g").collect()[0]
    assert (r["k_groups"], r["n_rows"]) == (3, 15)

    def med_q(vals):  # lower-crossing on cent-quantized grain
        q = sorted(math.floor(v * 100) for v in vals)
        n = len(q)
        cum = 0
        seen = {}
        for x in q:
            seen[x] = seen.get(x, 0) + 1
        c_ = 0
        for x in sorted(seen):
            c_ += seen[x]
            if 2 * c_ >= n:
                return x
        raise AssertionError

    zs = {}
    for g, vals in (("a", a), ("b", b), ("c", c)):
        m = med_q(vals)
        zs[g] = [abs(math.floor(v * 100) - m) for v in vals]
    k, nn = 3, 15
    s1 = {g: sum(z) for g, z in zs.items()}
    s2 = {g: sum(x * x for x in z) for g, z in zs.items()}
    sgm = sum(s1[g] ** 2 / len(zs[g]) for g in zs)
    ts1, ts2 = sum(s1.values()), sum(s2.values())
    ssb = sgm - ts1 * ts1 / nn
    ssw = ts2 - sgm
    w = (ssb / (k - 1)) / (ssw / (nn - k))
    assert r["w_e6"] == math.floor(w * 1e6)
    assert r["w_e6"] > 0


def test_brown_forsythe_degenerate(spark):
    """All groups constant -> zero deviation mass -> NULL W."""
    from hadoop_fcfs_spark.ops.stats import brown_forsythe

    df = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 9.0)] * 3, "g string, v double"
    )
    r = brown_forsythe(df, "v", "g").collect()[0]
    assert r["w_e6"] is None and r["k_groups"] == 2


def test_roc_auc_delong_pure_python_replica(spark):
    """Random scores with ties: auc, SE, and CI equal a pure-Python
    DeLong replica (placement values, sample variances); AUC matches
    roc_auc; degenerate single-member class -> NULL SE but exact AUC."""
    import math
    import random

    from hadoop_fcfs_spark.ops.stats import roc_auc, roc_auc_delong

    rng = random.Random(23)
    rows = [(float(rng.randint(0, 30)), rng.random() < 0.4)
            for _ in range(200)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = roc_auc_delong(df, "s", "y").collect()[0]
    base = roc_auc(df, "s", "y").collect()[0]
    assert r["auc_micro"] == base["auc_micro"]

    pos = sorted(s for s, y in rows if y)
    neg = sorted(s for s, y in rows if not y)
    npos, nneg = len(pos), len(neg)

    def placements(own, other):
        out = []
        for s in own:
            below = sum(1 for x in other if x < s)
            ties = sum(1 for x in other if x == s)
            out.append((2 * below + ties))
        return out

    qp = placements(pos, neg)     # 2x scale, /(2*nneg) is the value
    qn = [2 * sum(1 for x in pos if x > s) + sum(1 for x in pos if x == s)
          for s in neg]
    sp1, sp2 = sum(qp), sum(x * x for x in qp)
    sn1, sn2 = sum(qn), sum(x * x for x in qn)
    s10 = (sp2 - sp1 * sp1 / npos) / (npos - 1) / (4 * nneg * nneg)
    s01 = (sn2 - sn1 * sn1 / nneg) / (nneg - 1) / (4 * npos * npos)
    se = math.sqrt(s10 / npos + s01 / nneg)
    auc = sp1 / (2 * npos * nneg)
    assert r["se_e9"] == math.floor(se * 1e9)
    assert r["ci_lo_e6"] == math.floor(max(0.0, auc - 1.96 * se) * 1e6)
    assert r["ci_hi_e6"] == math.floor(min(1.0, auc + 1.96 * se) * 1e6)

    tiny = spark.createDataFrame(
        [(1.0, True), (2.0, False), (3.0, False)], "s double, y boolean"
    )
    rt = roc_auc_delong(tiny, "s", "y").collect()[0]
    assert rt["auc_micro"] is not None and rt["se_e9"] is None


def test_kmeans_silhouette_replica_and_separation(spark):
    """Silhouette equals a pure-numpy replica of the same integer
    algorithm; two well-separated blobs at k=2 score near 1e6, and a
    single blob split at k=2 scores visibly lower."""
    import numpy as np

    from hadoop_fcfs_spark.llm.similarity import kmeans_silhouette

    rng = np.random.RandomState(3)
    blobs = np.concatenate([rng.randn(20, 4) + 8.0, rng.randn(20, 4) - 8.0])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(blobs)],
        "vec_id int, embedding array<double>",
    )
    out = {r["cell"]: r for r in
           kmeans_silhouette(df, k=2, iterations=2).collect()}

    # replica: same quantize -> fit -> squared simplified silhouette
    q = np.floor(blobs * 1000).astype(np.int64)
    cents = [q[0].copy(), q[1].copy()]
    for _ in range(2):
        d = np.array([((q - c) ** 2).sum(axis=1) for c in cents])
        cell = d.argmin(axis=0)
        for c in range(2):
            m = q[cell == c]
            if len(m):
                s = m.sum(axis=0)
                cents[c] = np.where(
                    s >= 0, np.abs(s) // len(m), -(np.abs(s) // len(m))
                )
    d = np.array([((q - c) ** 2).sum(axis=1) for c in cents])
    a2 = d.min(axis=0)
    cell = d.argmin(axis=0)
    b2 = np.sort(d, axis=0)[1]
    mx = np.maximum(a2, b2)
    s = np.where(mx > 0, (b2 - a2) * 1_000_000 // mx, 0)
    for c in set(cell):
        members = s[cell == c]
        assert out[c]["n"] == len(members)
        assert out[c]["mean_sil_micro"] == int(members.sum()) // len(members)
    assert all(r["mean_sil_micro"] > 900_000 for r in out.values())

    one_blob = rng.randn(40, 4)
    df1 = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(one_blob)],
        "vec_id int, embedding array<double>",
    )
    low = kmeans_silhouette(df1, k=2, iterations=2).collect()
    assert all(r["mean_sil_micro"] < 900_000 for r in low)


def test_fd_violations_hand_values(spark):
    """key a: 3x'x' + 1x'y' -> 1 violation; key b: clean -> 0;
    NULL LHS rows excluded; NULL RHS is a value (violates)."""
    import pytest

    from hadoop_fcfs_spark.ops.validate import fd_violations

    rows = [("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"),
            ("b", "z"), ("b", "z"), (None, "q"), ("c", None), ("c", "w")]
    df = spark.createDataFrame(rows, "k string, v string")
    r = fd_violations(df, ["k"], "v").collect()[0]
    assert r["n_rows"] == 8          # the NULL-key row is out
    assert r["n_keys"] == 3
    assert r["n_violating_keys"] == 2  # a (x vs y) and c (NULL vs w)
    assert r["n_violations"] == 2      # drop 1 from a, 1 from c
    assert r["violation_micro"] == 2 * 1_000_000 // 8

    clean = fd_violations(
        df.filter("k = 'b'"), ["k"], "v"
    ).collect()[0]
    assert clean["n_violations"] == 0 and clean["violation_micro"] == 0

    with pytest.raises(ValueError):
        fd_violations(df, [], "v")


def test_jonckheere_terpstra_brute_force_replica(spark):
    """Small random 3-ordered-group sample with ties: jt2 equals the
    brute-force cross-pair count and z equals the tie-corrected
    Hollander-Wolfe formula; strictly increasing groups give a large
    positive z, the reverse order negates the trend."""
    import math
    import random

    from hadoop_fcfs_spark.ops.stats import jonckheere_terpstra

    rng = random.Random(5)
    data = [("a", float(rng.randint(0, 8))) for _ in range(15)] + \
           [("b", float(rng.randint(3, 11))) for _ in range(12)] + \
           [("c", float(rng.randint(6, 14))) for _ in range(18)]
    df = spark.createDataFrame(data, "g string, v double")
    r = jonckheere_terpstra(df, "v", "g", ["a", "b", "c"]).collect()[0]

    groups = {g: sorted(v for gg, v in data if gg == g) for g in "abc"}
    jt2 = 0
    for lo, hi in (("a", "b"), ("a", "c"), ("b", "c")):
        for x in groups[lo]:
            for y in groups[hi]:
                jt2 += 2 if x < y else (1 if x == y else 0)
    assert r["jt2"] == jt2

    from collections import Counter

    ns = [len(groups[g]) for g in "abc"]
    nn = sum(ns)
    ties = Counter(v for _, v in data)
    g1 = sum(n * (n - 1) * (2 * n + 5) for n in ns)
    g2 = sum(n * (n - 1) * (n - 2) for n in ns)
    g3 = sum(n * (n - 1) for n in ns)
    t1 = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    t2 = sum(t * (t - 1) * (t - 2) for t in ties.values())
    t3 = sum(t * (t - 1) for t in ties.values())
    var = ((nn * (nn - 1) * (2 * nn + 5) - g1 - t1) / 72.0
           + g2 * t2 / (36.0 * nn * (nn - 1) * (nn - 2))
           + g3 * t3 / (8.0 * nn * (nn - 1)))
    mu = (nn * nn - sum(n * n for n in ns)) / 4.0
    z = (jt2 / 2.0 - mu) / math.sqrt(var)
    assert r["z_e6"] == math.floor(z * 1e6)
    assert r["z_e6"] > 3_000_000  # the planted upward trend

    rev = jonckheere_terpstra(df, "v", "g", ["c", "b", "a"]).collect()[0]
    assert rev["z_e6"] < -3_000_000


def test_jonckheere_guards(spark):
    import pytest

    from hadoop_fcfs_spark.ops.stats import jonckheere_terpstra

    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, v double")
    with pytest.raises(ValueError):
        jonckheere_terpstra(df, "v", "g", ["a"])
    with pytest.raises(ValueError):
        jonckheere_terpstra(df, "v", "g", ["a", "a"])
    # all values identical -> variance 0 -> NULL z, jt2 still exact
    tied = spark.createDataFrame(
        [("a", 7.0)] * 3 + [("b", 7.0)] * 3, "g string, v double"
    )
    r = jonckheere_terpstra(tied, "v", "g", ["a", "b"]).collect()[0]
    assert r["z_e6"] is None and r["jt2"] == 9  # 3*3 tie pairs, 1 each


def test_effect_sizes_hand_values(spark):
    """Perfect separation -> delta = +1e6; swap arms -> -1e6; a known
    small sample replicates both formulas; degenerate arms go NULL."""
    import math

    from hadoop_fcfs_spark.ops.stats import effect_sizes_two_sample

    sep = spark.createDataFrame(
        [("a", 10.0)] * 3 + [("b", 1.0)] * 4, "g string, v double"
    )
    r = effect_sizes_two_sample(sep, "v", "g", "a", "b").collect()[0]
    assert r["cliffs_delta_micro"] == 1_000_000
    rswap = effect_sizes_two_sample(sep, "v", "g", "b", "a").collect()[0]
    assert rswap["cliffs_delta_micro"] == -1_000_000

    a = [1.0, 2.0, 2.0, 5.0]
    b = [2.0, 3.0, 4.0]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "g string, v double"
    )
    r = effect_sizes_two_sample(df, "v", "g", "a", "b").collect()[0]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    na, nb = len(a), len(b)
    delta = (gt - lt) * 1_000_000
    delta = delta // (na * nb) if delta >= 0 else -((-delta) // (na * nb))
    assert r["cliffs_delta_micro"] == delta

    qa = [math.floor(v * 100) for v in a]
    qb = [math.floor(v * 100) for v in b]
    sa1, sa2 = sum(qa), sum(x * x for x in qa)
    sb1, sb2 = sum(qb), sum(x * x for x in qb)
    ssw = (sa2 - sa1 * sa1 / na) + (sb2 - sb1 * sb1 / nb)
    d = (sa1 / na - sb1 / nb) / math.sqrt(ssw / (na + nb - 2))
    assert r["cohens_d_e6"] == math.floor(d * 1e6)

    one = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "g string, v double"
    )
    rd = effect_sizes_two_sample(one, "v", "g", "a", "b").collect()[0]
    assert rd["cohens_d_e6"] is None and rd["cliffs_delta_micro"] is not None


def test_cuped_hand_values(spark):
    """Hand-built units where the covariate explains most variance:
    theta / raw diff / adjusted diff / rho^2 match a pure-Python
    replica; constant covariate -> NULL adjustment, raw diff stays."""
    import math

    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.stats import cuped_adjustment

    # (unit, variant, x=views, y=purchases); y correlated with x
    units = [(1, 0, 2, 3), (2, 0, 4, 5), (3, 0, 6, 6),
             (4, 1, 2, 4), (5, 1, 4, 6), (6, 1, 6, 8)]
    rows = []
    for u, v, x, y in units:
        rows += [(u, v, "view")] * x + [(u, v, "purchase")] * y
    df = spark.createDataFrame(rows, "unit int, variant int, et string")
    r = cuped_adjustment(
        df, "unit", F.col("variant") == 1,
        F.sum(F.when(F.col("et") == "purchase", 1).otherwise(0)),
        F.sum(F.when(F.col("et") == "view", 1).otherwise(0)),
    ).collect()[0]
    assert (r["n_control"], r["n_treat"]) == (3, 3)

    xs = [x for _, _, x, _ in units]
    ys = [y for _, _, _, y in units]
    n = len(units)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    yc = [y for _, v, _, y in units if v == 0]
    yt = [y for _, v, _, y in units if v == 1]
    xc = [x for _, v, x, _ in units if v == 0]
    xt = [x for _, v, x, _ in units if v == 1]
    raw = sum(yt) / 3 - sum(yc) / 3
    adj = raw - theta * (sum(xt) / 3 - sum(xc) / 3)
    rho2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert r["theta_e6"] == math.floor(theta * 1e6)
    assert r["raw_diff_e6"] == math.floor(raw * 1e6)
    assert r["adj_diff_e6"] == math.floor(adj * 1e6)
    assert r["var_reduction_micro"] == math.floor(rho2 * 1e6)
    # covariate balanced across arms here, so CUPED keeps the lift but
    # the rho^2 says the variance would shrink a lot
    assert r["var_reduction_micro"] > 500_000

    const = spark.createDataFrame(
        [(1, 0, "view"), (1, 0, "purchase"), (2, 1, "view"), (2, 1, "purchase")],
        "unit int, variant int, et string",
    )
    rc = cuped_adjustment(
        const, "unit", F.col("variant") == 1,
        F.sum(F.when(F.col("et") == "purchase", 1).otherwise(0)),
        F.sum(F.when(F.col("et") == "view", 1).otherwise(0)),
    ).collect()[0]
    assert rc["theta_e6"] is None and rc["raw_diff_e6"] is not None


def test_pc_projection_outliers_replica(spark):
    """Projections equal a pure-numpy integer replica (quantize ->
    power-iterate -> project -> top-k by |proj| with lowest-id ties),
    and the planted extreme-axis vector ranks first."""
    import numpy as np

    from hadoop_fcfs_spark.llm.similarity import (
        gram_power_iteration,
        pc_projection_outliers,
    )

    rng = np.random.RandomState(9)
    base = rng.randn(4)
    vecs = base[None, :] * rng.randn(30)[:, None] + 0.05 * rng.randn(30, 4)
    vecs[7] = base * 50.0  # the axis rider
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    out = pc_projection_outliers(
        df, k=5, iterations=3, quantize=1000, scale_div=10
    ).collect()
    assert out[0]["vec_id"] == 7

    pc = {r["dim"]: r["component_e6"] for r in
          gram_power_iteration(df, "embedding", iterations=3,
                               quantize=1000, scale_div=10).collect()}
    p = np.array([pc[i + 1] for i in range(4)], dtype=np.int64)
    q = np.floor(vecs * 1000).astype(np.int64)
    proj = q @ p
    order = sorted(range(30), key=lambda i: (-abs(int(proj[i])), i))[:5]
    assert [(r["vec_id"], r["projection"]) for r in out] == [
        (i, int(proj[i])) for i in order
    ]


def test_kendall_tau_b_hand_values(spark):
    """Known small sample with ties in both columns -> C, D, and tau-b
    match the brute-force definition; perfect concordance -> 1.0;
    constant column -> NULL."""
    from hadoop_fcfs_spark.ops.stats import kendall_tau_b

    pts = [(1.0, 2.0), (2.0, 2.0), (2.0, 5.0), (3.0, 4.0), (4.0, 1.0)]
    df = spark.createDataFrame(pts, "x double, y double")
    r = kendall_tau_b(df, "x", "y").collect()[0]

    import math

    c = d = n1 = n2 = n0 = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (xa, ya), (xb, yb) = pts[i], pts[j]
            n0 += 1
            if xa == xb:
                n1 += 1
            if ya == yb:
                n2 += 1
            if (xa < xb and ya < yb) or (xa > xb and ya > yb):
                c += 1
            elif (xa < xb and ya > yb) or (xa > xb and ya < yb):
                d += 1
    tau = (c - d) / math.sqrt((n0 - n1) * (n0 - n2))
    assert (r["concordant"], r["discordant"]) == (c, d)
    assert r["tau_b_r6"] == round(tau, 6)

    perf = spark.createDataFrame(
        [(float(i), float(2 * i)) for i in range(6)], "x double, y double"
    )
    assert kendall_tau_b(perf, "x", "y").collect()[0]["tau_b_r6"] == 1.0

    const = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, y double"
    )
    assert kendall_tau_b(const, "x", "y").collect()[0]["tau_b_r6"] is None


def test_seasonal_naive_eval_hand_values(spark):
    """7-step series with period 3: only the last 4 steps score;
    MAE/RMSE/sMAPE match hand arithmetic; short series -> all NULL;
    bad period raises."""
    import math

    import pytest

    from hadoop_fcfs_spark.ops.timeseries import seasonal_naive_eval

    vals = [10, 12, 8, 14, 12, 8, 20]  # i = 0..6, period 3
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, v int"
    )
    r = seasonal_naive_eval(df, "i", "v", period=3).collect()[0]
    pairs = [(vals[i], vals[i - 3]) for i in range(3, 7)]
    assert r["n_scored"] == 4
    sae = sum(abs(a - p) for a, p in pairs)
    sse = sum((a - p) ** 2 for a, p in pairs)
    ssm = sum(2 * abs(a - p) * 1_000_000 // (a + p) for a, p in pairs)
    assert r["mae_micro"] == sae * 1_000_000 // 4
    assert r["rmse_e6"] == math.floor(math.sqrt(sse / 4) * 1e6)
    assert r["smape_micro"] == ssm // 4

    short = spark.createDataFrame([(0, 5), (1, 6)], "i int, v int")
    rs = seasonal_naive_eval(short, "i", "v", period=7).collect()[0]
    assert rs["n_scored"] == 0 and rs["mae_micro"] is None

    with pytest.raises(ValueError):
        seasonal_naive_eval(df, "i", "v", period=0)


def test_simpson_reversal_textbook(spark):
    """The classic 2-stratum construction: both strata favor exposure,
    the pooled table favors the other side -> both rows flagged
    reversed; a no-confounding table flags nothing; NULLs count as
    false."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.stats import simpson_reversal

    rows = []
    # stratum A: exposed 80/100 pos, unexposed 7/10 pos (exposed better)
    rows += [("A", True, True)] * 80 + [("A", True, False)] * 20
    rows += [("A", False, True)] * 7 + [("A", False, False)] * 3
    # stratum B: exposed 3/10 pos, unexposed 20/100 pos (exposed better)
    rows += [("B", True, True)] * 3 + [("B", True, False)] * 7
    rows += [("B", False, True)] * 20 + [("B", False, False)] * 80
    df = spark.createDataFrame(rows, "s string, e boolean, o boolean")
    out = {r["stratum"]: r for r in
           simpson_reversal(df, "s", F.col("e"), F.col("o")).collect()}
    # pooled: exposed 83/110 vs unexposed 27/110 -> pooled favors
    # exposure TOO here; construct the flip by checking signs instead
    assert out["A"]["d_sign"] == 1 and out["B"]["d_sign"] == 1

    # true reversal: strata favor exposure, pooled favors unexposed
    rows = []
    rows += [("A", True, True)] * 18 + [("A", True, False)] * 2   # 90%
    rows += [("A", False, True)] * 8 + [("A", False, False)] * 2  # 80%
    rows += [("B", True, True)] * 2 + [("B", True, False)] * 8    # 20%
    rows += [("B", False, True)] * 2 + [("B", False, False)] * 18  # 10%
    df = spark.createDataFrame(rows, "s string, e boolean, o boolean")
    out = {r["stratum"]: r for r in
           simpson_reversal(df, "s", F.col("e"), F.col("o")).collect()}
    # pooled: exposed 20/30 (66.7%) vs unexposed 10/30 (33.3%) — still
    # favors exposure; flip the pooled by weighting: exposed mostly in
    # the bad stratum
    rows = []
    rows += [("A", True, True)] * 9 + [("A", True, False)] * 1     # 90% of 10
    rows += [("A", False, True)] * 70 + [("A", False, False)] * 30  # 70% of 100
    rows += [("B", True, True)] * 30 + [("B", True, False)] * 70   # 30% of 100
    rows += [("B", False, True)] * 1 + [("B", False, False)] * 9   # 10% of 10
    df = spark.createDataFrame(rows, "s string, e boolean, o boolean")
    out = {r["stratum"]: r for r in
           simpson_reversal(df, "s", F.col("e"), F.col("o")).collect()}
    assert out["A"]["d_sign"] == 1 and out["B"]["d_sign"] == 1
    assert out["A"]["pooled_sign"] == -1  # pooled flips
    assert out["A"]["reversed"] and out["B"]["reversed"]

    nulls = spark.createDataFrame(
        [("A", None, True), ("A", True, None), ("A", True, True),
         ("A", False, False)],
        "s string, e boolean, o boolean",
    )
    r = simpson_reversal(nulls, "s", F.col("e"), F.col("o")).collect()[0]
    assert r["n"] == 4 and r["exposed"] == 2 and r["exposed_pos"] == 1


def test_topk_overlap_hand_values(spark):
    """Three periods with known top-2 sets: overlaps and Jaccards by
    hand; a period gap breaks adjacency (no pair row); disjoint sets
    give 0; bad k raises."""
    import pytest

    from hadoop_fcfs_spark.ops.ranking import topk_overlap_by_period

    rows = [
        # p=1 top2 = {a, b}
        (1, "a", 10), (1, "b", 8), (1, "c", 1),
        # p=2 top2 = {b, d}  -> overlap with p1 = {b}: J = 1/3
        (2, "b", 9), (2, "d", 7), (2, "a", 2),
        # p=4 (gap at 3) top2 = {x, y}
        (4, "x", 5), (4, "y", 4),
    ]
    df = spark.createDataFrame(rows, "p int, k string, v int")
    out = {r["period"]: r for r in
           topk_overlap_by_period(df, "p", "k", "v", k=2).collect()}
    assert list(out) == [1]  # only (1,2) adjacent; 2->3 and 3->4 absent
    assert out[1]["common"] == 1 and out[1]["k_a"] == 2 and out[1]["k_b"] == 2
    assert out[1]["jaccard_micro"] == 1_000_000 // 3

    disj = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5)], "p int, k string, v int"
    )
    r = topk_overlap_by_period(disj, "p", "k", "v", k=2).collect()[0]
    assert r["common"] == 0 and r["jaccard_micro"] == 0

    with pytest.raises(ValueError):
        topk_overlap_by_period(df, "p", "k", "v", k=0)


def test_corpus_pipeline_v7_invariants(spark):
    """v7 scores exactly the v6 export: shard ids within 0..3, n_total
    equals the v5 mixed count everywhere, per-shard sizes sum to it,
    and every D is a valid ECDF gap in [0, 1e6]."""
    from hadoop_fcfs_spark.caching import release_waypoints
    from hadoop_fcfs_spark.queries_llm import _v5_stages, corpus_pipeline_v7

    sf = "/root/testdata/sf0.01"
    rows = corpus_pipeline_v7(spark, sf).collect()
    _, mixed = _v5_stages(spark, sf)
    n_mixed = mixed.count()
    release_waypoints()
    assert {r["shard"] for r in rows} <= {0, 1, 2, 3}
    assert all(r["n_total"] == n_mixed for r in rows)
    assert sum(r["n_g"] for r in rows) == n_mixed
    assert all(0 <= r["d_e6"] <= 1_000_000 for r in rows)


def test_rbo_topk_hand_values(spark):
    """Identical adjacent top lists -> rbo10_e9 == 1e9 exactly; a
    swap of ranks 1 and 2 costs nothing (same members, same max
    depths... no: max changes) - verify against a pure-Python frozen-
    table replica; disjoint lists -> 0."""
    from hadoop_fcfs_spark.ops.ranking import (
        _RBO_FULL,
        _RBO_SFX,
        rbo_topk_by_period,
    )

    # identical leaderboards
    rows = [(1, f"k{i}", 100 - i) for i in range(10)]
    rows += [(2, f"k{i}", 100 - i) for i in range(10)]
    df = spark.createDataFrame(rows, "p int, k string, v int")
    r = rbo_topk_by_period(df, "p", "k", "v").collect()[0]
    assert r["common"] == 10 and r["rbo10_e9"] == 1_000_000_000

    # ranks 1 and 2 swapped in the next period
    rows = [(1, f"k{i}", 100 - i) for i in range(10)]
    vals = list(range(100, 90, -1))
    vals[0], vals[1] = vals[1], vals[0]
    rows += [(2, f"k{i}", vals[i]) for i in range(10)]
    df = spark.createDataFrame(rows, "p int, k string, v int")
    r = rbo_topk_by_period(df, "p", "k", "v").collect()[0]
    # replica: k0 ranks (1,2) -> SFX[2]; k1 ranks (2,1) -> SFX[2];
    # k_i>=2 ranks (i+1, i+1) -> SFX[i+1]
    expect = 2 * _RBO_SFX[1] + sum(_RBO_SFX[i] for i in range(2, 10))
    assert r["rbo10_e9"] == expect * 1_000_000_000 // _RBO_FULL
    assert r["rbo10_e9"] < 1_000_000_000  # a top-2 swap IS penalized

    disj = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5)], "p int, k string, v int"
    )
    r = rbo_topk_by_period(disj, "p", "k", "v").collect()[0]
    assert r["common"] == 0 and r["rbo10_e9"] == 0


def test_pq_distortion_audit_replica(spark):
    """Distortion stats equal a pure-numpy replica of the same
    algorithm (encode -> ADC vs exact with matching fold order), and
    a corpus whose vectors ARE the codewords has zero distortion."""
    import math

    import numpy as np

    from hadoop_fcfs_spark.llm.similarity import pq_distortion_audit

    rng = np.random.RandomState(17)
    dim, m, dsub, ksub = 8, 2, 4, 3
    cbs = [[list(map(float, rng.randn(dsub))) for _ in range(ksub)]
           for _ in range(m)]
    vecs = rng.randn(12, dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    queries = df.filter("vec_id < 2")
    r = pq_distortion_audit(df, queries, cbs).collect()[0]

    def sub(v, j):
        return np.asarray(v[j * dsub:(j + 1) * dsub], dtype=float)

    rds = []
    for qi in range(2):
        for di in range(12):
            adc = exact = 0.0
            for j in range(m):
                ds = [float(((sub(vecs[di], j) - np.asarray(c)) ** 2).sum())
                      for c in cbs[j]]
                code = min(range(ksub), key=lambda c: (ds[c], c))
                adc += float(((sub(vecs[qi], j)
                               - np.asarray(cbs[j][code])) ** 2).sum())
                exact += float(((sub(vecs[qi], j) - sub(vecs[di], j)) ** 2).sum())
            if exact > 0:
                rds.append(math.floor(abs(adc - exact) / exact * 1e6))
    assert r["n_pairs"] == len(rds)
    assert r["mean_rel_distortion_micro"] == sum(rds) // len(rds)
    assert r["max_rel_distortion_micro"] == max(rds)

    # corpus = the codewords themselves -> ADC == exact everywhere
    cw = [(i, [float(x) for x in (cbs[0][i % ksub] + cbs[1][i % ksub])])
          for i in range(ksub)]
    dfc = spark.createDataFrame(cw, "vec_id int, embedding array<double>")
    rz = pq_distortion_audit(dfc, dfc.filter("vec_id = 0"), cbs).collect()[0]
    assert rz["max_rel_distortion_micro"] == 0


def test_page_trend_hand_values(spark):
    """Perfect monotone trend, k=3 arms x n=2 complete blocks, no
    ties: within-block ranks are (1,2,3) so L = 2*(1+4+9) = 28 (l2 =
    56), E[L] = 2*3*16/4 = 24, Var[L] = 2*9*4*8/144 = 4 -> z = 2
    exactly. An all-tied block contributes midrank 2 to every arm."""
    from hadoop_fcfs_spark.ops.stats import page_trend_test

    rows = [(b, j, 10 * b + j) for b in (1, 2) for j in (1, 2, 3)]
    df = spark.createDataFrame(rows, "b int, j int, v int")
    r = page_trend_test(df, "b", "j", "v").collect()[0]
    assert r["k_treatments"] == 3 and r["n_blocks"] == 2
    assert r["l2"] == 56 and r["z_e6"] == 2_000_000

    # incomplete block dropped; all-tied block -> every arm midrank 2
    rows = [(1, 1, 5), (1, 2, 5), (1, 3, 5), (2, 1, 9)]
    df = spark.createDataFrame(rows, "b int, j int, v int")
    r = page_trend_test(df, "b", "j", "v").collect()[0]
    assert r["n_blocks"] == 1
    # l2 = sum j * 2R = (1+2+3) * 4 = 24; L = 12 = E[L] -> z = 0
    assert r["l2"] == 24 and r["z_e6"] == 0

    # non-dense hypothesized positions (2,3,4): l2 reported, z NULLed
    rows = [(b, j, 10 * b + j) for b in (1, 2) for j in (2, 3, 4)]
    df = spark.createDataFrame(rows, "b int, j int, v int")
    r = page_trend_test(df, "b", "j", "v").collect()[0]
    assert r["z_e6"] is None and r["l2"] == 2 * (2 * 1 + 3 * 2 + 4 * 3) * 2


def test_hodges_lehmann_hand_values(spark):
    """Even pair count: A={1,2}, B={0} -> diffs {1,2}, medians 1 and 2
    -> hl2 = 3 (HL = 1.5). Odd: A={5}, B={1,2,4} -> diffs {1,3,4},
    both crossings at 3 -> hl2 = 6. Duplicate values weight the grid:
    A={2,2}, B={1} -> one diff cell d=1 with w=2 -> hl2 = 2."""
    from hadoop_fcfs_spark.ops.stats import hodges_lehmann_shift

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 0)], "g string, v int"
    )
    r = hodges_lehmann_shift(df, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_pairs"]) == (2, 1, 2)
    assert r["hl2_shift"] == 3

    df = spark.createDataFrame(
        [("a", 5), ("b", 1), ("b", 2), ("b", 4)], "g string, v int"
    )
    r = hodges_lehmann_shift(df, "v", "g", "a", "b").collect()[0]
    assert r["n_pairs"] == 3 and r["hl2_shift"] == 6

    df = spark.createDataFrame(
        [("a", 2), ("a", 2), ("b", 1)], "g string, v int"
    )
    r = hodges_lehmann_shift(df, "v", "g", "a", "b").collect()[0]
    assert r["n_pairs"] == 2 and r["hl2_shift"] == 2


def test_ordinal_association_hand_values(spark):
    """4 rows, x=(1,1,2,2), y=(1,2,2,3): 6 pairs - C=4 (both strict
    orders agree), D=0, 1 x-tie pair... enumerate: (1,2):x tie;
    (1,3):C; (1,4):C; (2,3): x<, y tie; (3,4): x tie; (2,4):C.
    So C=3, D=0, n1(x-ties)=2, n2(y-ties)=1, n0=6. gamma=1,
    D_yx=3/4, D_xy=3/5; tau_b = 3/sqrt(4*5)."""
    from hadoop_fcfs_spark.ops.stats import kendall_tau_b, ordinal_association

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 3)], "x int, y int"
    )
    r = ordinal_association(df, "x", "y").collect()[0]
    assert (r["concordant"], r["discordant"]) == (3, 0)
    assert r["gamma_e6"] == 1_000_000
    assert r["somers_d_yx_e6"] == 750_000
    assert r["somers_d_xy_e6"] == 600_000
    k = kendall_tau_b(df, "x", "y").collect()[0]
    assert abs(k["tau_b_r6"] - 3 / (4 * 5) ** 0.5) < 1e-6

    # constant x: every pair x-tied -> D_yx NULL, gamma NULL (C=D=0)
    df = spark.createDataFrame([(1, 1), (1, 2)], "x int, y int")
    r = ordinal_association(df, "x", "y").collect()[0]
    assert r["gamma_e6"] is None and r["somers_d_yx_e6"] is None
    assert r["somers_d_xy_e6"] == 0


def test_lin_ccc_hand_values(spark):
    """y = x exactly -> CCC = 1, r = 1. y = x + 5 (pure location
    bias): r stays 1, CCC = varx/(varx + 25) with n-scaled moments:
    x=(0,10), varx*n^2 factor = n*sxx - sx^2 = 2*100 - 100 = 100,
    shift = (sx-sy)^2 = 100 -> CCC = 200/(100+100+100)... num =
    2*(n*sxy - sx*sy) = 2*(2*150 - 10*20) = 200, den = 100 + 100 +
    100 = 300 -> 2/3. Constant columns -> NULLs."""
    from hadoop_fcfs_spark.ops.stats import lin_ccc

    df = spark.createDataFrame([(0, 0), (10, 10)], "x int, y int")
    r = lin_ccc(df, "x", "y").collect()[0]
    assert r["n"] == 2 and r["ccc_e6"] == 1_000_000 and r["r_r6"] == 1.0

    df = spark.createDataFrame([(0, 5), (10, 15)], "x int, y int")
    r = lin_ccc(df, "x", "y").collect()[0]
    assert r["r_r6"] == 1.0
    assert r["ccc_e6"] == 666_666  # floor(2/3 * 1e6)

    df = spark.createDataFrame([(7, 3), (7, 3)], "x int, y int")
    r = lin_ccc(df, "x", "y").collect()[0]
    # den = shift term only (both variances 0) -> CCC 0, r NULL
    assert r["ccc_e6"] == 0 and r["r_r6"] is None
    df = spark.createDataFrame([(7, 7), (7, 7)], "x int, y int")
    r = lin_ccc(df, "x", "y").collect()[0]
    assert r["ccc_e6"] is None and r["r_r6"] is None


def test_clustering_coefficient_hand_values(spark):
    """Triangle 1-2-3 plus pendant 3-4: node 1 has deg 2 in 1 triangle
    -> lcc = 1; node 3 has deg 3 in 1 triangle -> lcc = 1/3; pendant
    node 4 (deg 1) is excluded; a deg-2 triangle-free node reports 0."""
    from hadoop_fcfs_spark.ops.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src int, dst int",
    )
    out = {r["node"]: r for r in clustering_coefficient(edges).collect()}
    assert 4 in out and out[4]["n_triangles"] == 0 and out[4]["lcc_e6"] == 0
    assert out[1]["lcc_e6"] == 1_000_000 and out[1]["deg"] == 2
    assert out[3]["lcc_e6"] == 333_333 and out[3]["deg"] == 3
    assert 6 not in out  # deg 1
    assert out[5]["lcc_e6"] == 0


def test_global_running_max_two_level(spark):
    from hadoop_fcfs_spark.ops.sort import global_running_max

    df = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 4), (4, 1), (5, 5)], "i int, v int"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        got = {
            r["i"]: r["rm"]
            for r in global_running_max(df, ["i"], "v", out_col="rm").collect()
        }
        assert got == {1: 3, 2: 3, 3: 4, 4: 4, 5: 5}
        got = {
            r["i"]: r["rm"]
            for r in global_running_max(
                df, ["i"], "v", out_col="rm", inclusive=False
            ).collect()
        }
        assert got == {1: None, 2: 3, 3: 3, 4: 4, 5: 4}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_watermark_late_audit_hand_values(spark):
    """Arrival order 1..5, event times (us) 1000,5000,2000,500,6000,
    delay 1000: row 3 sees watermark 5000-1000=4000 > 2000 (late by
    2000), row 4 is late by 3500; first row has no watermark."""
    from hadoop_fcfs_spark.ops.timeseries import watermark_late_audit

    rows = [(1, 1000), (2, 5000), (3, 2000), (4, 500), (5, 6000)]
    df = spark.createDataFrame(rows, "arr int, us long").select(
        "arr", F.expr("timestamp_micros(us)").alias("ts")
    )
    r = watermark_late_audit(df, "arr", "ts", delay_us=1000).collect()[0]
    assert (r["n_events"], r["n_late"], r["max_late_us"]) == (5, 2, 3500)
    # generous delay: nothing dropped, shortfall 0
    r = watermark_late_audit(df, "arr", "ts", delay_us=10_000).collect()[0]
    assert (r["n_late"], r["max_late_us"]) == (0, 0)


def test_ams_f2_pure_python_replica(spark):
    """Replicate the md5-parity tug-of-war in pure Python on a small
    key set and check Z-derived estimates match bit for bit; also the
    unbiasedness sanity: exact F2 of k distinct singletons is k."""
    import hashlib

    from hadoop_fcfs_spark.agg.sketches import ams_f2_audit

    rows = [(k,) for k in ["a", "b", "c"] * 4 + ["d"] * 5 + ["e"]]
    df = spark.createDataFrame(rows, "k string")
    got = ams_f2_audit(df, "k", n_est=4).collect()[0]

    from collections import Counter
    freq = Counter(k for (k,) in rows)
    assert got["n_keys"] == 5
    f2 = sum(f * f for f in freq.values())
    assert got["f2_exact"] == f2 == 3 * 16 + 25 + 1

    def sign(x, i):
        h = hashlib.md5(f"{x}|{i}".encode()).hexdigest()
        return 1 if int(h[:8], 16) % 2 == 1 else -1

    ests = sorted(
        sum(sign(x, i) * f for x, f in freq.items()) ** 2 for i in range(4)
    )
    assert got["est_mean"] == sum(ests) // 4
    assert got["est_med2x"] == ests[1] + ests[2]
    assert got["rel_err_mean_micro"] == abs(sum(ests) // 4 - f2) * 10**6 // f2

    import pytest
    with pytest.raises(ValueError):
        ams_f2_audit(df, "k", n_est=3)


def test_rake_weights_integer_replica_and_convergence(spark):
    """2x2 skewed table raked to uniform margins: replicate the exact
    truncating-integer trajectory in pure Python, and check the
    weighted margins actually converge toward N/2 per row and column
    (the point of IPF)."""
    import pytest

    from hadoop_fcfs_spark.ops.sampling import rake_weights

    rows = (
        [("r0", "c0")] * 1 + [("r0", "c1")] * 3
        + [("r1", "c0")] * 2 + [("r1", "c1")] * 2
    )
    df = spark.createDataFrame(rows, "r string, c string")
    got = {
        (x["r"], x["c"]): x["w_micro"]
        for x in rake_weights(df, "r", "c", rounds=2).collect()
    }

    # pure-python replica of the truncating trajectory
    n = {("r0", "c0"): 1, ("r0", "c1"): 3, ("r1", "c0"): 2, ("r1", "c1"): 2}
    w = {k: 1_000_000 for k in n}
    N, R, C = 8, 2, 2
    for _ in range(2):
        for axis, nd in ((0, R), (1, C)):
            marg = {}
            for k in n:
                marg[k[axis]] = marg.get(k[axis], 0) + n[k] * w[k]
            t_d = (N * 1_000_000) // nd
            w = {k: (w[k] * t_d) // marg[k[axis]] for k in n}
    assert got == w

    # convergence: every weighted margin within 1% of N/2 micro-mass
    target = (N * 1_000_000) // 2
    for axis in (0, 1):
        marg = {}
        for k in n:
            marg[k[axis]] = marg.get(k[axis], 0) + n[k] * got[k]
        for v in marg.values():
            assert abs(v - target) <= target // 100

    with pytest.raises(ValueError):
        rake_weights(df, "r", "c", rounds=0)


def test_adjusted_rand_index_replica(spark):
    """Identical partitions -> 1e6; one-cluster vs singletons -> 0 (the
    chance-corrected floor); a known 6-row split checked against a
    pure-Python pair-counting replica."""
    from hadoop_fcfs_spark.ops.stats import adjusted_rand_index

    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (2, "y")], "a int, b string"
    )
    r = adjusted_rand_index(df, "a", "b").collect()[0]
    assert (r["n"], r["n_cells_a"], r["n_cells_b"]) == (4, 2, 2)
    assert r["ari_micro"] == 1_000_000

    df = spark.createDataFrame(
        [(1, i) for i in range(4)], "a int, b int"
    )
    r = adjusted_rand_index(df, "a", "b").collect()[0]
    assert r["ari_micro"] == 0

    rows = [(1, "x"), (1, "x"), (1, "y"), (2, "y"), (2, "y"), (2, "x")]
    df = spark.createDataFrame(rows, "a int, b string")
    got = adjusted_rand_index(df, "a", "b").collect()[0]

    from collections import Counter
    cont = Counter(rows)
    s2 = sum(c * (c - 1) for c in cont.values())
    a2 = sum(c * (c - 1) for c in Counter(a for a, _ in rows).values())
    b2 = sum(c * (c - 1) for c in Counter(b for _, b in rows).values())
    n = len(rows)
    num = n * (n - 1) * s2 - a2 * b2
    den = n * (n - 1) * (a2 + b2) // 2 - a2 * b2
    want = num * 1_000_000 // den if num >= 0 else -((-num * 1_000_000) // den)
    assert got["ari_micro"] == want


def test_partition_modularity_hand_values(spark):
    """Two triangles joined by one bridge, communities = the triangles:
    m = 7, each triangle has L_c = 3; degrees (2,2,3)+(2,2,3) so
    D_c = 7 each; q4m2 = 4*7*3 - 49 = 35 per community (Q = 70/196).
    Perfectly mixed partition for contrast: every edge crosses ->
    m_in = 0, q4m2 negative."""
    from hadoop_fcfs_spark.ops.graph import partition_modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src int, dst int",
    )
    memb = spark.createDataFrame(
        [(n, "t1" if n <= 3 else "t2") for n in range(1, 7)],
        "node int, community string",
    )
    out = {r["community"]: r for r in
           partition_modularity(edges, memb).collect()}
    for c in ("t1", "t2"):
        assert out[c]["n_nodes"] == 3 and out[c]["m_in"] == 3
        assert out[c]["deg_tot"] == 7
        assert out[c]["q4m2"] == 4 * 7 * 3 - 49 == 35
        assert out[c]["q_contrib_micro"] == 35 * 1_000_000 // 196
    # odd/even split: only the bridge 3-4 is intra... no: 3 odd, 4
    # even -> bridge crosses too; t1 edges 1-3 intra (both odd). Just
    # assert totals: sum of m_in < m and q4m2 sums lower than above
    memb2 = spark.createDataFrame(
        [(n, "odd" if n % 2 else "even") for n in range(1, 7)],
        "node int, community string",
    )
    out2 = partition_modularity(edges, memb2).collect()
    assert sum(r["q4m2"] for r in out2) < 70


def test_emd_two_sample_hand_values(spark):
    """A = {0, 2}, B = {1, 3}: every unit of mass moves exactly 1 ->
    EMD = 1 (1e6 micro). Identical samples -> 0. A shifted by c ->
    EMD = c exactly (translation property)."""
    from hadoop_fcfs_spark.ops.stats import emd_two_sample

    df = spark.createDataFrame(
        [("a", 0), ("a", 2), ("b", 1), ("b", 3)], "g string, v int"
    )
    r = emd_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["emd_value_e6"] == 1_000_000

    df = spark.createDataFrame(
        [("a", 5), ("a", 9), ("b", 5), ("b", 9)], "g string, v int"
    )
    r = emd_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert r["emd_value_e6"] == 0

    df = spark.createDataFrame(
        [("a", v) for v in (1, 4, 6)] + [("b", v + 7) for v in (1, 4, 6)],
        "g string, v int",
    )
    r = emd_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert r["emd_value_e6"] == 7_000_000


def test_hilbert_value_is_a_hilbert_curve(spark):
    """Exhaustive bits=4 (16x16): the mapping is a bijection onto
    0..255 AND every pair of consecutive curve positions are GRID
    NEIGHBORS (Manhattan distance 1) - the defining Hilbert property
    (Morton/zvalue fails it at every power-of-two boundary). Plus the
    canonical n=2 quadrant order and the origin anchor."""
    import pytest

    from hadoop_fcfs_spark.ops.layout import hilbert_value

    cells = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(cells, "x int, y int")
    got = {
        (r["x"], r["y"]): r["hval"]
        for r in hilbert_value(df, "x", "y", bits=4).collect()
    }
    assert sorted(got.values()) == list(range(256))
    byd = {d: xy for xy, d in got.items()}
    for d in range(255):
        (x1, y1), (x2, y2) = byd[d], byd[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1
    assert got[(0, 0)] == 0

    df2 = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 1), (1, 0)], "x int, y int"
    )
    g2 = {
        (r["x"], r["y"]): r["hval"]
        for r in hilbert_value(df2, "x", "y", bits=1).collect()
    }
    assert g2 == {(0, 0): 0, (0, 1): 1, (1, 1): 2, (1, 0): 3}

    with pytest.raises(ValueError):
        hilbert_value(df2, "x", "y", bits=0)


def test_cochran_armitage_hand_values(spark):
    """Textbook arithmetic: scores 1,2,3 with rates 1/4, 2/4, 3/4.
    n=12, A=6, S1=24, S2=56, SA=(1*1+2*2+3*3)=14. Tn = 14*12 - 24*6 =
    24; factor = 6*6*(12*56 - 576) = 36*96 = 3456; z = 24 /
    sqrt(3456/12) = 24/16.9706 = 1.41421... (= sqrt(2)). Flat trend
    -> Tn = 0; degenerate all-positive -> NULL z."""
    from hadoop_fcfs_spark.ops.stats import cochran_armitage_trend

    rows = []
    for s, a in ((1, 1), (2, 2), (3, 3)):
        rows += [(s, 1)] * a + [(s, 0)] * (4 - a)
    df = spark.createDataFrame(rows, "s int, y int")
    r = cochran_armitage_trend(df, "s", F.col("y")).collect()[0]
    assert (r["n"], r["n_pos"], r["tn"]) == (12, 6, 24)
    assert r["z_e6"] == 1_414_213  # floor(sqrt(2) * 1e6)

    rows = [(s, y) for s in (1, 2, 3) for y in (0, 1)]
    df = spark.createDataFrame(rows, "s int, y int")
    r = cochran_armitage_trend(df, "s", F.col("y")).collect()[0]
    assert r["tn"] == 0 and r["z_e6"] == 0

    df = spark.createDataFrame([(1, 1), (2, 1)], "s int, y int")
    r = cochran_armitage_trend(df, "s", F.col("y")).collect()[0]
    assert r["z_e6"] is None  # A = n -> zero variance


def test_mantel_haenszel_hand_values(spark):
    """One stratum, textbook 2x2 (a,b,c,d) = (10,5,5,10), n=30:
    OR_MH = (10*10/30)/(5*5/30) = 4 exactly; E = 15*15/30 = 7.5,
    num = 10 - 7.5 = 2.5, V = 15*15*15*15/(900*29) = 50625/26100;
    chi2 = 2.5^2 * 26100/50625 = 3.2222... Two identical strata halve
    nothing - OR stays 4. No-discordance stratum -> OR NULL."""
    from hadoop_fcfs_spark.ops.stats import mantel_haenszel

    def tbl(st, a, b, c, d):
        return (
            [(st, True, True)] * a + [(st, True, False)] * b
            + [(st, False, True)] * c + [(st, False, False)] * d
        )

    rows = tbl("s1", 10, 5, 5, 10)
    df = spark.createDataFrame(rows, "st string, ex boolean, oc boolean")
    r = mantel_haenszel(df, "st", F.col("ex"), F.col("oc")).collect()[0]
    assert (r["n_strata"], r["n"]) == (1, 30)
    assert r["or_mh_e6"] == 4_000_001  # 4.0 with two stacked floor-divs
    # chi2 = 6.25 * 26100 / 50625 = 3.222222...
    assert abs(r["chi2_e6"] - 3_222_222) <= 3  # micro-quantized terms

    rows = tbl("s1", 10, 5, 5, 10) + tbl("s2", 10, 5, 5, 10)
    df = spark.createDataFrame(rows, "st string, ex boolean, oc boolean")
    r = mantel_haenszel(df, "st", F.col("ex"), F.col("oc")).collect()[0]
    assert r["n_strata"] == 2 and r["or_mh_e6"] == 4_000_001

    rows = tbl("s1", 5, 0, 5, 0)  # bc-weight 0: OR undefined
    df = spark.createDataFrame(rows, "st string, ex boolean, oc boolean")
    r = mantel_haenszel(df, "st", F.col("ex"), F.col("oc")).collect()[0]
    assert r["or_mh_e6"] is None


def test_rmst_hand_values(spark):
    """3 subjects, no censoring, exits at t=1,2,4: S=2/3 on [1,2),
    1/3 on [2,4), 0 after. RMST(3) = 1 + 2/3 + 1/3 = 2 exactly;
    RMST(10) = 1 + 2/3 + 2*(1/3) = 2.333...; horizon before the first
    event -> tau exactly; all-censored -> tau exactly."""
    import pytest

    from hadoop_fcfs_spark.ops.stats import restricted_mean_survival

    df = spark.createDataFrame(
        [(1, False), (2, False), (4, False)], "dur int, cens boolean"
    )
    r = restricted_mean_survival(df, "dur", "cens", tau=3).collect()[0]
    assert (r["tau"], r["n_event_times"]) == (3, 3)
    assert r["rmst_micro"] == 2_000_000  # 1 + 2/3 + 1/3
    r = restricted_mean_survival(df, "dur", "cens", tau=10).collect()[0]
    # 1 + (2/3)*1 + (1/3)*2 = 7/3; surv_e6 rounds 2/3 -> 666667
    assert r["rmst_micro"] == 1_000_000 + 666_667 + 2 * 333_333

    df1 = spark.createDataFrame([(5, False)], "dur int, cens boolean")
    r = restricted_mean_survival(df1, "dur", "cens", tau=3).collect()[0]
    assert r["rmst_micro"] == 3_000_000  # event beyond the horizon

    dfc = spark.createDataFrame(
        [(1, True), (2, True)], "dur int, cens boolean"
    )
    r = restricted_mean_survival(dfc, "dur", "cens", tau=7).collect()[0]
    assert r["n_event_times"] == 0 and r["rmst_micro"] == 7_000_000

    with pytest.raises(ValueError):
        restricted_mean_survival(df1, "dur", "cens", tau=0)


def test_dispersion_gate_hand_values(spark, tmp_path):
    """Constant series -> D = 0; a planted burst drives D above 1.
    Exact arithmetic: counts (2,2,2) -> var 0; (1,1,4): n=3, S=6,
    Q=18, D = (54-36)/(2*6) = 1.5."""
    import datetime

    from hadoop_fcfs_spark.queries_agg import dispersion_daily_events

    rows = []
    day0 = datetime.datetime(2024, 1, 1)
    for d in range(3):
        for i in range(2):
            rows.append((d * 10 + i, day0 + datetime.timedelta(days=d),
                         1, "steady", 1.0, "{}"))
    burst = [1, 1, 4]
    eid = 100
    for d, k in enumerate(burst):
        for _ in range(k):
            rows.append((eid, day0 + datetime.timedelta(days=d),
                         1, "bursty", 1.0, "{}"))
            eid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    out = {r["event_type"]: r for r in
           dispersion_daily_events(spark, sf).collect()}
    assert out["steady"]["dispersion_e6"] == 0
    assert out["steady"]["mean_e6"] == 2_000_000
    assert out["bursty"]["dispersion_e6"] == 1_500_000


def test_ccf_lags_hand_values(spark):
    """y is x shifted forward by exactly 1 step (y_{t+1} = x_t): the
    CCF must spike to 1.0 at lag +1 and be < 1 elsewhere; constant y
    -> NULL everywhere (zero variance)."""
    import pytest

    from hadoop_fcfs_spark.ops.timeseries import ccf_lags

    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    rows = [(i, xs[i], xs[i - 1] if i > 0 else 7) for i in range(8)]
    df = spark.createDataFrame(rows, "i int, x int, y int")
    out = {r["lag"]: r for r in ccf_lags(df, "i", "x", "y", 2).collect()}
    assert set(out) == {-2, -1, 0, 1, 2}
    assert out[1]["r_r6"] == 1.0 and out[1]["n_matched"] == 7
    assert all(
        out[l]["r_r6"] is None or out[l]["r_r6"] < 1.0
        for l in (-2, -1, 0, 2)
    )

    const = spark.createDataFrame(
        [(i, xs[i], 5) for i in range(8)], "i int, x int, y int"
    )
    out = ccf_lags(const, "i", "x", "y", 1).collect()
    assert all(r["r_r6"] is None for r in out)

    with pytest.raises(ValueError):
        ccf_lags(df, "i", "x", "y", -1)


def test_theil_indices_hand_values(spark):
    """Perfect equality -> T = L = 0 exactly (every x equals mu, the
    quantized logs cancel). A 2-value replica checked against the
    same quantized-integer arithmetic in pure Python; nonpositive
    rows excluded and counted."""
    import math

    from hadoop_fcfs_spark.ops.stats import theil_indices

    df = spark.createDataFrame([(7,)] * 5, "v int")
    r = theil_indices(df, "v").collect()[0]
    assert (r["n"], r["n_excluded"]) == (5, 0)
    assert r["theil_t_e6"] == 0 and r["mld_e6"] == 0

    vals = [10] * 3 + [1000]
    df = spark.createDataFrame([(v,) for v in vals] + [(0,), (-3,)], "v int")
    r = theil_indices(df, "v").collect()[0]
    assert r["n_excluded"] == 2 and r["n"] == 4
    q = {v: math.floor(math.log(v) * 1e6) for v in set(vals)}
    s = sum(vals)
    lmu = math.floor(math.log(s / 4) * 1e6)
    svq = sum(v * q[v] for v in vals)
    sq = sum(q[v] for v in vals)
    want_t = (svq - s * lmu) // s if (svq - s * lmu) >= 0 else -((-(svq - s * lmu)) // s)
    want_l = (4 * lmu - sq) // 4 if (4 * lmu - sq) >= 0 else -((-(4 * lmu - sq)) // 4)
    assert r["theil_t_e6"] == want_t
    assert r["mld_e6"] == want_l
    # sanity: strong concentration -> clearly positive indices
    assert r["theil_t_e6"] > 500_000 and r["mld_e6"] > 500_000


def test_pr_curve_interp_hand_values(spark):
    """Brute-force replica: enumerate every threshold on the distinct
    scores, compute floor-micro precision, take the interpolated max
    per recall checkpoint — must equal the operator exactly. Scores:
    4 positives at {10, 9, 7, 3}, 4 negatives at {9, 8, 3, 1}
    (ties across classes at 9 and 3)."""
    from hadoop_fcfs_spark.ops.stats import pr_curve_interp

    rows = [(10, 1), (9, 1), (9, 0), (8, 0), (7, 1), (3, 1), (3, 0), (1, 0)]
    df = spark.createDataFrame(rows, "s int, y int")
    out = {
        r["recall_pt"]: r["prec_interp_micro"]
        for r in pr_curve_interp(df, "s", F.col("y") == 1, points=10).collect()
    }
    scores = sorted({s for s, _ in rows})
    n, p = len(rows), sum(y for _, y in rows)
    want = {}
    for rp in range(11):
        best = None
        for v in scores:
            kept = sum(1 for s, _ in rows if s >= v)
            tp = sum(y for s, y in rows if s >= v)
            if tp * 10 >= rp * p:
                prec = tp * 1_000_000 // kept
                best = prec if best is None else max(best, prec)
        want[rp] = best
    assert out == want
    assert out[0] == 1_000_000  # the top score is a lone positive
    assert len(out) == 11

    with pytest.raises(ValueError):
        pr_curve_interp(df, "s", F.col("y") == 1, points=0)


def test_aalen_johansen_hand_values(spark):
    """Pure-Python AJ replica on a hand survival table with two causes
    and censoring; plus the partition identity: with NO censoring,
    CIF_a(t_max) + CIF_b(t_max) == 1 exactly (round-micro)."""
    import math

    from hadoop_fcfs_spark.ops.stats import aalen_johansen

    # (duration, cause): censored rows carry None
    data = [(1, "a"), (1, None), (2, "b"), (2, "a"), (3, None), (4, "b")]
    df = spark.createDataFrame(data, "dur int, cause string")
    out = {
        r["t"]: r for r in aalen_johansen(df, "dur", "cause", ["a", "b"]).collect()
    }
    # replica
    n = len(data)
    grain = {}
    for t_, c in data:
        g = grain.setdefault(t_, {"a": 0, "b": 0, "all": 0})
        g["all"] += 1
        if c:
            g[c] += 1
    at_risk, s, cif = n, 1.0, {"a": 0.0, "b": 0.0}
    want = {}
    for t_ in sorted(grain):
        g = grain[t_]
        d = g["a"] + g["b"]
        for k in ("a", "b"):
            cif[k] += s * g[k] / at_risk
        if d > 0:
            want[t_] = (
                at_risk, g["a"], round(cif["a"] * 1e6),
                g["b"], round(cif["b"] * 1e6),
            )
        s *= 1.0 - d / at_risk
        at_risk -= g["all"]
    assert set(out) == set(want)
    for t_, (nr, da, ca, db, cb) in want.items():
        r = out[t_]
        assert r["n_risk"] == nr and r["d_a"] == da and r["d_b"] == db
        assert abs(r["cif_a_e6"] - ca) <= 1 and abs(r["cif_b_e6"] - cb) <= 1
    # no-censoring partition identity
    full = [(1, "a"), (2, "b"), (2, "a"), (5, "b")]
    df2 = spark.createDataFrame(full, "dur int, cause string")
    rows = aalen_johansen(df2, "dur", "cause", ["a", "b"]).collect()
    last = max(rows, key=lambda r: r["t"])
    assert last["cif_a_e6"] + last["cif_b_e6"] == 1_000_000
    with pytest.raises(ValueError):
        aalen_johansen(df2, "dur", "cause", [])


def test_p_chart_hand_values(spark):
    """Python-replica limits (same single-rounded IEEE ops) on a tiny
    grain; an engineered special-cause cell must flag."""
    import math

    from hadoop_fcfs_spark.ops.stats import p_chart

    # cell 'c' is wildly out of control (9/10 defective vs pooled ~13%)
    cells = {"a": (40, 3), "b": (50, 4), "c": (10, 9)}
    rows = []
    for g, (n_, x_) in cells.items():
        rows += [(g, 1)] * x_ + [(g, 0)] * (n_ - x_)
    df = spark.createDataFrame(rows, "g string, d int")
    out = {r["grain"]: r for r in p_chart(df, "g", F.col("d") == 1).collect()}
    tn = sum(n_ for n_, _ in cells.values())
    tx = sum(x_ for _, x_ in cells.values())
    pbar = tx / tn
    for g, (n_, x_) in cells.items():
        sig = math.sqrt(pbar * (1.0 - pbar) / n_)
        assert out[g]["n"] == n_ and out[g]["x"] == x_
        assert out[g]["rate_e6"] == x_ * 1_000_000 // n_
        assert out[g]["ucl_e6"] == math.floor(1e6 * (pbar + 3 * sig))
        assert out[g]["lcl_e6"] == math.floor(1e6 * max(0.0, pbar - 3 * sig))
    assert out["c"]["out_of_control"]
    assert not out["a"]["out_of_control"] and not out["b"]["out_of_control"]


def test_fellegi_sunter_brute_force(spark):
    """The value-grain product identity vs literal pair enumeration:
    materialize every within-block A×B pair in Python, count
    agreements among matches (same key) and non-matches, and compare
    with the operator's no-pair-table estimates."""
    from hadoop_fcfs_spark.ops.linkage import fellegi_sunter_mu

    a_rows = [  # (key, block, f1, f2)
        (1, "x", "p", 10), (2, "x", "q", 20), (3, "x", "p", 30),
        (4, "y", "r", 10), (5, "y", "p", 10),
    ]
    b_rows = [
        (1, "x", "p", 10), (2, "x", "p", 25), (3, "x", "p", 30),
        (4, "y", "r", 15), (5, "y", "q", 10), (6, "y", "p", 10),
    ]
    a = spark.createDataFrame(a_rows, "k int, blk string, f1 string, f2 int")
    b = spark.createDataFrame(b_rows, "k int, blk string, f1 string, f2 int")
    out = {
        r["field"]: r
        for r in fellegi_sunter_mu(a, b, "k", "blk", ["f1", "f2"]).collect()
    }
    pairs = [
        (ra, rb) for ra in a_rows for rb in b_rows if ra[1] == rb[1]
    ]
    matches = [(ra, rb) for ra, rb in pairs if ra[0] == rb[0]]
    nonm = [(ra, rb) for ra, rb in pairs if ra[0] != rb[0]]
    for i, f in ((2, "f1"), (3, "f2")):
        ma = sum(1 for ra, rb in matches if ra[i] == rb[i])
        ua = sum(1 for ra, rb in nonm if ra[i] == rb[i])
        r = out[f]
        assert r["n_matches"] == len(matches)
        assert r["n_nonmatch_pairs"] == len(nonm)
        assert r["m_e6"] == ma * 1_000_000 // len(matches)
        assert r["u_e6"] == ua * 1_000_000 // len(nonm)
        if r["u_e6"]:
            assert r["lr_e6"] == r["m_e6"] * 1_000_000 // r["u_e6"]
        else:
            assert r["lr_e6"] is None
    with pytest.raises(ValueError):
        fellegi_sunter_mu(a, b, "k", "blk", [])


def test_dedup_watermark_audit_hand_values(spark):
    """Hand arrival sequence exercising all three verdicts. Delay = 10.
    Arrival order (arr, key, ts):
      1: (k1, 100)  first           -> emitted  (no watermark yet)
      2: (k1, 105)  wm=90,  prev=100, 90 <= 110 -> DUP
      3: (k2, 200)  wm=95            -> emitted  (advances max to 200)
      4: (k1, 150)  wm=190 > 150     -> LATE (never reaches dedup)
      5: (k1, 250)  wm=190, prev(surviving)=105, 190 > 115 -> emitted
      6: (k1, 252)  wm=240, prev=250, 240 <= 260 -> DUP"""
    from hadoop_fcfs_spark.ops.timeseries import dedup_watermark_audit

    rows = [
        (1, "k1", 100), (2, "k1", 105), (3, "k2", 200),
        (4, "k1", 150), (5, "k1", 250), (6, "k1", 252),
    ]
    df = spark.createDataFrame(rows, "arr int, k string, us long").select(
        "arr", "k", F.timestamp_micros(F.col("us")).alias("ts")
    )
    out = dedup_watermark_audit(
        df, "arr", "ts", ["k"], delay_us=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 6
    assert r["n_late"] == 1
    assert r["n_dup"] == 2
    assert r["n_emitted"] == 3
    # grouped variant splits by key
    by_key = {
        x["k"]: x
        for x in dedup_watermark_audit(
            df, "arr", "ts", ["k"], delay_us=10, group_cols=["k"]
        ).collect()
    }
    assert by_key["k1"]["n_dup"] == 2 and by_key["k1"]["n_late"] == 1
    assert by_key["k2"]["n_dup"] == 0 and by_key["k2"]["n_emitted"] == 1


def test_dedup_watermark_audit_all_late_group_reported(spark):
    """ADVICE r8: a group whose rows are ALL late has no survivors and
    hence no row in the dup aggregate — the old inner join silently
    dropped the group instead of reporting n_late=n_events, n_dup=0."""
    from hadoop_fcfs_spark.ops.timeseries import dedup_watermark_audit

    rows = [
        (1, "g1", "k1", 1000),   # first arrival: emitted, wm -> 990
        (2, "g2", "k2", 100),    # wm 990 > 100 -> LATE
        (3, "g2", "k2", 105),    # wm 990 > 105 -> LATE
    ]
    df = spark.createDataFrame(
        rows, "arr int, g string, k string, us long"
    ).select("arr", "g", "k", F.timestamp_micros(F.col("us")).alias("ts"))
    out = {
        r["g"]: r
        for r in dedup_watermark_audit(
            df, "arr", "ts", ["k"], delay_us=10, group_cols=["g"]
        ).collect()
    }
    assert set(out) == {"g1", "g2"}
    assert out["g2"]["n_events"] == 2 and out["g2"]["n_late"] == 2
    assert out["g2"]["n_dup"] == 0 and out["g2"]["n_emitted"] == 0
    assert out["g1"]["n_emitted"] == 1


def test_fellegi_sunter_degenerate_blocks(spark):
    """Singleton blocks with matched keys: the non-match pair set is
    EMPTY -> u and lr are NULL, m still estimated; and a field absent
    from matches agrees never (m = 0)."""
    from hadoop_fcfs_spark.ops.linkage import fellegi_sunter_mu

    a = spark.createDataFrame(
        [(1, "b1", "x"), (2, "b2", "y")], "k int, blk string, f1 string"
    )
    b = spark.createDataFrame(
        [(1, "b1", "x"), (2, "b2", "z")], "k int, blk string, f1 string"
    )
    out = fellegi_sunter_mu(a, b, "k", "blk", ["f1"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_matches"] == 2 and r["n_nonmatch_pairs"] == 0
    assert r["m_e6"] == 500_000  # one of two matches agrees
    assert r["u_e6"] is None and r["lr_e6"] is None


def test_pps_ess_survives_bigint_overflow_weights(spark):
    """Σw² past 2^63 must NOT throw under ANSI (found by the r8 sf0.1
    scale pass: cent-squared weights overflow a 3k-row group; DuckDB
    auto-promotes to HUGEINT, Spark needs the DECIMAL(38,0) route).
    Three equal weights of 4e9 -> Σw² = 4.8e19 > 2^63; equal weights
    mean ESS == n exactly."""
    from hadoop_fcfs_spark.ops.sampling import pps_effective_sample_size

    w = 4.0e9
    df = spark.createDataFrame(
        [("g", w)] * 3 + [("h", 1.0), ("h", 1.0)], "grp string, wt double"
    )
    out = {
        r["grp"]: r
        for r in pps_effective_sample_size(df, "grp", "wt", scale=100).collect()
    }
    assert out["g"]["n"] == 3 and out["g"]["ess_r6"] == 3.0
    assert out["g"]["ess_ratio_r6"] == 1.0
    assert out["h"]["ess_r6"] == 2.0


def test_fs_score_pairs_decision_layer(spark):
    """End-to-end FS: estimate m/u on a labeled population, score
    BLOCKED candidate pairs, and check the scores against a pure
    Python replica of the micro-ratio product (same flooring order)
    and the decisions against the thresholds. Covers a decisive
    perfect-discriminator agreement (u = 0), a decisive m = 1e6
    disagreement (score 0), and the neutral NULL-parameter field."""
    from hadoop_fcfs_spark.ops.linkage import fellegi_sunter_mu, fs_score_pairs

    a_rows = [
        (1, "x", "n1", "p"), (2, "x", "n2", "q"), (3, "x", "n3", "p"),
        (4, "y", "n4", "q"), (5, "y", "n5", "p"),
    ]
    b_rows = [
        (1, "x", "n1", "p"), (2, "x", "n2", "p"), (3, "x", "n3", "p"),
        (4, "y", "n4", "q"), (5, "y", "n5", "q"),
    ]
    a = spark.createDataFrame(a_rows, "k int, blk string, name string, seg string")
    b = spark.createDataFrame(b_rows, "k int, blk string, name string, seg string")
    mu = fellegi_sunter_mu(a, b, "k", "blk", ["name", "seg"])
    params = {r["field"]: (r["m_e6"], r["u_e6"]) for r in mu.collect()}
    assert params["name"][1] == 0  # names unique -> perfect discriminator

    pairs = spark.createDataFrame(
        [
            # same name (decisive link via u=0), seg agrees
            (101, "n1", "n1", "p", "p"),
            # different name, seg agrees -> score from both ratios
            (102, "n1", "n2", "p", "p"),
            # different name, seg disagrees
            (103, "n1", "n2", "p", "q"),
        ],
        "pair_id int, name_a string, name_b string, seg_a string, seg_b string",
    )
    out = {r["pair_id"]: r for r in fs_score_pairs(pairs, mu, ["name", "seg"]).collect()}

    def replica(agrees):  # same flooring order as the operator
        score = 1_000_000
        for f, ag in agrees:
            m, u = params[f]
            if m is None or u is None:
                c = 1_000_000
            elif ag:
                c = 1_000_000 if u == 0 else m * 1_000_000 // u
            else:
                c = (
                    1_000_000 if u == 1_000_000
                    else (1_000_000 - m) * 1_000_000 // (1_000_000 - u)
                )
            score = score * c // 1_000_000
        return score

    assert out[101]["decisive_link"] and out[101]["decision"] == "link"
    assert out[101]["score_e6"] == replica([("name", True), ("seg", True)])
    assert out[102]["score_e6"] == replica([("name", False), ("seg", True)])
    assert not out[102]["decisive_link"]
    assert out[103]["score_e6"] == replica([("name", False), ("seg", False)])
    # name m = 1e6 and disagreement drives the name contribution to 0
    assert params["name"][0] == 1_000_000
    assert out[102]["score_e6"] == 0 and out[102]["decision"] == "non-link"
    assert out[103]["decision"] == "non-link"

    with pytest.raises(ValueError):
        fs_score_pairs(pairs, mu, [])
    with pytest.raises(ValueError):
        fs_score_pairs(pairs, mu, ["name"], lo_e6=5, hi_e6=5)


def test_fs_linkage_end_to_end_quality(spark):
    """The composed linkage flow on a corrupted twin population:
    estimate m/u from a labeled slice, generate blocked candidates,
    score + classify — same-entity pairs must dominate the 'link'
    class and decisions must separate ground truth cleanly (the
    linkage analog of the retrieval-eval gates). Candidates here are
    the within-block join (tiny test scale); production feeds LSH /
    fuzzy-join candidates into the same scorer."""
    import random

    from hadoop_fcfs_spark.ops.linkage import fellegi_sunter_mu, fs_score_pairs

    rng = random.Random(5)
    segs = ["s1", "s2", "s3", "s4"]
    a_rows, b_rows = [], []
    for k in range(120):
        blk = f"b{k % 4}"
        name = f"name{k}"
        seg = rng.choice(segs)
        bal = rng.randint(0, 5)
        a_rows.append((k, blk, name, seg, bal))
        b_rows.append((
            k, blk,
            name if rng.random() < 0.9 else f"name{k}x",
            seg if rng.random() < 0.8 else rng.choice(segs),
            bal + (1 if rng.random() < 0.25 else 0),
        ))
    a = spark.createDataFrame(
        a_rows, "k int, blk string, name string, seg string, bal int"
    )
    b = spark.createDataFrame(
        b_rows, "k int, blk string, name string, seg string, bal int"
    )
    fields = ["name", "seg", "bal"]
    mu = fellegi_sunter_mu(a, b, "k", "blk", fields)

    av = a.select(
        F.col("k").alias("ka"), "blk",
        *[F.col(f).alias(f"{f}_a") for f in fields],
    )
    bv = b.select(
        F.col("k").alias("kb"), F.col("blk").alias("blkb"),
        *[F.col(f).alias(f"{f}_b") for f in fields],
    )
    cands = av.join(bv, F.col("blk") == F.col("blkb"))
    scored = fs_score_pairs(cands, mu, fields).withColumn(
        "is_match", F.col("ka") == F.col("kb")
    )
    agg = {
        (r["is_match"], r["decision"]): r["n"]
        for r in scored.groupBy("is_match", "decision")
        .agg(F.count("*").alias("n")).collect()
    }
    links_true = agg.get((True, "link"), 0)
    links_false = agg.get((False, "link"), 0)
    nonlinks_true = agg.get((True, "non-link"), 0)
    n_match = sum(v for (m, _), v in agg.items() if m)
    assert n_match == 120
    # recall: most true pairs classify as link; precision: links are clean
    assert links_true >= 0.7 * n_match, agg
    assert links_false <= 0.02 * (links_false + agg.get((False, "non-link"), 0) + agg.get((False, "possible"), 0)), agg
    assert nonlinks_true <= 0.1 * n_match, agg


def test_fs_score_pairs_saturates_instead_of_overflowing(spark):
    """ADVICE r8: per-field contributions reach 1e12 micros (m=1e6
    over u=1) while the running product rescales by only 1e6/field, so
    an unclamped 4-strong-field agreement is 1e30 — past BIGINT (ANSI
    throw) on exactly the strongest-link pairs. The score must
    saturate at the 1e15 ceiling and still decide 'link'."""
    from hadoop_fcfs_spark.ops.linkage import _SCORE_CAP_E6, fs_score_pairs

    fields = ["f1", "f2", "f3", "f4"]
    mu = spark.createDataFrame(
        [(f, 1_000_000, 1) for f in fields],
        "field string, m_e6 long, u_e6 long",
    )
    pairs = spark.createDataFrame(
        [(1, "v", "v", "v", "v", "v", "v", "v", "v")],
        "pair_id int, f1_a string, f1_b string, f2_a string, f2_b string,"
        " f3_a string, f3_b string, f4_a string, f4_b string",
    )
    r = fs_score_pairs(pairs, mu, fields).collect()[0]
    assert r["score_e6"] == _SCORE_CAP_E6
    assert r["decision"] == "link" and not r["decisive_link"]
    with pytest.raises(ValueError):
        fs_score_pairs(pairs, mu, fields, hi_e6=_SCORE_CAP_E6)


def test_fellegi_sunter_cross_block_match_excluded(spark):
    """ADVICE r8: a matched pair whose two views land in DIFFERENT
    blocks (corrupted blocking attribute) is outside the within-block
    pair universe and must count as neither match nor non-match — the
    old key-only match join counted its agreements into __magree and
    pushed __ua to -1 here."""
    from hadoop_fcfs_spark.ops.linkage import fellegi_sunter_mu

    a = spark.createDataFrame(
        [(1, "b1", "x"), (2, "b1", "y")], "k int, blk string, f1 string"
    )
    b = spark.createDataFrame(
        [(1, "b2", "x"), (2, "b1", "y")], "k int, blk string, f1 string"
    )
    r = fellegi_sunter_mu(a, b, "k", "blk", ["f1"]).collect()[0]
    # pair universe = block b1: {a1,a2} x {b-key2} -> 1 match + 1 nonmatch
    assert r["n_matches"] == 1
    assert r["n_nonmatch_pairs"] == 1
    assert r["m_e6"] == 1_000_000  # key 2 agrees on f1
    assert r["u_e6"] == 0          # (a1, b-key2) disagrees; never negative
    assert r["lr_e6"] is None


def test_cusum_chart_matches_sequential_recursion(spark):
    """The closed form C_t = S_t - min(0, min prefix S) vs the literal
    textbook recursion C_t = max(0, C_{t-1} + s_t), replayed in Python
    on a random daily series (both sides, exact integer slacks)."""
    import random

    from hadoop_fcfs_spark.ops.stats import cusum_chart

    rng = random.Random(9)
    rows = []
    for day in range(40):
        n = rng.randint(5, 40)
        x = rng.randint(0, n)
        rows += [("d%03d" % day, i < x) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, bad boolean")
    out = {
        r["grain"]: r
        for r in cusum_chart(
            df, "g", F.col("bad"), slack_e6=20_000, h_e6=2_000_000
        ).collect()
    }
    per_day = {}
    for g, bad in rows:
        n, x = per_day.get(g, (0, 0))
        per_day[g] = (n + 1, x + (1 if bad else 0))
    tn = sum(n for n, _ in per_day.values())
    tx = sum(x for _, x in per_day.values())
    pbar = tx * 1_000_000 // tn
    cu = cd = 0
    for g in sorted(per_day):
        n, x = per_day[g]
        cu = max(0, cu + x * 1_000_000 - n * (pbar + 20_000))
        cd = max(0, cd + n * (pbar - 20_000) - x * 1_000_000)
        r = out[g]
        assert r["cusum_up_e6"] == cu, g
        assert r["cusum_dn_e6"] == cd, g
        assert r["alarm_up"] == (cu > 2_000_000), g
        assert r["alarm_dn"] == (cd > 2_000_000), g
    with pytest.raises(ValueError):
        cusum_chart(df, "g", F.col("bad"), slack_e6=-1)
    with pytest.raises(ValueError):
        cusum_chart(df, "g", F.col("bad"), h_e6=0)


def test_ewma_chart_matches_python_kernel_and_recursion(spark):
    """ewma_chart vs an independent Python replay of the documented
    closed form (20-step dyadic kernel, truncated-tail + gap-day mass
    to the pooled center), on a series WITH calendar gaps; and on the
    dense tail the chart stays within the truncation bound of the
    literal textbook recursion Z_t = (r_t + Z_{t-1}) / 2 seeded at
    p-bar (tail weight 2^-20 of the micro-rate range)."""
    import random

    from hadoop_fcfs_spark.ops.stats import ewma_chart

    rng = random.Random(10)
    days = sorted(rng.sample(range(100, 200), 70))  # gappy calendar
    rows = []
    for d in days:
        n = rng.randint(5, 40)
        x = rng.randint(0, n)
        rows += [(d, i < x) for i in range(n)]
    df = spark.createDataFrame(rows, "d int, bad boolean")
    W, H = 20, 50_000
    out = {
        r["n_idx"]: r
        for r in ewma_chart(
            df, "d", F.col("bad"), idx_alias="n_idx", window=W, h_e6=H
        ).collect()
    }
    per_day = {}
    for d, bad in rows:
        n, x = per_day.get(d, (0, 0))
        per_day[d] = (n + 1, x + (1 if bad else 0))
    tn = sum(n for n, _ in per_day.values())
    tx = sum(x for _, x in per_day.values())
    pbar = tx * 1_000_000 // tn
    rate = {d: x * 1_000_000 // n for d, (n, x) in per_day.items()}
    z_seq = {}  # literal recursion over the calendar, gaps decay to pbar
    z = pbar
    for d in range(min(days), max(days) + 1):
        z = (rate.get(d, pbar) + z) / 2  # gap days pull toward center
        z_seq[d] = z
    for d in sorted(per_day):
        wsum = wtot = 0
        for k in range(W):
            j = d - k
            if j in rate:
                w = 1 << (W - 1 - k)
                wsum += rate[j] * w
                wtot += w
        expect = (wsum + ((1 << W) - wtot) * pbar) // (1 << W)
        r = out[d]
        assert r["ewma_e6"] == expect, d
        assert r["rate_e6"] == rate[d] and (r["n"], r["x"]) == per_day[d]
        assert r["alarm_up"] == (expect > pbar + H), d
        assert r["alarm_dn"] == (expect < pbar - H), d
        # vs the literal recursion: truncation + flooring bound only
        # (the recursion decays gaps toward pbar too, so they agree
        # up to the 2^-W tail of the micro-rate range plus 1 floor)
        assert abs(expect - z_seq[d]) <= 1_000_000 / (1 << W) + 1, d
    # negative grid indices (pre-1970 days): the truncating-cast chunk
    # cell around zero is WIDER than the window, so the band self-join
    # still crosses at most one chunk boundary — values must match the
    # same Python kernel
    neg_days = [-31, -30, -27, -22, -21, -20, -19, -3, -1, 0, 1, 5]
    nrows = [(d, i < (abs(d) % 4)) for d in neg_days for i in range(4)]
    ndf = spark.createDataFrame(nrows, "d int, bad boolean")
    nout = {
        r["n_idx"]: r["ewma_e6"]
        for r in ewma_chart(
            ndf, "d", F.col("bad"), idx_alias="n_idx", window=W, h_e6=H
        ).collect()
    }
    nper = {d: (4, abs(d) % 4) for d in neg_days}
    ntn = sum(n for n, _ in nper.values())
    ntx = sum(x for _, x in nper.values())
    npbar = ntx * 1_000_000 // ntn
    nrate = {d: x * 1_000_000 // n for d, (n, x) in nper.items()}
    for d in neg_days:
        wsum = wtot = 0
        for k in range(W):
            if d - k in nrate:
                w = 1 << (W - 1 - k)
                wsum += nrate[d - k] * w
                wtot += w
        assert nout[d] == (wsum + ((1 << W) - wtot) * npbar) // (1 << W), d

    with pytest.raises(ValueError):
        ewma_chart(df, "d", F.col("bad"), window=0)
    with pytest.raises(ValueError):
        ewma_chart(df, "d", F.col("bad"), h_e6=0)


def test_pr_auc_matches_literal_enumeration(spark):
    """pr_auc vs literal threshold enumeration with per-term flooring
    (grouped-ties AP), plus the all-negative input -> NULL ap."""
    import random

    from hadoop_fcfs_spark.ops.stats import pr_auc

    rng = random.Random(17)
    rows = [
        (rng.choice([1.0, 2.0, 3.5, 4.0, 7.25]), rng.random() < 0.3)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = pr_auc(df, "s", F.col("y")).collect()[0]
    n = len(rows)
    p = sum(1 for _, y in rows if y)
    expect = 0
    for v in sorted({s for s, _ in rows}):
        kept = sum(1 for s, _ in rows if s >= v)
        tp = sum(1 for s, y in rows if s >= v and y)
        d_ca = sum(1 for s, y in rows if s == v and y)
        if d_ca > 0 and p > 0:
            expect += tp * d_ca * 1_000_000 // (kept * p)
    assert r["n"] == n and r["n_pos"] == p and r["ap_e6"] == expect
    # a perfect ranking's AP is exactly 1 (every term at precision 1)
    perf = spark.createDataFrame(
        [(2.0, True)] * 5 + [(1.0, False)] * 5, "s double, y boolean"
    )
    assert pr_auc(perf, "s", F.col("y")).collect()[0]["ap_e6"] == 1_000_000
    none = spark.createDataFrame([(1.0, False), (2.0, False)], "s double, y boolean")
    assert pr_auc(none, "s", F.col("y")).collect()[0]["ap_e6"] is None
    # empty slice (no non-null score/label rows): (0, 0, NULL), not NULLs
    empty = spark.createDataFrame(
        [(None, True), (1.0, None)], "s double, y boolean"
    )
    er = pr_auc(empty, "s", F.col("y")).collect()[0]
    assert (er["n"], er["n_pos"], er["ap_e6"]) == (0, 0, None)


def test_gray_test_subdistribution_risk_sets(spark):
    """gray_test vs a literal Python replica on hand competing-risks
    data, including the discriminating property log-rank lacks: a
    competing-cause exit does NOT leave the target cause's risk set
    (its subject stays in Y* at every later time)."""
    from hadoop_fcfs_spark.ops.stats import gray_test

    rows = [  # (grp, t, cause)
        ("a", 1, "conv"), ("a", 2, "err"), ("a", 4, "conv"), ("a", 5, None),
        ("b", 1, "err"), ("b", 3, "conv"), ("b", 4, "err"), ("b", 6, None),
        ("b", 2, "conv"),
    ]
    df = spark.createDataFrame(rows, "grp string, t int, cause string")
    r = gray_test(df, "t", "cause", "conv", "grp", "a", "b").collect()[0]
    n1 = sum(1 for g, _, _ in rows if g == "a")
    n2 = sum(1 for g, _, _ in rows if g == "b")
    times = sorted({t for _, t, c in rows if c == "conv"})
    o1 = e9 = v9 = 0
    import math
    for t_ in times:
        d1 = sum(1 for g, t, c in rows if g == "a" and t == t_ and c == "conv")
        d2 = sum(1 for g, t, c in rows if g == "b" and t == t_ and c == "conv")
        # subdistribution risk set: everyone except PRIOR conv exits
        r1 = n1 - sum(1 for g, t, c in rows if g == "a" and t < t_ and c == "conv")
        r2 = n2 - sum(1 for g, t, c in rows if g == "b" and t < t_ and c == "conv")
        d, y = d1 + d2, r1 + r2
        o1 += d1
        e9 += math.floor(d * r1 / y * 1e9)
        if y > 1:
            v9 += math.floor(d * (r1 / y) * (1 - r1 / y) * ((y - d) / (y - 1)) * 1e9)
    assert (r["n_1"], r["n_2"], r["o_1"]) == (n1, n2, o1)
    assert r["e1_e9"] == e9 and r["v_e9"] == v9
    assert r["z_e6"] == math.floor((o1 * 10**9 - e9) / math.sqrt(1e9 * v9) * 1e6)
    # zero target-cause exits: totals still reported, z NULL
    noconv = spark.createDataFrame(
        [("a", 1, "err"), ("b", 2, None)], "grp string, t int, cause string"
    )
    r0 = gray_test(noconv, "t", "cause", "conv", "grp", "a", "b").collect()[0]
    assert (r0["n_1"], r0["n_2"]) == (1, 1)
    assert r0["z_e6"] is None


def test_mondrian_conformal_audit_hand(spark):
    """Hand split: per-group (Mondrian) thresholds vs the marginal one
    on the calib slice, coverage counted on the test slice; a group
    too small to conformalize reports NULL Mondrian coverage."""
    from hadoop_fcfs_spark.ops.stats import mondrian_conformal_audit

    rows = []
    # group g: calib values 1..19 -> idx = ceil(20*0.9) = 18
    rows += [("g", float(v), True) for v in range(1, 20)]
    rows += [("g", float(v), False) for v in (5.0, 18.5, 100.0)]
    # group h: huge values, same structure -> its own threshold 1800
    rows += [("h", float(v * 100), True) for v in range(1, 20)]
    rows += [("h", 500.0, False), ("h", 1850.0, False)]
    # group s: 2 calib rows only -> idx 3 > n -> NULL threshold
    rows += [("s", 1.0, True), ("s", 2.0, True), ("s", 1.5, False)]
    df = spark.createDataFrame(rows, "g string, v double, calib boolean")
    out = {
        r["g"]: r
        for r in mondrian_conformal_audit(
            df, "g", "v", F.col("calib"), alpha_permille=100
        ).collect()
    }
    assert out["g"]["thr_mondrian"] == 18.0
    assert out["h"]["thr_mondrian"] == 1800.0
    assert out["s"]["thr_mondrian"] is None
    # marginal: 40 calib values -> idx ceil(41*0.9) = 37
    allv = sorted(v for _, v, c in rows if c)
    thr_g = allv[36]
    for g in ("g", "h", "s"):
        assert out[g]["thr_marginal"] == thr_g
    # g test values (5.0, 18.5, 100.0) vs thr 18.0 -> only 5.0 covered
    assert out["g"]["cov_mondrian_e6"] == 1_000_000 // 3
    assert out["g"]["cov_marginal_e6"] == 1_000_000  # marginal overcovers g
    assert out["h"]["cov_mondrian_e6"] == 500_000
    assert out["h"]["cov_marginal_e6"] == 500_000
    assert out["s"]["cov_mondrian_e6"] is None
    assert out["s"]["cov_marginal_e6"] == 1_000_000


def test_heaps_exponent_matches_integer_ols(spark):
    """heaps_exponent vs the integer OLS replica over the
    heaps_vocab_growth curve it summarizes."""
    import math

    from hadoop_fcfs_spark.llm.textan import heaps_exponent, heaps_vocab_growth

    rows = [
        (i, " ".join("w%d" % (j * (i + 1) % 97) for j in range(5 + i % 7)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    curve = heaps_vocab_growth(df, "doc_id", "text", deciles=10).collect()
    pts = [
        (math.floor(math.log(r["n_tokens"]) * 1e6),
         math.floor(math.log(r["vocab_size"]) * 1e6))
        for r in curve if r["n_tokens"] > 0 and r["vocab_size"] > 0
    ]
    k = len(pts)
    su = sum(u for u, _ in pts)
    sw = sum(w for _, w in pts)
    suu = sum(u * u for u, _ in pts)
    suw = sum(u * w for u, w in pts)
    num, den = k * suw - su * sw, k * suu - su * su
    r = heaps_exponent(df, "doc_id", "text", deciles=10).collect()[0]
    assert r["n_points"] == k
    assert r["heaps_beta_e6"] == (num * 1_000_000) // den
    assert 0 < r["heaps_beta_e6"] < 1_000_000  # sublinear growth


def test_pinball_loss_hand_values(spark):
    """Exact pinball arithmetic at q=250 against hand sums, grouped
    and global, plus the q-validation."""
    from hadoop_fcfs_spark.ops.stats import pinball_loss

    rows = [("g", 100, 80), ("g", 70, 80), ("h", 50, 50), ("h", 10, 40)]
    df = spark.createDataFrame(rows, "g string, a long, p long")
    out = {
        r["g"]: r
        for r in pinball_loss(df, "a", "p", 250, group_col="g").collect()
    }
    # g: a>=p -> 250*20 = 5000 ; a<p -> 750*10 = 7500
    assert out["g"]["pinball_total_milli"] == 12_500
    assert out["g"]["pinball_mean_milli"] == 6_250
    # h: exact hit costs 0; under-prediction 750*30
    assert out["h"]["pinball_total_milli"] == 22_500
    g = pinball_loss(df, "a", "p", 250).collect()[0]
    assert g["n"] == 4 and g["pinball_total_milli"] == 35_000
    with pytest.raises(ValueError):
        pinball_loss(df, "a", "p", 0)


def test_sprt_audit_crossing_and_decision(spark):
    """SPRT on constructed streams: an H1-rate stream crosses the
    upper bound at the first sufficient prefix, an H0-rate stream the
    lower, a knife-edge stream continues; crossing cells match a
    Python replica of the integer walk."""
    import math

    from hadoop_fcfs_spark.ops.stats import sprt_audit

    l1 = math.floor(math.log(600000 / 400000) * 1e6)
    l0 = math.floor(math.log(400000 / 600000) * 1e6)
    assert l1 > 0 > l0

    def run(rows, a=1_000_000, b=-1_000_000):
        df = spark.createDataFrame(rows, "g string, ok boolean")
        return sprt_audit(
            df, "g", F.col("ok"), p0_e6=400_000, p1_e6=600_000,
            a_e6=a, b_e6=b,
        ).collect()[0]

    # all successes: S after t cells = t*l1 -> first crossing where
    # t*l1 >= 1e6
    rows = [("c%02d" % t, True) for t in range(10)]
    r = run(rows)
    t_cross = next(t for t in range(1, 11) if t * l1 >= 1_000_000)
    assert r["decision"] == "accept_h1"
    assert r["first_h1"] == "c%02d" % (t_cross - 1)
    assert r["llr_end_e6"] == 10 * l1
    # all failures mirror to H0
    r0 = run([("c%02d" % t, False) for t in range(10)])
    assert r0["decision"] == "accept_h0" and r0["first_h1"] is None
    # alternating pairs hover near 0: continue
    rc = run([("c%02d" % t, t % 2 == 0) for t in range(10)])
    assert rc["decision"] == "continue"
    assert rc["first_h1"] is None and rc["first_h0"] is None
    with pytest.raises(ValueError):
        run(rows, a=-1, b=-2)


def test_bh_fdr_step_up_rule(spark):
    """The textbook BH subtlety: a p-value ABOVE its own line is still
    rejected when a later rank crosses (step-up), and the k_max
    cutoff matches literal enumeration."""
    from hadoop_fcfs_spark.ops.stats import bh_fdr

    # m=10, alpha=0.2: lines are r*20000*... p_e6 <= r*alpha_e6/m
    ps = [5_000, 180_000, 150_000, 900_000, 950_000,
          960_000, 970_000, 980_000, 990_000, 1_000_000]
    df = spark.createDataFrame(
        [("u%02d" % i, p) for i, p in enumerate(ps)], "u string, p long"
    )
    out = {
        r["u"]: r for r in bh_fdr(df, "u", "p", alpha_e6=200_000).collect()
    }
    # sorted: 5k(r1), 150k(r2), 180k(r3), ... ; condition p*m <= r*alpha:
    # r1: 50k <= 200k ok; r2: 1.5M <= 400k no; r3: 1.8M <= 600k no
    # -> k_max = 1? No: check r3 first: 180k*10=1.8M > 3*200k=600k.
    assert out["u00"]["rejected"]
    assert not out["u02"]["rejected"] and not out["u01"]["rejected"]
    # now drop p2/p3 so the step-up picks BOTH: p2=55k, p3=60k:
    # r2: 550k > 400k? yes no... use alpha bigger: p*m <= r*alpha with
    # p2=75k (750k <= 800k at r=4? construct precisely below)
    ps2 = [10_000, 80_000, 59_000, 900_000]
    df2 = spark.createDataFrame(
        [("u%d" % i, p) for i, p in enumerate(ps2)], "u string, p long"
    )
    out2 = {
        r["u"]: r for r in bh_fdr(df2, "u", "p", alpha_e6=120_000).collect()
    }
    # m=4; sorted: 10k(r1) 59k(r2) 80k(r3) 900k(r4)
    # r1: 40k <= 120k Y; r2: 236k <= 240k Y; r3: 320k <= 360k Y -> k=3
    # r2's own line holds, r3 crosses; ALL of r1..r3 rejected
    assert out2["u0"]["rejected"] and out2["u2"]["rejected"] and out2["u1"]["rejected"]
    assert not out2["u3"]["rejected"]
    assert out2["u1"]["rank"] == 3  # 80k sorts third


def test_krippendorff_alpha_literature_example(spark):
    """Krippendorff's nominal example shape: perfect agreement -> 1;
    constant ratings -> NULL (De = 0); a hand grid with missingness
    matches the literal coincidence-matrix computation."""
    from hadoop_fcfs_spark.ops.stats import krippendorff_alpha

    perfect = spark.createDataFrame(
        [(u, "a") for u in range(3)] * 2 + [(9, "b"), (9, "b")],
        "u long, l string",
    )
    r = krippendorff_alpha(perfect, "u", "l").collect()[0]
    assert r["alpha_e6"] == 1_000_000
    const = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "a")], "u long, l string"
    )
    assert krippendorff_alpha(const, "u", "l").collect()[0]["alpha_e6"] is None

    # hand grid: u1: a,a,b (m=3); u2: a,b (m=2); u3: c (unpairable)
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "c")]
    df = spark.createDataFrame(rows, "u long, l string")
    out = krippendorff_alpha(df, "u", "l").collect()[0]
    assert out["n_units_pairable"] == 2 and out["n_pairable"] == 5
    # doN = floor((9-5)*1e6/2) + floor((4-2)*1e6/1) = 2e6 + 2e6
    # deD = n^2 - sum nc^2 = 25 - (9+4) = 12
    # alpha = 1e6 - 4e6*4 // 12 = 1e6 - 1333333 = -333333
    assert out["alpha_e6"] == -333_333


def test_yule_k_hand_values(spark):
    """K = 1e4*(Sum f^2 - N)/N^2 against a hand frequency table, and
    the all-hapax floor (every word once -> K = 0)."""
    from hadoop_fcfs_spark.llm.textan import yule_k

    tf = spark.createDataFrame(
        [("a", 4), ("b", 2), ("c", 1), ("d", 1)], "w string, n long"
    )
    r = yule_k(tf, "w", "n").collect()[0]
    # N=8, S2=16+4+1+1=22 -> K_e3 = (22-8)*1e7 // 64 = 2187500
    assert r["vocab_size"] == 4 and r["n_tokens"] == 8
    assert r["yule_k_e3"] == 2_187_500
    hapax = spark.createDataFrame(
        [("w%d" % i, 1) for i in range(5)], "w string, n long"
    )
    assert yule_k(hapax, "w", "n").collect()[0]["yule_k_e3"] == 0


def test_youden_j_matches_literal_enumeration(spark):
    """youden_j vs literal threshold enumeration (exact floored
    TPR/FPR micros, min-threshold tie-break), the perfect-separation
    J = 1 case, and the one-class / empty NULL contracts."""
    import random

    from hadoop_fcfs_spark.ops.stats import youden_j

    rng = random.Random(23)
    rows = [
        (rng.choice([1.0, 2.0, 3.5, 4.0, 7.25, 9.5]), rng.random() < 0.4)
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = youden_j(df, "s", F.col("y")).collect()[0]
    n = len(rows)
    p = sum(1 for _, y in rows if y)
    best = None
    best_v = None
    for v in sorted({s for s, _ in rows}):
        tp = sum(1 for s, y in rows if s >= v and y)
        fp = sum(1 for s, y in rows if s >= v and not y)
        jv = tp * 1_000_000 // p - fp * 1_000_000 // (n - p)
        if best is None or jv > best:
            best, best_v = jv, v
    assert (r["n"], r["n_pos"]) == (n, p)
    assert r["j_e6"] == best and r["threshold"] == best_v
    # perfect separation: J = 1 exactly at the positive class's min
    perf = spark.createDataFrame(
        [(5.0, True)] * 4 + [(1.0, False)] * 6, "s double, y boolean"
    )
    pr = youden_j(perf, "s", F.col("y")).collect()[0]
    assert pr["j_e6"] == 1_000_000 and pr["threshold"] == 5.0
    # one class only -> NULL J and threshold, counts still real
    onec = spark.createDataFrame(
        [(1.0, True), (2.0, True)], "s double, y boolean"
    )
    oc = youden_j(onec, "s", F.col("y")).collect()[0]
    assert (oc["n"], oc["n_pos"], oc["j_e6"], oc["threshold"]) == (
        2, 2, None, None,
    )
    empty = spark.createDataFrame(
        [(None, True), (1.0, None)], "s double, y boolean"
    )
    er = youden_j(empty, "s", F.col("y")).collect()[0]
    assert (er["n"], er["n_pos"], er["j_e6"], er["threshold"]) == (
        0, 0, None, None,
    )


def test_run_rules_matches_sequential_replay(spark):
    """run_rules vs a literal Python replay of the gaps-and-islands
    semantics (side of the flooring pooled center, consecutive-run
    lengths, rule-2 flags) on a series engineered to contain an
    above-center run of exactly 9, a broken run, and center-line
    points (side 0 — run breakers, never flagged)."""
    from hadoop_fcfs_spark.ops.stats import run_rules

    # n=4 per day, 20 days, Σx = 40 → pooled center EXACTLY 500000:
    # 3/4 days sit above (+1), 1/4 below (−1), 2/4 ON center (side 0)
    xs = [3] * 9 + [1, 2, 1, 1, 1, 1, 1, 2, 1, 1, 1]
    rows = [
        ("d%03d" % i, j < x) for i, x in enumerate(xs) for j in range(4)
    ]
    df = spark.createDataFrame(rows, "g string, bad boolean")
    got = {
        r["grain"]: r
        for r in run_rules(df, "g", F.col("bad"), min_run=9).collect()
    }
    tn, tx = 4 * len(xs), sum(xs)
    pbar = tx * 1_000_000 // tn
    sides = []
    for x in xs:
        rate = x * 1_000_000 // 4
        sides.append(0 if rate == pbar else (1 if rate > pbar else -1))
    # literal island replay
    runs = []
    i = 0
    while i < len(sides):
        j = i
        while j < len(sides) and sides[j] == sides[i]:
            j += 1
        runs.append((i, j, sides[i]))
        i = j
    for (a, b, side) in runs:
        for k in range(a, b):
            g = "d%03d" % k
            assert got[g]["side"] == side, g
            assert got[g]["run_len"] == b - a, g
            assert got[g]["rule2"] == (side != 0 and b - a >= 9), g
    # the engineered 9-run is flagged, the 2/4 days are side-0 breakers
    assert got["d000"]["rule2"] and got["d008"]["rule2"]
    assert not got["d009"]["rule2"]
    assert got["d010"]["side"] == 0 and not got["d010"]["rule2"]
    assert got["d016"]["side"] == 0 and not got["d016"]["rule2"]
    with pytest.raises(ValueError):
        run_rules(df, "g", F.col("bad"), min_run=1)


def test_token_entropy_hand_values(spark):
    """H = ln N − (Σ f·ln f)/N with floor-micro per-term logs against
    an independent Python replay; the uniform ceiling (every term
    equal count → efficiency exactly 1e6); the single-type floor
    (H = 0, efficiency NULL)."""
    import math

    from hadoop_fcfs_spark.llm.textan import token_entropy

    tf = spark.createDataFrame(
        [("a", 40), ("b", 20), ("c", 3), ("d", 1)], "w string, n long"
    )
    r = token_entropy(tf, "w", "n").collect()[0]
    n = 64
    sfl = sum(f * math.floor(math.log(f) * 1e6) for f in (40, 20, 3, 1))
    h = math.floor(math.log(n) * 1e6) - sfl // n
    eff = h * 1_000_000 // math.floor(math.log(4) * 1e6)
    assert (r["vocab_size"], r["n_tokens"]) == (4, n)
    assert r["entropy_e6"] == h and r["efficiency_e6"] == eff
    uniform = spark.createDataFrame(
        [("w%d" % i, 8) for i in range(16)], "w string, n long"
    )
    u = token_entropy(uniform, "w", "n").collect()[0]
    # ln(128) - ln(8) = ln(16): quantization of both sides cancels to
    # within 1 micro; efficiency is exactly 1e6 minus at most 2 micros
    assert abs(u["entropy_e6"] - math.log(16) * 1e6) <= 2
    assert 999_998 <= u["efficiency_e6"] <= 1_000_000
    single = spark.createDataFrame([("a", 9)], "w string, n long")
    s = token_entropy(single, "w", "n").collect()[0]
    assert s["entropy_e6"] == 0 and s["efficiency_e6"] is None


def test_simpson_diversity_hand_values(spark):
    """D = Sum f(f-1) / (N(N-1)) against a hand frequency table, the
    all-hapax floor (D = 0), the N <= 1 NULL contract, and the
    asymptotic tie to Yule's K (K ~ 1e4*D) on the same table."""
    from hadoop_fcfs_spark.llm.textan import simpson_diversity, yule_k

    tf = spark.createDataFrame(
        [("a", 4), ("b", 2), ("c", 1), ("d", 1)], "w string, n long"
    )
    r = simpson_diversity(tf, "w", "n").collect()[0]
    # N=8, Sum f(f-1)=12+2+0+0=14 -> d_e9 = 14*1e9 // 56 = 250_000_000
    assert r["vocab_size"] == 4 and r["n_tokens"] == 8
    assert r["simpson_d_e9"] == 250_000_000
    hapax = spark.createDataFrame(
        [("w%d" % i, 1) for i in range(5)], "w string, n long"
    )
    assert simpson_diversity(hapax, "w", "n").collect()[0]["simpson_d_e9"] == 0
    single = spark.createDataFrame([("a", 1)], "w string, n long")
    assert simpson_diversity(single, "w", "n").collect()[0]["simpson_d_e9"] is None
    # K = 1e4*(Sum f^2 - N)/N^2 and D = Sum f(f-1)/(N(N-1)) share the
    # numerator Sum f(f-1), so K_e3*100 = D_e9*(N-1)/N up to flooring
    k = yule_k(tf, "w", "n").collect()[0]["yule_k_e3"]  # (22-8)*1e7//64
    d = r["simpson_d_e9"]
    assert abs(k * 100 - d) <= d // 8 + 1_000  # gap is exactly D_e9/N


def test_herdan_c_hand_values(spark):
    """C = ln V / ln N with floor-micro quantized logs against an
    independent Python replay; the all-hapax ceiling (V = N -> C
    exactly 1e6); and the N <= 1 NULL contract."""
    import math

    from hadoop_fcfs_spark.llm.textan import herdan_c

    tf = spark.createDataFrame(
        [("a", 40), ("b", 20), ("c", 3), ("d", 1)], "w string, n long"
    )
    r = herdan_c(tf, "w", "n").collect()[0]
    v, n = 4, 64
    expect = math.floor(math.log(v) * 1e6) * 1_000_000 // math.floor(
        math.log(n) * 1e6
    )
    assert (r["vocab_size"], r["n_tokens"]) == (v, n)
    assert r["herdan_c_e6"] == expect
    hapax = spark.createDataFrame(
        [("w%d" % i, 1) for i in range(7)], "w string, n long"
    )
    assert herdan_c(hapax, "w", "n").collect()[0]["herdan_c_e6"] == 1_000_000
    single = spark.createDataFrame([("a", 1)], "w string, n long")
    assert herdan_c(single, "w", "n").collect()[0]["herdan_c_e6"] is None


def test_pydaemon_rereads_zip_directory_only_when_changed(tmp_path, monkeypatch):
    """The worker daemon's zip invalidation re-reads an archive's
    directory once, skips it while the archive is unchanged, and reads
    it again (picking up a new module) once the archive changes."""
    import zipfile
    import zipimport

    from hadoop_fcfs_spark import pydaemon

    reads = []
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(pydaemon, "_reread", lambda imp: (reads.append(1), original(imp)))
    z = tmp_path / "mods.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("a.py", "x = 1\n")
    imp = zipimport.zipimporter(str(z))
    pydaemon._invalidate_if_changed(imp)
    pydaemon._invalidate_if_changed(imp)
    assert len(reads) == 1
    with zipfile.ZipFile(z, "a") as f:
        f.writestr("b.py", "y = 2\n")
    assert imp.find_spec("b") is None  # the importer still holds the old directory
    pydaemon._invalidate_if_changed(imp)
    assert len(reads) == 2
    assert imp.find_spec("b") is not None


def test_python_tasks_run_under_package_daemon(spark):
    """get_spark's Python workers are forked from hadoop_fcfs_spark.pydaemon
    and carry its zip invalidation."""

    def probe(_):
        import sys
        import zipimport

        spec = getattr(sys.modules["__main__"], "__spec__", None)
        return (getattr(spec, "name", None), zipimport.zipimporter.invalidate_caches.__name__)

    got = set(spark.sparkContext.parallelize(range(4), 2).map(probe).collect())
    assert got == {("hadoop_fcfs_spark.pydaemon", "_invalidate_if_changed")}
