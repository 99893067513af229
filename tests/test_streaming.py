"""Streaming execution tests: the batch twins are oracle-checked in
test_oracle_parity; here the SAME operators run under readStream with
the memory sink, plus the custom stateful operator and TeraSort
generate→sort→validate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_fcfs_spark.bench.tera import teragen, terasort, teravalidate
from hadoop_fcfs_spark.streaming.sessionize import running_counts_stateful, sessionize
from hadoop_fcfs_spark.streaming.windows import (
    run_to_memory,
    session_window_agg,
    stream_from_dir,
    tumbling_agg,
)
from hadoop_fcfs_spark.tables import t
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Finite micro-batch source: the sf0.001 events as a parquet dir
    (micros timestamps, streamable)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    t(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _events_schema(spark, path):
    return spark.read.parquet(path).schema


def test_streaming_tumbling_equals_batch(spark, events_dir):
    batch = t(spark, SF_SMOKE, "events")
    expected = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_agg(batch, "ts", "1 hour", "event_type").collect()
    }
    stream = stream_from_dir(spark, events_dir, _events_schema(spark, events_dir))
    agg = tumbling_agg(stream.withWatermark("ts", "1 hour"), "ts", "1 hour", "event_type")
    q = run_to_memory(agg, "tumbling_out", output_mode="complete")
    try:
        got = {
            (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_streaming_sliding_equals_batch(spark, events_dir):
    """Sliding windows (2h/1h — each event in two windows) under the
    live engine equal the batch twin exactly: the one window family
    that had no live bridge yet (tumbling/session/interval-join were
    bridged r1–r9)."""
    from hadoop_fcfs_spark.streaming.windows import sliding_agg

    batch = t(spark, SF_SMOKE, "events")
    expected = {
        r["win_start"]: (r["n_events"], round(r["sum_value"], 6))
        for r in sliding_agg(batch, "ts", "2 hours", "1 hour").collect()
    }
    stream = stream_from_dir(spark, events_dir, _events_schema(spark, events_dir))
    agg = sliding_agg(
        stream.withWatermark("ts", "1 hour"), "ts", "2 hours", "1 hour"
    )
    q = run_to_memory(agg, "sliding_out", output_mode="complete")
    try:
        got = {
            r["win_start"]: (r["n_events"], round(r["sum_value"], 6))
            for r in spark.sql("SELECT * FROM sliding_out").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_streaming_session_window_equals_batch(spark, events_dir):
    batch = t(spark, SF_SMOKE, "events")
    expected = sorted(
        map(tuple, session_window_agg(batch, "ts", "30 minutes", "user_id").collect())
    )
    stream = stream_from_dir(spark, events_dir, _events_schema(spark, events_dir))
    agg = session_window_agg(
        stream.withWatermark("ts", "1 hour"), "ts", "30 minutes", "user_id"
    )
    q = run_to_memory(agg, "session_out", output_mode="complete")
    try:
        got = sorted(map(tuple, spark.sql("SELECT * FROM session_out").collect()))
    finally:
        q.stop()
    assert got == expected


def test_stateful_running_counts(spark, events_dir):
    stream = stream_from_dir(spark, events_dir, _events_schema(spark, events_dir)).select(
        F.col("event_type").cast("string").alias("event_type")
    )
    counts = running_counts_stateful(stream, "event_type")
    q = run_to_memory(counts, "running_out", output_mode="update")
    try:
        # last update per key == total count per key
        rows = spark.sql(
            "SELECT event_type, max(running_count) AS n FROM running_out GROUP BY event_type"
        ).collect()
    finally:
        q.stop()
    batch_counts = {
        r["event_type"]: r["count"]
        for r in t(spark, SF_SMOKE, "events").groupBy("event_type").count().collect()
    }
    got = {r["event_type"]: r["n"] for r in rows}
    assert got == batch_counts


def test_stream_static_join_equals_batch(spark, events_dir):
    """Stream-static enrichment join: a micro-batch stream joined to a
    static dimension (broadcast per micro-batch — the streaming twin of
    the DistributedCache side-data idiom), then aggregated."""
    dim = spark.createDataFrame(
        [("purchase", 10), ("signup", 5), ("click", 1)], "event_type string, weight int"
    )

    def weighted(df):
        return (
            df.join(dim, "event_type")
            .groupBy("event_type")
            .agg(F.sum(F.col("value") * F.col("weight")).alias("weighted_sum"))
        )

    batch = t(spark, SF_SMOKE, "events")
    expected = {
        r["event_type"]: round(r["weighted_sum"], 6) for r in weighted(batch).collect()
    }
    stream = stream_from_dir(spark, events_dir, _events_schema(spark, events_dir))
    q = run_to_memory(weighted(stream), "stream_static_out", output_mode="complete")
    try:
        got = {
            r["event_type"]: round(r["weighted_sum"], 6)
            for r in spark.sql("SELECT * FROM stream_static_out").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """Stream-stream inner join with an event-time bound (each purchase
    matched to the same user's clicks in the preceding hour) — both
    sides watermarked so join state is droppable; the batch twin on the
    same data is the oracle."""
    schema = _events_schema(spark, events_dir)

    def split_sides(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_id"),
            F.col("ts").alias("c_ts"),
        )
        return purchases, clicks

    cond = F.expr(
        "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
    )
    batch_p, batch_c = split_sides(t(spark, SF_SMOKE, "events"))
    expected = sorted(
        (r["p_id"], r["c_id"]) for r in batch_p.join(batch_c, cond).collect()
    )
    assert expected, "fixture must produce at least one joined pair"

    sp, sc = split_sides(stream_from_dir(spark, events_dir, schema))
    joined = sp.withWatermark("p_ts", "2 hours").join(
        sc.withWatermark("c_ts", "2 hours"), cond
    )
    q = run_to_memory(joined, "ss_join_out", output_mode="append")
    try:
        got = sorted(
            (r["p_id"], r["c_id"])
            for r in spark.sql("SELECT * FROM ss_join_out").collect()
        )
    finally:
        q.stop()
    assert got == expected


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 1.0),  # 10 min gap   -> same session
        (1, "2024-01-01 00:41:00", 1.0),  # 31 min gap   -> new session
        (2, "2024-01-01 09:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    sess = sessionize(df, "user_id", "ts", gap_minutes=30)
    got = sorted((r["user_id"], r["session_id"], r["n_events"]) for r in sess.collect())
    assert got == [(1, 1, 2), (1, 2, 1), (2, 1, 1)]


def test_tera_generate_sort_validate(spark):
    data = teragen(spark, 20_000, partitions=8)
    before = teravalidate(data)
    report = teravalidate(terasort(data))
    assert report["ok"], "global order violated"
    assert report["rows"] == before["rows"] == 20_000
    assert report["checksum"] == before["checksum"], "content changed during sort"


def test_teravalidate_checksum_covers_whole_record(spark):
    """The checksum is TeraValidate's key+value CRC: changing one byte
    of one record's filler changes it (a key-only CRC would not)."""
    data = teragen(spark, 200, partitions=2)
    one_byte = data.withColumn(
        "filler",
        F.when(F.col("rowid") == 123, F.overlay("filler", F.lit("Y"), 60)).otherwise(F.col("filler")),
    )
    assert data.exceptAll(one_byte).count() == 1  # exactly one record differs
    before, after = teravalidate(data), teravalidate(one_byte)
    assert after["rows"] == before["rows"] == 200
    assert after["checksum"] != before["checksum"]


def test_teragen_deterministic(spark):
    a = teragen(spark, 1000, partitions=4)
    b = teragen(spark, 1000, partitions=2)  # different partitioning, same content
    assert teravalidate(a)["checksum"] == teravalidate(b)["checksum"]
    assert a.select(F.length("key").alias("l")).distinct().collect()[0]["l"] == 10


def test_stream_dedup_within_watermark(spark, events_dir, tmp_path):
    from hadoop_fcfs_spark.streaming.windows import stream_dedup

    # duplicate the source: every event appears twice across files
    dup_dir = str(tmp_path / "dup")
    src = spark.read.parquet(events_dir)
    src.unionByName(src).repartition(6).write.mode("overwrite").parquet(dup_dir)

    stream = stream_from_dir(spark, dup_dir, src.schema)
    deduped = stream_dedup(stream, ["event_id"], "ts", "1 hour")
    q = run_to_memory(deduped, "dedup_out", output_mode="append")
    try:
        n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM dedup_out").collect()[0]
    finally:
        q.stop()
    assert n["n"] == n["c"] == src.count(), "each event exactly once"


def test_foreach_batch_idempotent_sink(spark, events_dir, tmp_path):
    from hadoop_fcfs_spark.streaming.windows import foreach_batch_parquet

    src = spark.read.parquet(events_dir)
    stream = stream_from_dir(spark, events_dir, src.schema)
    out = str(tmp_path / "fb_out")
    q = foreach_batch_parquet(stream, out, str(tmp_path / "fb_ckpt"))
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out)
    assert back.drop("epoch").count() == src.count()


def test_checkpoint_restart_exactly_once(spark, events_dir, tmp_path):
    """Stop/restart recovery: a second query started from the SAME
    checkpoint must process only the files that arrived while it was
    down — no reprocessing, no loss (the offsets log is the contract
    that lets a 100 TB backfill resume mid-stream)."""
    from hadoop_fcfs_spark.streaming.windows import foreach_batch_parquet

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = spark.read.parquet(events_dir).filter(F.col("event_id") % 2 == 0)
    second = spark.read.parquet(events_dir).filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema
    stream = stream_from_dir(spark, src_dir, schema)
    q1 = foreach_batch_parquet(stream, out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first == first.count()

    # new arrivals while the query is down
    second.write.mode("append").parquet(src_dir)
    q2 = foreach_batch_parquet(stream_from_dir(spark, src_dir, schema), out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    back = spark.read.parquet(out)
    assert back.count() == first.count() + second.count()
    # exactly-once across the restart: every event id exactly one row
    assert back.select("event_id").distinct().count() == back.count()


def test_transform_with_state_user_stats(spark, events_dir):
    """transformWithStateInPandas running (count,sum,max) per event_type:
    the final update per key must equal the batch aggregate.

    transformWithState's state-server protocol needs google.protobuf,
    which this container doesn't ship — skip there (the operator itself
    is plain DataFrame API and runs wherever protobuf exists)."""
    pytest.importorskip("google.protobuf.descriptor")
    from hadoop_fcfs_spark.streaming.sessionize import user_stats_stateful

    stream = stream_from_dir(spark, events_dir, _events_schema(spark, events_dir)).select(
        F.col("event_type").cast("string").alias("event_type"), "value"
    )
    stats = user_stats_stateful(stream, "event_type", "value")
    q = run_to_memory(stats, "tws_out", output_mode="update")
    try:
        rows = spark.sql(
            """SELECT event_type, max_by(n_events, n_events) AS n,
                      max_by(total_value, n_events) AS tot,
                      max_by(max_value, n_events) AS mx
               FROM tws_out GROUP BY event_type"""
        ).collect()
    finally:
        q.stop()
    batch = {
        r["event_type"]: (r["n"], r["tot"], r["mx"])
        for r in t(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("tot"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    got = {r["event_type"]: (r["n"], r["tot"], r["mx"]) for r in rows}
    assert set(got) == set(batch)
    for k, (n, tot, mx) in got.items():
        bn, btot, bmx = batch[k]
        assert n == bn and mx == bmx and abs(tot - btot) < 1e-6


def test_stream_incremental_dedup_across_batches(spark, tmp_path):
    """Three arriving files with overlapping docs: cross-batch dup (same
    digest in a later epoch) and in-batch dup both collapse; the final
    data dirs union to the exact-dedup of the full corpus."""
    import glob
    import time

    from hadoop_fcfs_spark.streaming.windows import stream_incremental_dedup

    src = tmp_path / "arrivals"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    import pandas as pd

    pd.DataFrame({"doc_id": [1, 2], "text": ["alpha beta", "gamma delta"]}).to_parquet(src / "b1.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = stream_incremental_dedup(stream, "doc_id", "text", out, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: one cross-batch dup (alpha beta), one in-batch dup pair
        pd.DataFrame(
            {"doc_id": [3, 4, 5], "text": ["alpha beta", "epsilon", "epsilon"]}
        ).to_parquet(src / "b2.parquet")
        q.processAllAvailable()
        # batch 3: re-arrival of old content only
        pd.DataFrame({"doc_id": [6], "text": ["  ALPHA BETA  "]}).to_parquet(src / "b3.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    kept = spark.read.parquet(*glob.glob(f"{out}/data/epoch=*"))
    got = sorted((r["doc_id"], r["text"]) for r in kept.collect())
    # survivors: 1, 2, 4 (epsilon min-id in batch); 3/5/6 deduped
    assert got == [(1, "alpha beta"), (2, "gamma delta"), (4, "epsilon")]
    # digest store has exactly the distinct digests
    digests = spark.read.parquet(*glob.glob(f"{out}/digests/epoch=*"))
    assert digests.distinct().count() == 3


def test_stream_incremental_dedup_runs_each_batch_once(spark, tmp_path):
    """A micro-batch plans its dedup once, not once per output: with
    prior epochs present it runs at most 5 Spark jobs (counted from the
    status store around processAllAvailable; planning `kept` once per
    write, a semi-join min-id pass and an inferred prior-digest read
    took 10). Each epoch writes one part file under data/ and one under
    digests/, and nothing is left cached."""
    import glob

    import pandas as pd

    from hadoop_fcfs_spark.streaming.windows import stream_incremental_dedup

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keys())

    cached = persisted()
    src = tmp_path / "arrivals"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = stream_incremental_dedup(stream, "doc_id", "text", out, ckpt)
    jobs = []
    try:
        for b in range(3):
            bus.waitUntilEmpty()
            before = set(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
            texts = [f"doc {b} {i % 5}" for i in range(8)] + ["  SHARED TEXT ", "shared text"]
            pd.DataFrame({"doc_id": range(10 * b, 10 * b + 10), "text": texts}).to_parquet(
                src / f"b{b}.parquet"
            )
            q.processAllAvailable()
            bus.waitUntilEmpty()
            jobs.append(len(set(sc.statusTracker().getJobIdsForGroup(str(q.runId))) - before))
    finally:
        q.stop()

    assert all(0 < n <= 5 for n in jobs[1:]), jobs
    for sub in ("data", "digests"):
        epochs = sorted(glob.glob(f"{out}/{sub}/epoch=*"))
        assert len(epochs) == 3, epochs
        assert all(len(glob.glob(f"{e}/part-*")) == 1 for e in epochs), sub
    assert persisted() == cached
    kept = spark.read.parquet(f"{out}/data")
    assert kept.count() == 5 + 5 + 5 + 1  # 5 texts per batch, "shared text" once
    assert spark.read.parquet(f"{out}/digests").count() == 16


def test_state_sinks_keep_their_declared_schema(spark, tmp_path):
    """The state sinks read the previous snapshot with the schema they
    already have (no inference job): the changeset without its op column
    for stream_upsert_sink, the batch delta's for stream_maintained_agg
    and stream_maintained_sketch. That is only sound while every epoch
    they write has that schema, so each snapshot's schema as written
    (inferred from its files) must equal the declared one, field for
    field, over several epochs."""
    import glob

    import pandas as pd
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.cdc import weighted_partial_agg
    from hadoop_fcfs_spark.streaming.windows import (
        stream_maintained_agg,
        stream_maintained_sketch,
        stream_upsert_sink,
    )

    def fields(schema) -> list:
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    cdc_schema = "k long, op string, name string, amount double, ts long"
    agg_schema = "k string, v long, d double, w long"
    sk_schema = "k string, v double"
    static = {
        s: spark.createDataFrame([], s) for s in (cdc_schema, agg_schema, sk_schema)
    }
    sinks = {
        "upsert": (
            cdc_schema,
            lambda st, d, c: stream_upsert_sink(st, "k", d, c, ts_col="ts"),
            static[cdc_schema].drop("op").schema,
            lambda b: pd.DataFrame(
                {"k": [b, b + 1], "op": ["U", "U"], "name": ["x", None],
                 "amount": [1.5, None], "ts": [b, b]}
            ),
        ),
        "agg": (
            agg_schema,
            lambda st, d, c: stream_maintained_agg(
                st, ["k"], [("v", "sv"), ("d", "sd")], "w", d, c
            ),
            weighted_partial_agg(
                static[agg_schema], ["k"], [(F.col("v"), "sv"), (F.col("d"), "sd")], F.col("w")
            ).schema,
            lambda b: pd.DataFrame(
                {"k": ["a", "b"], "v": [b, 1], "d": [0.5, 1.5], "w": [1, 1]}
            ),
        ),
        "sketch": (
            sk_schema,
            lambda st, d, c: stream_maintained_sketch(st, ["k"], "v", d, c),
            static[sk_schema].groupBy("k").agg(
                F.kll_sketch_agg_double(F.col("v"), F.lit(200)).alias("kll_sketch")
            ).schema,
            lambda b: pd.DataFrame({"k": ["a", "b"], "v": [float(b), 2.0]}),
        ),
    }
    for name, (schema, start, declared, batch) in sinks.items():
        src = tmp_path / name / "src"
        src.mkdir(parents=True)
        out, ckpt = str(tmp_path / name / "out"), str(tmp_path / name / "ckpt")
        q = start(spark.readStream.schema(schema).parquet(str(src)), out, ckpt)
        try:
            for b in range(3):
                batch(b).to_parquet(src / f"b{b}.parquet")
                q.processAllAvailable()
        finally:
            q.stop()
        epochs = glob.glob(f"{out}/epoch=*")
        assert epochs, name
        for e in epochs:
            assert fields(spark.read.parquet(e).schema) == fields(declared), (name, e)


def test_stream_drift_monitor_alarms_on_shift(spark, tmp_path):
    """Batch matching the reference distribution stays quiet; a
    vocabulary-swapped batch trips the alarm."""
    import glob

    import pandas as pd
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.streaming.windows import stream_drift_monitor

    ref_docs = spark.createDataFrame(
        [(i, "x y z x y z") for i in range(20)], ["doc_id", "text"]
    )
    ref = (
        ref_docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    out, ckpt = str(tmp_path / "drift"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = stream_drift_monitor(stream, ref, out, ckpt)
    try:
        pd.DataFrame({"doc_id": [1, 2], "text": ["x y z x", "y z x y z"]}).to_parquet(src / "same.parquet")
        q.processAllAvailable()
        pd.DataFrame({"doc_id": [3, 4], "text": ["p q r p", "q r p q r"]}).to_parquet(src / "shift.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(
        (r["epoch"], r["js_e6"], r["alarm"])
        for r in spark.read.parquet(*glob.glob(f"{out}/epoch=*")).collect()
    )
    assert len(rows) == 2
    (e0, js0, a0), (e1, js1, a1) = rows
    assert not a0 and js0 < 100_000
    assert a1 and js1 > js0


def test_stream_volume_monitor_alarms_on_spike_and_silence(spark, tmp_path):
    """Normal-volume batch stays quiet; a 10x spike trips the alarm; a
    group ABSENT from a batch emits n=0 and alarms (source gone dark)."""
    import glob

    import pandas as pd

    from hadoop_fcfs_spark.streaming.windows import stream_volume_monitor

    ref = spark.createDataFrame(
        [("click", 4.0, 1.0), ("view", 4.0, 1.0)], ["event_type", "mu", "sd"]
    )
    src = tmp_path / "arrivals"
    src.mkdir()
    out, ckpt = str(tmp_path / "vol"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("event_id long, event_type string").parquet(str(src))
    q = stream_volume_monitor(stream, ref, out, ckpt, z_threshold=3.0)
    try:
        normal = pd.DataFrame(
            {"event_id": range(8), "event_type": ["click"] * 4 + ["view"] * 4}
        )
        normal.to_parquet(src / "b0.parquet")
        q.processAllAvailable()
        spike = pd.DataFrame(
            {"event_id": range(40), "event_type": ["click"] * 40}  # spike + view silent
        )
        spike.to_parquet(src / "b1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r["epoch"], r["event_type"]): (r["n"], r["alarm"])
        for r in spark.read.parquet(*glob.glob(f"{out}/epoch=*")).collect()
    }
    assert rows[(0, "click")] == (4, False) and rows[(0, "view")] == (4, False)
    n1, a1 = rows[(1, "click")]
    assert n1 == 40 and a1          # spike alarms
    n2, a2 = rows[(1, "view")]
    assert n2 == 0 and a2           # silence alarms (z = -4)


def test_stream_upsert_sink_maintains_snapshot(spark, tmp_path):
    """Two CDC batches: inserts, then update+delete+insert — the latest
    epoch snapshot reflects the full MERGE history; same-batch same-key
    changes compact by ts."""
    import glob

    import pandas as pd

    from hadoop_fcfs_spark.streaming.windows import stream_upsert_sink

    src = tmp_path / "cdc"
    src.mkdir()
    out, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(
        "k long, op string, name string, ts long"
    ).parquet(str(src))
    q = stream_upsert_sink(stream, "k", out, ckpt, ts_col="ts")
    try:
        pd.DataFrame(
            {"k": [1, 2], "op": ["U", "U"], "name": ["a", "b"], "ts": [1, 1]}
        ).to_parquet(src / "b0.parquet")
        q.processAllAvailable()
        pd.DataFrame(
            {
                "k": [1, 2, 3, 3],
                "op": ["U", "D", "U", "U"],
                "name": ["a2", None, "c-old", "c-new"],
                "ts": [2, 2, 2, 3],  # k=3 twice: later ts wins
            }
        ).to_parquet(src / "b1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    latest = max(
        glob.glob(f"{out}/epoch=*"), key=lambda p: int(p.rsplit("=", 1)[1])
    )
    rows = sorted(
        (r["k"], r["name"]) for r in spark.read.parquet(latest).collect()
    )
    assert rows == [(1, "a2"), (3, "c-new")]


def test_stream_running_stats_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState (the custom-state surface that WORKS here,
    unlike protobuf-gated transformWithStateInPandas): per-key (n, total,
    max) accumulates across micro-batches."""
    import pandas as pd

    from hadoop_fcfs_spark.streaming.stateful import stream_running_stats

    src = tmp_path / "arrivals"
    src.mkdir()
    stream = spark.readStream.schema("k string, v double").parquet(str(src))
    out = stream_running_stats(stream, "k", "v")
    q = (
        out.writeStream.format("memory")
        .queryName("t_runstats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, 2.0, 10.0]}).to_parquet(src / "b0.parquet")
        q.processAllAvailable()
        pd.DataFrame({"k": ["a", "b"], "v": [4.0, 5.0]}).to_parquet(src / "b1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    # memory/update sink keeps every emitted row; the LAST per key is the
    # accumulated state
    rows = spark.sql("SELECT * FROM t_runstats").collect()
    last = {}
    for r in rows:
        last[r["k"]] = (r["n"], r["total"], r["vmax"])
    assert last["a"] == (3, 7.0, 4.0)
    assert last["b"] == (2, 15.0, 10.0)


def test_stream_inactivity_sessions_close_on_timeout(spark, tmp_path):
    """Processing-time inactivity close: after the gap elapses with no
    data for key 'a', a later trigger emits its closed session and
    clears state. Driven by sleep+poll — processing-time timeouts make
    the engine self-trigger, so processAllAvailable never settles on
    this query (documented on the operator)."""
    import time

    import pandas as pd

    from hadoop_fcfs_spark.streaming.stateful import stream_inactivity_sessions

    src = tmp_path / "arrivals"
    src.mkdir()
    # pandas writes TIMESTAMP(NANOS) -> Spark 4 reads timestamp_ntz (the
    # r3 events.ts gotcha); declare ntz and coerce to micros
    stream = spark.readStream.schema("k string, ts timestamp_ntz").parquet(str(src))
    out = stream_inactivity_sessions(stream, "k", "ts", gap_ms=300)
    q = (
        out.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        pd.DataFrame(
            {"k": ["a", "a"], "ts": pd.to_datetime(["2026-01-01 00:00:00", "2026-01-01 00:00:05"])}
        ).to_parquet(src / "b0.parquet", coerce_timestamps="us")
        deadline = time.time() + 60
        rows = {}
        while time.time() < deadline:
            rows = {
                r["k"]: (r["n_events"], r["first_ts"], r["last_ts"])
                for r in spark.sql("SELECT * FROM t_sessions").collect()
            }
            if "a" in rows:
                break
            time.sleep(0.5)
        assert "a" in rows, "session for 'a' never closed within 60s"
        n, first_ts, last_ts = rows["a"]
        assert n == 2 and last_ts - first_ts == 5000  # 5 s session span in ms
    finally:
        q.stop()


def test_stream_interval_join_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: matched pairs emit like the inner
    join; an unmatched left row emits with NULL right columns — but only
    after later data advances the watermark past its match window."""
    import pandas as pd

    from hadoop_fcfs_spark.streaming.joins import stream_interval_join

    lsrc = tmp_path / "purchases"
    rsrc = tmp_path / "clicks"
    lsrc.mkdir()
    rsrc.mkdir()
    ts = lambda m: pd.Timestamp(2024, 1, 1, 10, m)

    # batch 1: purchase 100 has a click 9 min before; purchase 101 has none
    wp = dict(coerce_timestamps="us", allow_truncated_timestamps=True)
    pd.DataFrame({"user_id": [1, 2], "p_id": [100, 101], "p_ts": [ts(10), ts(12)]}).to_parquet(lsrc / "b1.parquet", **wp)
    pd.DataFrame({"r_user_id": [1], "c_id": [500], "c_ts": [ts(1)]}).to_parquet(rsrc / "b1.parquet", **wp)

    left = spark.readStream.schema("user_id long, p_id long, p_ts timestamp").parquet(str(lsrc))
    right = spark.readStream.schema("r_user_id long, c_id long, c_ts timestamp").parquet(str(rsrc))
    joined = stream_interval_join(
        left, right, "user_id", "p_ts", "c_ts",
        lookback="10 minutes", watermark="10 minutes", how="left_outer",
    )
    q = run_to_memory(joined, "ssj_outer_out", output_mode="append")
    try:
        q.processAllAvailable()
        matched_only = {
            (r["p_id"], r["c_id"]) for r in spark.sql("SELECT * FROM ssj_outer_out").collect()
        }
        # batch 2: far-future rows on BOTH sides push the watermark far
        # past purchase 101's match window, forcing its NULL emission
        pd.DataFrame({"user_id": [9], "p_id": [999], "p_ts": [ts(50)]}).to_parquet(lsrc / "b2.parquet", **wp)
        pd.DataFrame({"r_user_id": [9], "c_id": [998], "c_ts": [ts(50)]}).to_parquet(rsrc / "b2.parquet", **wp)
        q.processAllAvailable()
        q.processAllAvailable()
        final = {
            (r["p_id"], r["c_id"]) for r in spark.sql("SELECT * FROM ssj_outer_out").collect()
        }
    finally:
        q.stop()
    assert (100, 500) in matched_only
    assert (101, None) not in matched_only, "outer row must wait for the watermark"
    assert (100, 500) in final and (101, None) in final
    assert (999, 998) in final

    # inner variant: reject unknown join types early
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_interval_join(left, right, "user_id", "p_ts", "c_ts", how="full")


def test_stream_maintained_agg_with_retractions(spark, tmp_path):
    """Three micro-batches of ±1-weighted CDC rows maintain a keyed
    SUM/COUNT view via merge_agg_delta in foreachBatch: inserts, a
    partial retraction, then a full retraction that must make its
    group DISAPPEAR — final state equals the batch recompute of the
    net surviving rows."""
    import glob

    import pandas as pd

    from hadoop_fcfs_spark.streaming.windows import stream_maintained_agg

    src = tmp_path / "cdc"
    src.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    pd.DataFrame(
        {"k": ["a", "a", "b"], "v": [10, 20, 5], "w": [1, 1, 1]}
    ).to_parquet(src / "b1.parquet")
    stream = spark.readStream.schema("k string, v long, w long").parquet(str(src))
    q = stream_maintained_agg(
        stream, ["k"], [("v", "s")], "w", state, ckpt
    )
    try:
        q.processAllAvailable()
        # batch 2: retract one 'a' row, add 'c'
        pd.DataFrame(
            {"k": ["a", "c"], "v": [10, 7], "w": [-1, 1]}
        ).to_parquet(src / "b2.parquet")
        q.processAllAvailable()
        # batch 3: fully retract 'b'
        pd.DataFrame({"k": ["b"], "v": [5], "w": [-1]}).to_parquet(src / "b3.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    import os

    epochs = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state}/epoch=*")
    )
    # commit marker written last; old epochs pruned to <= 2 snapshots
    assert os.path.exists(f"{state}/_LATEST")
    assert len(epochs) <= 2
    final = spark.read.parquet(f"{state}/epoch={epochs[-1]}")
    got = {r["k"]: (r["s"], r["n"]) for r in final.collect()}
    # net rows: a:(20,1), c:(7,1); b fully retracted -> gone
    assert got == {"a": (20, 1), "c": (7, 1)}
    # the kept predecessor (replay base) still carried b
    mid = spark.read.parquet(f"{state}/epoch={epochs[-2]}")
    got_mid = {r["k"]: (r["s"], r["n"]) for r in mid.collect()}
    assert got_mid == {"a": (20, 1), "b": (5, 1), "c": (7, 1)}


def test_stream_maintained_sketch_quantiles(spark, tmp_path):
    """Three micro-batches fold into per-key KLL sketch state; the
    maintained sketch's median matches the exact median of ALL rows
    seen so far (k=200 is exact at these sizes), state follows the
    marker+prune discipline (<= 2 snapshots)."""
    import glob
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.streaming.windows import stream_maintained_sketch

    src = tmp_path / "vals"
    src.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    pd.DataFrame(
        {"k": ["a"] * 5 + ["b"] * 3, "v": [1.0, 2, 3, 4, 5, 10, 20, 30]}
    ).to_parquet(src / "b1.parquet")
    stream = spark.readStream.schema("k string, v double").parquet(str(src))
    q = stream_maintained_sketch(stream, ["k"], "v", state, ckpt)
    try:
        q.processAllAvailable()
        pd.DataFrame({"k": ["a"] * 4, "v": [6.0, 7, 8, 9]}).to_parquet(
            src / "b2.parquet"
        )
        q.processAllAvailable()
        pd.DataFrame({"k": ["b"] * 2, "v": [40.0, 50]}).to_parquet(
            src / "b3.parquet"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    epochs = sorted(int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state}/epoch=*"))
    assert os.path.exists(f"{state}/_LATEST") and len(epochs) <= 2
    final = spark.read.parquet(f"{state}/epoch={epochs[-1]}")
    med = {
        r["k"]: r["m"]
        for r in final.select(
            "k",
            F.kll_sketch_get_quantile_double(F.col("kll_sketch"), F.lit(0.5)).alias("m"),
        ).collect()
    }
    # a saw 1..9 -> median 5; b saw 10,20,30,40,50 -> median 30
    assert med == {"a": 5.0, "b": 30.0}


def test_watermark_late_drop_engine_vs_batch_audit(spark, tmp_path):
    """Bridge test: Structured Streaming's ACTUAL late-row drop under
    withWatermark vs the batch replay's prediction. Two controlled
    microbatches (one file each, processAllAvailable between): batch 1
    establishes the watermark (max 2000s − 10s = 1990s), batch 2
    carries one late row (1000s < 1990s) and two survivors. The
    arrival order is constructed so the per-row strict-prefix
    watermark of ops.timeseries.watermark_late_audit coincides with
    the engine's per-batch watermark — the two must then agree
    exactly on which rows are late."""
    from hadoop_fcfs_spark.ops.timeseries import watermark_late_audit

    src = str(tmp_path / "wm_src")
    schema = "event_id long, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(rows, "event_id long, us long").select(
            "event_id", F.timestamp_micros(F.col("us")).alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    s = 1_000_000  # seconds -> micros
    write_file("b1", [(1, 1000 * s), (2, 2000 * s)])
    stream = spark.readStream.schema(schema).parquet(src)
    # unique keys => dropDuplicatesWithinWatermark's only effect is the
    # watermark late filter, making the engine's drop set observable
    out = stream.withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_bridge")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: no watermark yet, both emit
        write_file("b2", [(3, 1000 * s), (4, 1995 * s), (5, 2100 * s)])
        q.processAllAvailable()  # batch 2: watermark = 1990s
        emitted = {
            r["event_id"]
            for r in spark.sql("SELECT event_id FROM wm_bridge").collect()
        }
    finally:
        q.stop()
    assert emitted == {1, 2, 4, 5}, f"engine drop set changed: {emitted}"

    # the batch replay predicts the same single late row
    batch = spark.createDataFrame(
        [(1, 1000 * s), (2, 2000 * s), (3, 1000 * s), (4, 1995 * s),
         (5, 2100 * s)],
        "event_id long, us long",
    ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))
    audit = watermark_late_audit(
        batch, "event_id", "ts", delay_us=10 * s
    ).collect()[0]
    assert audit["n_events"] == 5
    assert audit["n_late"] == 1
    assert audit["max_late_us"] == (1990 - 1000) * s


def test_stream_dedup_state_is_first_anchored(spark, tmp_path):
    """Pin Spark's dropDuplicatesWithinWatermark state semantics (the
    anchor question the batch replay documents): one event per
    microbatch, delay 10 s —
      b1: k@1000 emits (state expiry tied to 1000+10),
      b2: k@1008 drops as dup (within 10 of FIRST); IF it refreshed
          state, expiry would move to 1018,
      b3: z@1025 advances the watermark to 1015 — past 1010, not 1018,
      b4: k@1016 is the discriminator: emitted => FIRST-anchored
          (dropped dups do not extend state), dropped => refresh.
    Spark 4.1 measured: EMITTED. The batch replay
    (ops.timeseries.dedup_watermark_audit) is refresh-anchored, so on
    this chain it counts one MORE dup than the engine (asserted) —
    the documented divergence direction; on chains where every dup
    sits within the first occurrence's horizon the two agree."""
    from hadoop_fcfs_spark.ops.timeseries import dedup_watermark_audit

    src = str(tmp_path / "dedup_anchor")
    schema = "event_id long, k string, ts timestamp"
    s = 1_000_000

    def write(rows):
        spark.createDataFrame(rows, "event_id long, k string, us long").select(
            "event_id", "k", F.timestamp_micros(F.col("us")).alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    write([(1, "k", 1000 * s)])
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream.withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark(["k"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_anchor")
        .start()
    )
    try:
        q.processAllAvailable()
        for rows in ([(2, "k", 1008 * s)], [(3, "z", 1025 * s)], [(4, "k", 1016 * s)]):
            write(rows)
            q.processAllAvailable()
        emitted = sorted(
            r["event_id"]
            for r in spark.sql("SELECT event_id FROM dedup_anchor").collect()
        )
    finally:
        q.stop()
    assert emitted == [1, 3, 4], f"engine anchor semantics changed: {emitted}"

    # the refresh-anchored batch replay counts event 4 as a dup: one
    # more drop than the engine, the documented divergence direction
    batch = spark.createDataFrame(
        [(1, "k", 1000 * s), (2, "k", 1008 * s), (3, "z", 1025 * s),
         (4, "k", 1016 * s)],
        "event_id long, k string, us long",
    ).select("event_id", "k", F.timestamp_micros(F.col("us")).alias("ts"))
    audit = dedup_watermark_audit(
        batch, "event_id", "ts", ["k"], delay_us=10 * s
    ).collect()[0]
    assert audit["n_late"] == 0
    assert audit["n_dup"] == 2          # engine dropped only 1 (event 2)
    assert audit["n_emitted"] == 2      # engine emitted 3

    # common regime (every dup within the FIRST's horizon): exact match
    batch2 = spark.createDataFrame(
        [(1, "k", 1000 * s), (2, "k", 1005 * s), (3, "k", 1008 * s),
         (4, "z", 1012 * s)],
        "event_id long, k string, us long",
    ).select("event_id", "k", F.timestamp_micros(F.col("us")).alias("ts"))
    a2 = dedup_watermark_audit(
        batch2, "event_id", "ts", ["k"], delay_us=10 * s
    ).collect()[0]
    assert a2["n_dup"] == 2 and a2["n_emitted"] == 2


def test_stream_debounce_state_spans_microbatches(spark, tmp_path):
    """stream_debounce bridge (r10, the third live-engine bridge after
    late-drop and dedup-anchoring): a burst SPLIT ACROSS micro-batches
    must NOT re-emit — per-key state carries the last event time, so
    the continuation row's 60 ms gap is seen even though its
    predecessor arrived in the previous batch. Asserted three ways:
    (a) the streaming starters equal the batch twin's
    (ops.timeseries.debounce) exactly on the in-order replay, (b) a
    stateless per-batch debounce WOULD emit the continuation (state is
    load-bearing, not decorative), (c) a second key and a genuine new
    burst still emit."""
    from hadoop_fcfs_spark.ops.timeseries import debounce
    from hadoop_fcfs_spark.streaming.stateful import stream_debounce

    src = str(tmp_path / "debounce_src")
    schema = "event_id long, k string, ts timestamp"

    def write(rows):
        spark.createDataFrame(rows, "event_id long, k string, us long").select(
            "event_id", "k", F.timestamp_micros(F.col("us")).alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    # quiet = 200 ms. Batch 1: a k-burst (gaps 50/70 ms). Batch 2: the
    # burst CONTINUES (60 ms gap across the batch boundary), then a new
    # k-burst after 320 ms, and key j's first event.
    b1 = [(1, "k", 1_000_000_000), (2, "k", 1_000_050_000),
          (3, "k", 1_000_120_000)]
    b2 = [(4, "k", 1_000_180_000), (5, "k", 1_000_500_000),
          (6, "j", 2_000_000_000)]
    write(b1)
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_debounce(stream, "k", "ts", quiet_ms=200)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("debounce_bridge")
        .start()
    )
    try:
        q.processAllAvailable()
        write(b2)
        q.processAllAvailable()
        got = {
            (r["k"], r["ts_us"])
            for r in spark.sql("SELECT * FROM debounce_bridge").collect()
        }
    finally:
        q.stop()

    batch = spark.createDataFrame(
        b1 + b2, "event_id long, k string, us long"
    ).select("event_id", "k", F.timestamp_micros(F.col("us")).alias("ts"))
    expected = {
        (r["k"], r["us"])
        for r in debounce(batch, ["k"], "ts", "event_id", quiet_ms=200)
        .select("k", F.unix_micros("ts").alias("us")).collect()
    }
    assert got == expected  # (a) exact agreement with the batch twin
    assert got == {("k", 1_000_000_000), ("k", 1_000_500_000),
                   ("j", 2_000_000_000)}
    # (b) stateless per-batch debounce re-emits the continuation row
    batch2_only = spark.createDataFrame(
        b2, "event_id long, k string, us long"
    ).select("event_id", "k", F.timestamp_micros(F.col("us")).alias("ts"))
    stateless = {
        (r["k"], r["us"])
        for r in debounce(batch2_only, ["k"], "ts", "event_id", quiet_ms=200)
        .select("k", F.unix_micros("ts").alias("us")).collect()
    }
    assert ("k", 1_000_180_000) in stateless
    assert ("k", 1_000_180_000) not in got


def test_stream_ewma_monitor_tracks_batch_chart(spark, tmp_path):
    """stream_ewma_monitor bridge (r10, fourth live bridge): on an
    in-order day-grain replay fed the batch pooled center, the live
    recursion Z ← (r + Z)/2 (gaps decaying toward center) must track
    ewma_chart's closed-form ewma_e6 within the kernel-truncation
    bound 1e6·2^−20 + 1 on EVERY day — across a micro-batch split
    placed mid-series, so the (last_idx, Z) state is load-bearing.
    Alarm verdicts must agree wherever |Z − chart| clears the band
    edge by the bound."""
    import random

    from hadoop_fcfs_spark.ops.stats import ewma_chart
    from hadoop_fcfs_spark.streaming.stateful import stream_ewma_monitor

    rng = random.Random(31)
    days = sorted(rng.sample(range(200, 280), 50))
    raw = []
    for d in days:
        n = rng.randint(8, 30)
        x = rng.randint(0, n)
        raw += [(d, i < x) for i in range(n)]
    batch = spark.createDataFrame(raw, "d int, bad boolean")
    W, H = 20, 60_000
    chart = {
        r["n_idx"]: r
        for r in ewma_chart(
            batch, "d", F.col("bad"), idx_alias="n_idx", window=W, h_e6=H
        ).collect()
    }
    per_day = {}
    for d, bad in raw:
        n, x = per_day.get(d, (0, 0))
        per_day[d] = (n + 1, x + (1 if bad else 0))
    tn = sum(n for n, _ in per_day.values())
    tx = sum(x for _, x in per_day.values())
    pbar = tx * 1_000_000 // tn

    src = str(tmp_path / "ewma_src")
    grain_rows = [
        ("s", d, per_day[d][1] * 1_000_000 // per_day[d][0]) for d in days
    ]

    def write(rows):
        spark.createDataFrame(
            rows, "k string, d long, rate long"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(grain_rows) // 2
    write(grain_rows[:split])
    stream = spark.readStream.schema("k string, d long, rate long").parquet(src)
    mon = stream_ewma_monitor(stream, "k", "d", "rate", center_e6=pbar, h_e6=H)
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(grain_rows[split:])
        q.processAllAvailable()
        live = {
            r["d"]: r for r in spark.sql("SELECT * FROM ewma_mon").collect()
        }
    finally:
        q.stop()

    bound = 1_000_000 / (1 << W) + 1
    assert sorted(live) == days
    for d in days:
        z = live[d]["ewma_e6"]
        e = chart[d]["ewma_e6"]
        assert abs(z - e) <= bound, (d, z, e)
        # alarm agreement wherever the chart value clears the band edge
        # by more than the tracking bound
        if abs(e - (pbar + H)) > bound:
            assert live[d]["alarm_up"] == chart[d]["alarm_up"], d
        if abs(e - (pbar - H)) > bound:
            assert live[d]["alarm_dn"] == chart[d]["alarm_dn"], d


def test_stream_nelson_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_nelson_monitor bridge (r11, fifth live bridge): on an
    in-order day-grain replay the live integer recursion must match
    ops.stats.nelson_rules EXACTLY — direction, trend_len, alt_len,
    rule3, rule4 on every day, across a micro-batch split placed
    mid-series (the four-long state is load-bearing). No tolerance:
    unlike the EWMA bridge, both sides are exact integer arithmetic."""
    import random

    from hadoop_fcfs_spark.ops.stats import nelson_rules
    from hadoop_fcfs_spark.streaming.stateful import stream_nelson_monitor

    rng = random.Random(47)
    days = sorted(rng.sample(range(100, 200), 60))
    raw = []
    for d in days:
        n = rng.randint(4, 12)
        x = rng.randint(0, 4)  # small range -> plenty of ties and runs
        raw += [(d, i < min(x, n)) for i in range(n)]
    batch = spark.createDataFrame(raw, "d long, bad boolean")
    chart = {
        r["grain"]: r
        for r in nelson_rules(
            batch, "d", F.col("bad"), group_alias="grain",
            min_trend=3, min_alt=4,  # small thresholds -> rules do fire
        ).collect()
    }
    assert any(r["rule3"] for r in chart.values()) or any(
        r["rule4"] for r in chart.values()
    ), "degenerate fixture: no rule ever fires"

    per_day = {}
    for d, bad in raw:
        n, x = per_day.get(d, (0, 0))
        per_day[d] = (n + 1, x + (1 if bad else 0))
    grain_rows = [
        ("s", d, per_day[d][1] * 1_000_000 // per_day[d][0]) for d in days
    ]
    src = str(tmp_path / "nelson_src")

    def write(rows):
        spark.createDataFrame(
            rows, "k string, d long, rate long"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(grain_rows) // 2
    write(grain_rows[:split])
    stream = spark.readStream.schema("k string, d long, rate long").parquet(src)
    mon = stream_nelson_monitor(
        stream, "k", "d", "rate", min_trend=3, min_alt=4
    )
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("nelson_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(grain_rows[split:])
        q.processAllAvailable()
        live = {
            r["d"]: r for r in spark.sql("SELECT * FROM nelson_mon").collect()
        }
    finally:
        q.stop()

    assert sorted(live) == days
    for d in days:
        lv, bt = live[d], chart[d]
        assert lv["rate"] == bt["rate_e6"], d
        assert lv["direction"] == bt["direction"], d
        assert lv["trend_len"] == bt["trend_len"], d
        assert lv["alt_len"] == bt["alt_len"], d
        assert lv["rule3"] == bt["rule3"] and lv["rule4"] == bt["rule4"], d


def test_stream_zone_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_zone_monitor bridge (r11, sixth live bridge): on an
    in-order grain replay fed the batch pooled totals AS A RATIO (so
    p̄ = num/den reproduces the batch float bit-for-bit), the live
    monitor's trit-packed rolling windows must match zone_rules
    EXACTLY on every column and every day — across a micro-batch
    split, so the (hist1, hist2, seen) state including the
    phantom-history guard is load-bearing."""
    import random

    from hadoop_fcfs_spark.ops.stats import zone_rules
    from hadoop_fcfs_spark.streaming.stateful import stream_zone_monitor

    rng = random.Random(53)
    days = sorted(rng.sample(range(300, 420), 70))
    raw = []
    per_day = {}
    for d in days:
        n = rng.randint(3, 25)
        x = rng.randint(0, n)
        per_day[d] = (n, x)
        raw += [(d, i < x) for i in range(n)]
    batch = spark.createDataFrame(raw, "d long, bad boolean")
    chart = {
        r["grain"]: r
        for r in zone_rules(
            batch, "d", F.col("bad"), group_alias="grain"
        ).collect()
    }
    assert any(
        r["rule5"] or r["rule6"] or r["rule7"] or r["rule8"]
        for r in chart.values()
    ), "degenerate fixture: no zone rule ever fires"
    tn = sum(n for n, _ in per_day.values())
    tx = sum(x for _, x in per_day.values())

    src = str(tmp_path / "zone_src")
    grain_rows = [("s", d, per_day[d][0], per_day[d][1]) for d in days]

    def write(rows):
        spark.createDataFrame(
            rows, "k string, d long, n long, x long"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(grain_rows) // 2
    write(grain_rows[:split])
    stream = spark.readStream.schema(
        "k string, d long, n long, x long"
    ).parquet(src)
    mon = stream_zone_monitor(
        stream, "k", "d", "n", "x", center_num=tx, center_den=tn
    )
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("zone_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(grain_rows[split:])
        q.processAllAvailable()
        live = {
            r["d"]: r for r in spark.sql("SELECT * FROM zone_mon").collect()
        }
    finally:
        q.stop()

    assert sorted(live) == days
    for d in days:
        lv, bt = live[d], chart[d]
        for col in ("rate_e6", "beyond1", "beyond2", "within1",
                    "rule5", "rule6", "rule7", "rule8"):
            assert lv[col] == bt[col], (d, col, lv[col], bt[col])


def test_stream_zone_monitor_quarantines_nonpositive_n(spark, tmp_path):
    """r12 ADVICE fix: the batch zone_rules grain always has n >= 1,
    but the live monitor ingests EXTERNAL grain rows — an n=0 (or
    negative) row must be dropped, mirroring that invariant, instead
    of a ZeroDivisionError/math-domain error inside
    applyInPandasWithState killing the whole streaming query. The
    valid rows around it must keep their exact window state."""
    from hadoop_fcfs_spark.streaming.stateful import stream_zone_monitor

    src = str(tmp_path / "zone_guard_src")
    rows = [("s", 1, 10, 2), ("s", 2, 0, 0), ("s", 3, -4, 1),
            ("s", 4, 10, 3), ("s", 5, 10, 1)]
    spark.createDataFrame(
        rows, "k string, d long, n long, x long"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "k string, d long, n long, x long"
    ).parquet(src)
    mon = stream_zone_monitor(
        stream, "k", "d", "n", "x", center_num=6, center_den=30
    )
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("zone_guard")
        .start()
    )
    try:
        q.processAllAvailable()
        live = spark.sql("SELECT * FROM zone_guard").collect()
    finally:
        q.stop()
    assert sorted(r["d"] for r in live) == [1, 4, 5]
    assert all(r["n"] > 0 for r in live)


def test_dedup_audit_engine_exact_variant(spark):
    """The engine-exact (first-anchored) audit: matches the ENGINE's
    verdicts on the discriminating chain where the refresh-anchored
    sibling over-counts (n_dup 1 vs 2), agrees with the sibling in the
    common regime, and matches a first-anchored sequential simulator
    on random jittered streams (with n_dup <= sibling's everywhere)."""
    import random

    from hadoop_fcfs_spark.ops.timeseries import (
        dedup_watermark_audit,
        dedup_watermark_audit_engine,
    )

    s = 1_000_000

    def frame(rows):
        return spark.createDataFrame(
            rows, "event_id long, k string, us long"
        ).select("event_id", "k", F.timestamp_micros(F.col("us")).alias("ts"))

    # the probe chain: engine emitted [1, 3, 4] (see the anchor test)
    chain = frame(
        [(1, "k", 1000 * s), (2, "k", 1008 * s), (3, "z", 1025 * s),
         (4, "k", 1016 * s)]
    )
    ex = dedup_watermark_audit_engine(
        chain, "event_id", "ts", ["k"], delay_us=10 * s
    ).collect()[0]
    assert (ex["n_late"], ex["n_dup"], ex["n_emitted"]) == (0, 1, 3)

    # grouped output
    by_k = {
        r["k"]: r
        for r in dedup_watermark_audit_engine(
            chain, "event_id", "ts", ["k"], delay_us=10 * s, group_cols=["k"]
        ).collect()
    }
    assert by_k["k"]["n_dup"] == 1 and by_k["z"]["n_emitted"] == 1

    # random streams: first-anchored python simulator + upper bound
    def py_first_anchored(rows, delay):
        out = {"late": 0, "dup": 0, "emit": 0}
        max_prev = None
        anchor: dict = {}
        for _, k, ts in sorted(rows):
            wm = None if max_prev is None else max_prev - delay
            if wm is not None and wm > ts:
                out["late"] += 1
            else:
                a = anchor.get(k)
                if a is not None and (wm is None or wm <= a + delay):
                    out["dup"] += 1           # no refresh
                else:
                    out["emit"] += 1
                    anchor[k] = ts
            max_prev = ts if max_prev is None else max(max_prev, ts)
        return out

    rng = random.Random(31)
    for trial in range(3):
        rows = []
        for i in range(1, 100):
            rows.append(
                (i, f"k{rng.randint(1, 3)}",
                 (1000 + i * 3 + rng.randint(-20, 20)) * s)
            )
        delay = 25 * s
        want = py_first_anchored([(a, k, u) for a, k, u in rows], delay)
        df = frame(rows)
        got = dedup_watermark_audit_engine(
            df, "event_id", "ts", ["k"], delay_us=delay
        ).collect()[0]
        assert got["n_late"] == want["late"], trial
        assert got["n_dup"] == want["dup"], trial
        assert got["n_emitted"] == want["emit"], trial
        sib = dedup_watermark_audit(
            df, "event_id", "ts", ["k"], delay_us=delay
        ).collect()[0]
        assert got["n_dup"] <= sib["n_dup"], trial
        assert got["n_late"] == sib["n_late"], trial


def test_stream_session_window_merge_and_late_drop_semantics(spark, tmp_path):
    """Bridge test for session_window_agg's ENGINE semantics beyond
    the single-batch equality check: a 4-batch discriminating chain
    (gap 10 s, watermark 10 s, append mode) probes (a) cross-batch
    session EXTENSION, (b) a bridging event MERGING two open sessions,
    and (c) the watermark late-drop divergence from the batch twin.
      b1: u@1000, u@1030   -> two open sessions; wm -> 1020
      b2: u@1005 (LATE: < 1020, engine drops; the batch twin would
          merge it into session 1), u@1036, u@1044 -> wm 1034 closes
          session [1000,1010)
      b3: u@1050 extends the open session to [1030,1060); u@1070 opens
          a third; wm -> 1060
      b4: u@1065 BRIDGES into [1070,1080) giving [1065,1080); z@2000
          flushes everything closed.
    The engine's final sessions must equal the batch twin run on the
    events MINUS the late row (exact agreement), and the batch twin
    run on ALL events must differ exactly by the first session's
    merge — the documented divergence direction (engine drops late
    rows the replay still sees)."""
    src = str(tmp_path / "sess_bridge")
    schema = "event_id long, u string, ts timestamp, value double"
    s = 1_000_000

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, u string, us long, value double"
        ).select(
            "event_id", "u", F.timestamp_micros(F.col("us")).alias("ts"),
            "value",
        ).coalesce(1).write.mode("append").parquet(src)

    def rows_of(df):
        return sorted(
            (r["u"], r["sess_start"].timestamp(), r["sess_end"].timestamp(),
             r["n_events"], r["sum_value"])
            for r in df.collect()
        )

    write([(1, "u", 1000 * s, 1.0), (2, "u", 1030 * s, 1.0)])
    stream = spark.readStream.schema(schema).parquet(src)
    agg = session_window_agg(
        stream.withWatermark("ts", "10 seconds"), "ts", "10 seconds", "u"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_bridge")
        .start()
    )
    batches = [
        [(3, "u", 1005 * s, 1.0), (4, "u", 1036 * s, 1.0),
         (5, "u", 1044 * s, 1.0)],
        [(6, "u", 1050 * s, 1.0), (7, "u", 1070 * s, 1.0)],
        [(8, "u", 1065 * s, 1.0), (9, "z", 2000 * s, 1.0)],
    ]
    try:
        q.processAllAvailable()
        for rows in batches:
            write(rows)
            q.processAllAvailable()
        got = rows_of(spark.sql("SELECT * FROM sess_bridge"))
    finally:
        q.stop()
    expected_engine = [
        ("u", 1000.0, 1010.0, 1, 1.0),
        ("u", 1030.0, 1060.0, 4, 4.0),   # 1030+1036+1044 extended by 1050
        ("u", 1065.0, 1080.0, 2, 2.0),   # 1065 bridged into 1070's session
    ]
    assert got == expected_engine, f"engine session semantics changed: {got}"

    all_rows = [(1, "u", 1000 * s, 1.0), (2, "u", 1030 * s, 1.0)] + [
        r for b in batches for r in b
    ]
    surviving = [r for r in all_rows if r[0] != 3 and r[1] == "u"]
    batch_df = spark.createDataFrame(
        surviving, "event_id long, u string, us long, value double"
    ).select("event_id", "u", F.timestamp_micros(F.col("us")).alias("ts"), "value")
    twin = rows_of(session_window_agg(batch_df, "ts", "10 seconds", "u"))
    assert twin == expected_engine  # exact agreement minus the late row

    # divergence pin: the replay on ALL rows merges the late event into
    # session 1 ([1000,1015) x2) - the engine saw strictly fewer rows
    full_df = spark.createDataFrame(
        [r for r in all_rows if r[1] == "u"],
        "event_id long, u string, us long, value double",
    ).select("event_id", "u", F.timestamp_micros(F.col("us")).alias("ts"), "value")
    twin_full = rows_of(session_window_agg(full_df, "ts", "10 seconds", "u"))
    assert twin_full[0] == ("u", 1000.0, 1015.0, 2, 2.0)
    assert twin_full[1:] == expected_engine[1:]


def test_stream_interval_join_watermark_batching_semantics(spark, tmp_path):
    """Bridge test for the stream-stream interval join's state/late
    semantics: the SAME event set either produces or loses a pair
    depending on microbatch placement, because the watermark advances
    at batch END. Condition: same user, click within 30 s before the
    purchase; both sides watermarked 10 s.
      SPLIT chain:    b1 click c1@1000(u1); b2 click@1100(u2) +
                      purchase@1100(u2) advance the global watermark
                      to 1090; b3 purchase p1@1025(u1) arrives BELOW
                      the watermark -> dropped late, pair (p1,c1)
                      never forms.
      TOGETHER chain: p1@1025 rides IN the same batch as the 1100
                      advancers -> the watermark is still pre-advance
                      (batch-start value), c1 is in state, pair forms.
    The batch twin contains the pair either way: engine pairs are a
    SUBSET of the twin's, equal when every pair arrives within the
    watermark bound — the documented divergence direction."""
    schema = "event_id long, u long, typ string, ts timestamp"
    s = 1_000_000

    def write(src, rows):
        spark.createDataFrame(
            rows, "event_id long, u long, typ string, us long"
        ).select(
            "event_id", "u", "typ",
            F.timestamp_micros(F.col("us")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)

    def joined_pairs(src, name):
        stream = spark.readStream.schema(schema).parquet(src)
        p = stream.filter(F.col("typ") == "p").select(
            F.col("u").alias("p_u"), F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        ).withWatermark("p_ts", "10 seconds")
        c = stream.filter(F.col("typ") == "c").select(
            F.col("u").alias("c_u"), F.col("event_id").alias("c_id"),
            F.col("ts").alias("c_ts"),
        ).withWatermark("c_ts", "10 seconds")
        cond = F.expr(
            "p_u = c_u AND c_ts >= p_ts - INTERVAL 30 SECONDS"
            " AND c_ts <= p_ts"
        )
        return p.join(c, cond), name

    b1 = [(1, 1, "c", 1000 * s)]
    advancers = [(2, 2, "c", 1100 * s), (3, 2, "p", 1100 * s)]
    straggler = [(4, 1, "p", 1025 * s)]

    def run(chain, qname):
        src = str(tmp_path / qname)
        write(src, b1)
        j, _ = joined_pairs(src, qname)
        q = (
            j.writeStream.outputMode("append").format("memory")
            .queryName(qname).start()
        )
        try:
            q.processAllAvailable()
            for rows in chain:
                write(src, rows)
                q.processAllAvailable()
            return sorted(
                (r["p_id"], r["c_id"])
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            )
        finally:
            q.stop()

    split = run([advancers, straggler], "ssj_split")
    together = run([advancers + straggler], "ssj_together")
    assert split == [(3, 2)], f"late-drop semantics changed: {split}"
    assert together == [(3, 2), (4, 1)], (
        f"batch-start watermark semantics changed: {together}"
    )

    # batch twin: the pair exists regardless of arrival placement
    all_rows = b1 + advancers + straggler
    df = spark.createDataFrame(
        all_rows, "event_id long, u long, typ string, us long"
    ).select("event_id", "u", "typ", F.timestamp_micros(F.col("us")).alias("ts"))
    p = df.filter(F.col("typ") == "p").select(
        F.col("u").alias("p_u"), F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    c = df.filter(F.col("typ") == "c").select(
        F.col("u").alias("c_u"), F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    twin = sorted(
        (r["p_id"], r["c_id"])
        for r in p.join(
            c,
            F.expr(
                "p_u = c_u AND c_ts >= p_ts - INTERVAL 30 SECONDS"
                " AND c_ts <= p_ts"
            ),
        ).collect()
    )
    assert twin == [(3, 2), (4, 1)]
    assert set(split) <= set(twin) and set(together) == set(twin)


def test_stream_runs_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_runs_monitor bridge (r12, seventh live bridge): fed the
    batch pooled totals as the exact ratio, the live census must (a)
    equal batch runs_test EXACTLY on the full series at the final
    point — integer columns, no tolerance — across a micro-batch
    split (so the five-long state is load-bearing), (b) match a pure
    fixed-center sequential replay at EVERY point, and (c) quarantine
    n <= 0 grain rows like stream_zone_monitor."""
    import random

    from hadoop_fcfs_spark.ops.stats import runs_test
    from hadoop_fcfs_spark.streaming.stateful import stream_runs_monitor

    rng = random.Random(59)
    days = sorted(rng.sample(range(100, 260), 80))
    per_day = {d: (rng.randint(3, 25),) for d in days}
    per_day = {d: (n[0], rng.randint(0, n[0])) for d, n in per_day.items()}
    raw = [(d, i < x) for d, (n, x) in per_day.items() for i in range(n)]
    batch_df = spark.createDataFrame(raw, "d long, bad boolean")
    [b] = runs_test(batch_df, "d", F.col("bad"), group_alias="grain").collect()
    tn = sum(n for n, _ in per_day.values())
    tx = sum(x for _, x in per_day.values())

    src = str(tmp_path / "runs_src")
    grain_rows = [("s", d, per_day[d][0], per_day[d][1]) for d in days]
    # a malformed n=0 row mid-stream must be dropped, not kill the query
    grain_rows.insert(40, ("s", 1, 0, 0))

    def write(rows):
        spark.createDataFrame(
            rows, "k string, d long, n long, x long"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(grain_rows) // 2
    write(grain_rows[:split])
    stream = spark.readStream.schema(
        "k string, d long, n long, x long"
    ).parquet(src)
    mon = stream_runs_monitor(
        stream, "k", "d", "n", "x", center_num=tx, center_den=tn
    )
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("runs_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(grain_rows[split:])
        q.processAllAvailable()
        live = {
            r["d"]: r for r in spark.sql("SELECT * FROM runs_mon").collect()
        }
    finally:
        q.stop()

    assert 1 not in live  # the n=0 row was quarantined
    assert sorted(live) == days
    # (a) final point == batch on the full series, integer-exact
    last = live[days[-1]]
    assert (last["n_pos"], last["n_neg"], last["n_zero"], last["n_runs"],
            last["z_num"]) == (
        b["n_pos"], b["n_neg"], b["n_zero"], b["n_runs"], b["z_num"])
    # (b) every point matches the fixed-center sequential replay
    pbar = tx * 1_000_000 // tn
    np_ = nn = nz = nr = 0
    last_side = 0
    for d in days:
        n, x = per_day[d]
        side = ((x * 1_000_000 // n) > pbar) - ((x * 1_000_000 // n) < pbar)
        if side == 0:
            nz += 1
        else:
            if side == 1:
                np_ += 1
            else:
                nn += 1
            if side != last_side:
                nr += 1
            last_side = side
        m = np_ + nn
        r = live[d]
        assert (r["side"], r["n_pos"], r["n_neg"], r["n_zero"],
                r["n_runs"]) == (side, np_, nn, nz, nr), d
        assert r["z_num"] == nr * m - 2 * np_ * nn - m, d


def test_stream_benford_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_benford_monitor bridge (r13, eighth live bridge): the
    live nine-long census must (a) equal the batch
    benford_price_audit digit counts EXACTLY on the full series at
    the final point — integer columns, no tolerance — across a
    micro-batch split (so the fixed-width state is load-bearing),
    (b) match a pure sequential replay at EVERY point, and (c) drop
    sub-1 / NULL values exactly as the batch >= 1 filter does."""
    import math
    import random

    from hadoop_fcfs_spark.streaming.stateful import stream_benford_monitor

    rng = random.Random(61)
    vals = [round(math.exp(rng.uniform(0, 11)), 2) for _ in range(160)]
    rows = [("s", i, v) for i, v in enumerate(vals)]
    # sub-1 and NULL values mid-stream must be filtered, not counted
    rows.insert(30, ("s", 1000, 0.37))
    rows.insert(60, ("s", 1001, None))

    # batch twin: the benford_price_audit digit extraction verbatim
    batch_df = spark.createDataFrame(
        [(v,) for v in vals], "v double"
    ).filter(F.col("v") >= 1)
    digit = F.substring(
        F.floor(F.col("v")).cast("long").cast("string"), 1, 1
    ).cast("long")
    batch_counts = {
        r["digit"]: r["n"]
        for r in batch_df.groupBy(digit.alias("digit"))
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }

    src = str(tmp_path / "benford_src")

    def write(chunk):
        spark.createDataFrame(
            chunk, "k string, i long, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(rows) // 2
    write(rows[:split])
    stream = spark.readStream.schema("k string, i long, v double").parquet(src)
    mon = stream_benford_monitor(stream, "k", "i", "v")
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("benford_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(rows[split:])
        q.processAllAvailable()
        live = {
            r["i"]: r for r in spark.sql("SELECT * FROM benford_mon").collect()
        }
    finally:
        q.stop()

    assert 1000 not in live and 1001 not in live  # filtered, not counted
    assert sorted(live) == list(range(len(vals)))
    # (a) final census == batch digit counts, integer-exact
    last = live[len(vals) - 1]
    for d in range(1, 10):
        assert last[f"d{d}"] == batch_counts.get(d, 0), d
    assert last["n_total"] == sum(batch_counts.values())
    # (b) every point matches the sequential replay
    counts = [0] * 9
    for i, v in enumerate(vals):
        dg = int(str(int(math.floor(v)))[0])
        counts[dg - 1] += 1
        r = live[i]
        assert r["digit"] == dg, i
        assert [r[f"d{d}"] for d in range(1, 10)] == counts, i
        assert r["n_total"] == sum(counts), i


def test_stream_cdc_net_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_cdc_net_monitor bridge (r13, ninth live bridge): the
    LATEST emitted row per key must equal batch cdc_net_changes on
    the full log integer-exactly across a micro-batch split — or
    report net_op='X' exactly for the keys where the batch emits NO
    row (I..D born-and-deleted) — (a) final-point equality, (b) every
    point matches a sequential replay of the net rule, (c) unknown
    ops quarantine (the stream-side contract where batch raises)."""
    import random

    from hadoop_fcfs_spark.ops.cdc import cdc_net_changes
    from hadoop_fcfs_spark.streaming.stateful import stream_cdc_net_monitor

    rng = random.Random(67)
    logs = {}
    for k in range(12):
        n = rng.randint(1, 9)
        logs[f"k{k:02d}"] = [
            (rng.choice("IUD"), rng.randint(-50, 50)) for _ in range(n)
        ]
    # a key whose LAST op is a NULL-valued update: the carried value
    # must stay NULL (the batch max_by carries the last row verbatim),
    # not coerce to 0
    logs["knull"] = [("I", 5), ("U", None)]
    rows = [
        (k, i, op, v)
        for k, ops in logs.items()
        for i, (op, v) in enumerate(ops)
    ]
    rows.insert(7, ("k00", 999, "Z", 1))  # malformed op mid-stream

    batch_df = spark.createDataFrame(
        [r for r in rows if r[2] in "IUD"],
        "k string, ts long, op string, v long",
    )
    batch = {
        r["k"]: r
        for r in cdc_net_changes(
            batch_df, "k", "ts", "op", ["v"], tiebreak="ts"
        ).collect()
    }

    src = str(tmp_path / "cdc_src")

    def write(chunk):
        spark.createDataFrame(
            chunk, "k string, i long, op string, v long"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(rows) // 2
    write(rows[:split])
    stream = spark.readStream.schema(
        "k string, i long, op string, v long"
    ).parquet(src)
    mon = stream_cdc_net_monitor(stream, "k", "i", "op", "v")
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("cdc_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(rows[split:])
        q.processAllAvailable()
        live = spark.sql("SELECT * FROM cdc_mon").collect()
    finally:
        q.stop()

    assert all(r["i"] != 999 for r in live)  # (c) malformed row quarantined
    # (a) latest emitted row per key == batch row (or 'X' == no row)
    last = {}
    for r in live:
        if r["k"] not in last or r["i"] > last[r["k"]]["i"]:
            last[r["k"]] = r
    assert sorted(last) == sorted(logs)
    for k, ops in logs.items():
        lr = last[k]
        assert lr["n_changes"] == len(ops) and lr["last_idx"] == len(ops) - 1
        assert lr["first_idx"] == 0
        if k not in batch:  # I..D — batch emits nothing
            assert lr["net_op"] == "X" and lr["last_v"] is None
        else:
            b = batch[k]
            assert lr["net_op"] == b["net_op"]
            assert lr["n_changes"] == b["n_changes"]
            assert (lr["first_idx"], lr["last_idx"]) == (
                b["first_ts"], b["last_ts"])
            assert lr["last_v"] == b["last_v"]
    # (b) every point matches the sequential net-rule replay
    live_by_key = {}
    for r in live:
        live_by_key.setdefault(r["k"], {})[r["i"]] = r
    for k, ops in logs.items():
        first_op = ops[0][0]
        last_v = 0
        for i, (op, v) in enumerate(ops):
            if op != "D":
                last_v = v
            if first_op == "I" and op == "D":
                net = "X"
            elif first_op == "I":
                net = "I"
            elif op == "D":
                net = "D"
            else:
                net = "U"
            r = live_by_key[k][i]
            assert (r["op"], r["net_op"], r["n_changes"]) == (op, net, i + 1), (k, i)
            assert r["last_v"] == (None if net in ("D", "X") else last_v), (k, i)


def test_stream_cusum_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_cusum_monitor bridge (r13, tenth live bridge): fed the
    batch pooled totals as the exact ratio, the live two-long
    recursion C_t = max(0, C_{t-1} + s_t) must equal batch
    cusum_chart's CLOSED-FORM prefix-sum formulation (C_t = S_t -
    min(0, min S_j)) at EVERY grain point, integer-exactly, across a
    micro-batch split — the two formulations proving each other —
    including nonzero slack, alarm thresholds, and the n <= 0
    quarantine."""
    import random

    from hadoop_fcfs_spark.ops.stats import cusum_chart
    from hadoop_fcfs_spark.streaming.stateful import stream_cusum_monitor

    rng = random.Random(71)
    days = sorted(rng.sample(range(100, 240), 70))
    per_day = {}
    for d in days:
        n = rng.randint(3, 25)
        # drift upward in the second half so both sides + alarms move
        bias = 3 if d > days[35] else 0
        per_day[d] = (n, min(n, rng.randint(0, n // 2 + bias)))
    raw = [(d, i < x) for d, (n, x) in per_day.items() for i in range(n)]
    batch_df = spark.createDataFrame(raw, "d long, bad boolean")
    SLACK, H = 40_000, 900_000
    batch = {
        r["grain"]: r
        for r in cusum_chart(
            batch_df, "d", F.col("bad"), slack_e6=SLACK, h_e6=H
        ).collect()
    }
    tn = sum(n for n, _ in per_day.values())
    tx = sum(x for _, x in per_day.values())

    src = str(tmp_path / "cusum_src")
    grain_rows = [("s", d, per_day[d][0], per_day[d][1]) for d in days]
    grain_rows.insert(25, ("s", 1, 0, 0))  # malformed n=0 row

    def write(rows):
        spark.createDataFrame(
            rows, "k string, d long, n long, x long"
        ).coalesce(1).write.mode("append").parquet(src)

    split = len(grain_rows) // 2
    write(grain_rows[:split])
    stream = spark.readStream.schema(
        "k string, d long, n long, x long"
    ).parquet(src)
    mon = stream_cusum_monitor(
        stream, "k", "d", "n", "x",
        center_num=tx, center_den=tn, slack_e6=SLACK, h_e6=H,
    )
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        write(grain_rows[split:])
        q.processAllAvailable()
        live = {
            r["d"]: r for r in spark.sql("SELECT * FROM cusum_mon").collect()
        }
    finally:
        q.stop()

    assert 1 not in live  # quarantined
    assert sorted(live) == days
    fired_up = False
    for d in days:
        r, b = live[d], batch[d]
        assert (r["n"], r["x"]) == (b["n"], b["x"]), d
        assert r["cusum_up_e6"] == b["cusum_up_e6"], d
        assert r["cusum_dn_e6"] == b["cusum_dn_e6"], d
        assert r["alarm_up"] == b["alarm_up"] and r["alarm_dn"] == b["alarm_dn"], d
        fired_up = fired_up or r["alarm_up"]
    assert fired_up  # the drifted half must actually alarm

    import pytest as _pytest

    with _pytest.raises(ValueError, match="slack_e6"):
        stream_cusum_monitor(stream, "k", "d", "n", "x", 1, 2, slack_e6=-1)
    with _pytest.raises(ValueError, match="h_e6"):
        stream_cusum_monitor(stream, "k", "d", "n", "x", 1, 2, h_e6=0)


def test_stream_cms_monitor_matches_batch_exactly(spark, tmp_path):
    """stream_cms_monitor bridge (r14, eleventh live bridge — the
    sketch tier goes live): (a) the latest emitted cnt per (key, row,
    pos) over the full stream equals batch cms_partial on the full
    input integer-exactly; (b) the SAME holds mid-stream — after the
    first chunk the live cells equal cms_partial over exactly that
    prefix (micro-batch-split invariance); (c) every emission matches
    a sequential replay over the JVM-projected cells (the hashing is
    the shared cms_cell_pos expression — Python never hashes); NULL
    elements hash identically on both sides."""
    import random

    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.agg.sketches import cms_cell_pos, cms_partial
    from hadoop_fcfs_spark.streaming.stateful import stream_cms_monitor

    depth, width = 3, 16
    rng = random.Random(41)
    elems = {
        f"s{k}": [
            rng.choice(["a", "b", "c", "dd", "ee", "zipf"])
            + str(rng.randint(0, 5))
            for _ in range(rng.randint(3, 20))
        ]
        for k in range(6)
    }
    elems["s0"].append(None)  # NULL element: must hash like the batch
    rows = [(k, i, e) for k, es in elems.items() for i, e in enumerate(es)]
    rng.shuffle(rows)
    rows.sort(key=lambda r: r[1])  # per-key index order, keys interleaved

    def sketch_of(prefix_rows):
        df = spark.createDataFrame(prefix_rows, "k string, i long, e string")
        return {
            (r["k"], r["row"], r["pos"]): r["cnt"]
            for r in cms_partial(
                df, "e", depth=depth, width=width, group_cols=["k"]
            ).collect()
        }

    split = len(rows) // 2
    batch_full = sketch_of(rows)
    batch_prefix = sketch_of(rows[:split])

    # JVM-projected cells for the sequential replay (c)
    cells_df = (
        spark.createDataFrame(rows, "k string, i long, e string")
        .select(
            "k", "i",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
            "e",
        )
        .select("k", "i", "row", cms_cell_pos("row", "e", width).alias("pos"))
        .collect()
    )
    cell_of = {(r["k"], r["i"], r["row"]): r["pos"] for r in cells_df}

    src = str(tmp_path / "cms_src")

    def write(chunk):
        spark.createDataFrame(
            chunk, "k string, i long, e string"
        ).coalesce(1).write.mode("append").parquet(src)

    write(rows[:split])
    stream = spark.readStream.schema("k string, i long, e string").parquet(src)
    mon = stream_cms_monitor(stream, "k", "i", "e", depth=depth, width=width)
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("cms_mon")
        .start()
    )
    try:
        q.processAllAvailable()
        live_prefix = spark.sql("SELECT * FROM cms_mon").collect()
        write(rows[split:])
        q.processAllAvailable()
        live = spark.sql("SELECT * FROM cms_mon").collect()
    finally:
        q.stop()

    def latest_cells(emissions):
        best = {}
        for r in emissions:
            cell = (r["k"], r["row"], r["pos"])
            if cell not in best or r["i"] > best[cell][0]:
                best[cell] = (r["i"], r["cnt"])
        return {c: cnt for c, (_, cnt) in best.items()}

    # (b) mid-stream: live cells after chunk 1 == batch sketch of chunk 1
    assert latest_cells(live_prefix) == batch_prefix
    # (a) full stream == batch sketch of everything
    assert latest_cells(live) == batch_full
    assert len(live) == len(rows) * depth  # one emission per (element, row)

    # (c) sequential replay over the JVM cells: counters per key/cell
    counters: dict = {}
    want = {}
    for k, i, _ in sorted(rows, key=lambda r: (r[0], r[1])):
        for row in range(depth):
            pos = cell_of[(k, i, row)]
            cell = (k, row, pos)
            counters[cell] = counters.get(cell, 0) + 1
            want[(k, i, row)] = (pos, counters[cell])
    for r in live:
        assert (r["pos"], r["cnt"]) == want[(r["k"], r["i"], r["row"])], r


def test_stream_cms_monitor_preserves_key_and_index_types(spark, tmp_path):
    """stream_cms_monitor (r15, r14 ADVICE #3): the output schema's key
    and index fields derive from the INPUT schema (the wordpiece_encode
    id_col convention) instead of a hardcoded string/long — the batch
    twin cms_partial accepts arbitrary group_cols, so a LONG key or INT
    index must round-trip typed, not silently cast or mismatch. Counts
    re-checked against batch cms_partial on the typed key."""
    from hadoop_fcfs_spark.agg.sketches import cms_partial
    from hadoop_fcfs_spark.streaming.stateful import stream_cms_monitor

    depth, width = 2, 8
    rows = [(7, 0, "a"), (7, 1, "b"), (9, 0, "a"), (7, 2, "a")]
    src = str(tmp_path / "cms_typed_src")
    spark.createDataFrame(rows, "k long, i int, e string").coalesce(
        1
    ).write.parquet(src)
    stream = spark.readStream.schema("k long, i int, e string").parquet(src)
    mon = stream_cms_monitor(stream, "k", "i", "e", depth=depth, width=width)
    assert dict(mon.dtypes)["k"] == "bigint"
    assert dict(mon.dtypes)["i"] == "int"
    q = (
        mon.writeStream.outputMode("append")
        .format("memory")
        .queryName("cms_mon_typed")
        .start()
    )
    try:
        q.processAllAvailable()
        live = spark.sql("SELECT * FROM cms_mon_typed").collect()
    finally:
        q.stop()
    assert {type(r["k"]) for r in live} == {int}
    assert len(live) == len(rows) * depth
    best: dict = {}
    for r in live:
        cell = (r["k"], r["row"], r["pos"])
        if cell not in best or r["i"] > best[cell][0]:
            best[cell] = (r["i"], r["cnt"])
    batch = {
        (r["k"], r["row"], r["pos"]): r["cnt"]
        for r in cms_partial(
            spark.createDataFrame(rows, "k long, i int, e string"),
            "e", depth=depth, width=width, group_cols=["k"],
        ).collect()
    }
    assert {c: cnt for c, (_, cnt) in best.items()} == batch


def test_all_monitors_echo_key_and_index_types(spark, tmp_path):
    """r15 class sweep of r14 ADVICE #3: EVERY stateful monitor derives
    its echoed key (and index, where it has one) output types from the
    input schema instead of hardcoding string/long — the batch twins
    accept arbitrary key types, so a LONG key must round-trip typed.
    Construction-time check: applyInPandasWithState's output schema is
    known before any stream starts, so this pins all eleven monitors
    cheaply. Computed/sample columns keep their long/double contract
    types (integer samples upcast losslessly; the recorded design)."""
    from hadoop_fcfs_spark.streaming.stateful import (
        stream_benford_monitor,
        stream_cdc_net_monitor,
        stream_cms_monitor,
        stream_cusum_monitor,
        stream_debounce,
        stream_ewma_monitor,
        stream_inactivity_sessions,
        stream_nelson_monitor,
        stream_running_stats,
        stream_runs_monitor,
        stream_zone_monitor,
    )

    src = str(tmp_path / "typed_monitor_src")
    schema = (
        "k long, i int, v long, n long, x long, ts timestamp, "
        "op string, e string"
    )
    spark.createDataFrame(
        [(1, 0, 5, 10, 3, None, "I", "a")], schema
    ).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    mons = {
        "running_stats": stream_running_stats(stream, "k", "v"),
        "debounce": stream_debounce(stream, "k", "ts", 100),
        "ewma": stream_ewma_monitor(stream, "k", "i", "v", 500_000),
        "nelson": stream_nelson_monitor(stream, "k", "i", "v"),
        "zone": stream_zone_monitor(stream, "k", "i", "n", "x", 1, 2),
        "inactivity": stream_inactivity_sessions(stream, "k", "ts", 100),
        "runs": stream_runs_monitor(stream, "k", "i", "n", "x", 1, 2),
        "benford": stream_benford_monitor(stream, "k", "i", "v"),
        "cdc_net": stream_cdc_net_monitor(stream, "k", "i", "op", "v"),
        "cusum": stream_cusum_monitor(stream, "k", "i", "n", "x", 1, 2),
        "cms": stream_cms_monitor(stream, "k", "i", "e"),
    }
    for name, mon in mons.items():
        d = dict(mon.dtypes)
        assert d["k"] == "bigint", (name, d)
        if "i" in d:
            assert d["i"] == "int", (name, d)
