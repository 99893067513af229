"""Event-time windowed aggregation — streaming and batch twins.

Streaming: ``readStream → withWatermark → groupBy(window(...)) → agg``.
Batch twins produce identical rows on the same (finite) input, which is
what the DuckDB oracle checks; the streaming path is exercised with the
memory sink in tests (file source → processAllAvailable).

Scale notes: event-time windows shuffle on (window, keys); state in the
streaming case is bounded by the watermark horizon — at 100 TB/day the
levers are watermark delay (state size) and
``spark.sql.shuffle.partitions`` (state store parallelism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _agg_exprs() -> list[Column]:
    return [
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ]


def tumbling_agg(events: DataFrame, ts_col: str, duration: str, *keys: str) -> DataFrame:
    """Non-overlapping event-time windows. Works on both batch and
    streaming DataFrames (add a watermark upstream for append mode)."""
    return (
        events.groupBy(F.window(ts_col, duration), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame, ts_col: str, duration: str, slide: str, *keys: str
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    return (
        events.groupBy(F.window(ts_col, duration, slide), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(events: DataFrame, ts_col: str, gap: str, *keys: str) -> DataFrame:
    """Session windows: events within `gap` of each other merge into one
    session (dynamic window end). Streaming requires a watermark."""
    return (
        events.groupBy(F.session_window(ts_col, gap), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def stream_from_dir(spark, path: str, schema) -> DataFrame:
    """File-source stream (the test/driver entry; production swaps in
    kafka options without touching the operators)."""
    return spark.readStream.schema(schema).parquet(path)


def run_to_memory(stream_df: DataFrame, query_name: str, output_mode: str = "complete"):
    """Drive a (finite) stream to completion into the memory sink;
    returns the StreamingQuery (caller reads `SELECT * FROM <name>`)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    return q


def stream_dedup(stream_df: DataFrame, id_cols: list[str], ts_col: str, watermark: str) -> DataFrame:
    """Streaming exact dedup within the watermark horizon
    (dropDuplicatesWithinWatermark): state is bounded by the watermark
    instead of growing forever — the streaming twin of the batch
    exact-dedup pipeline step (llm.dedup.exact_dedup)."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def foreach_batch_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Exactly-once file sink via foreachBatch: each micro-batch is
    written to an epoch-suffixed directory with overwrite, so a replayed
    epoch after failure rewrites the same directory instead of
    duplicating rows (idempotent by construction; the checkpoint tracks
    committed epochs)."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _dedup_epoch(
    batch_df: DataFrame, epoch_id: int, id_col: str, text_col: str, out_dir: str
) -> None:
    """One micro-batch of ``stream_incremental_dedup``."""
    from hadoop_fcfs_spark.llm.dedup import min_id_per_digest, text_digest

    spark = batch_df.sparkSession
    digest_root = f"{out_dir}/digests"
    # enumerate prior epochs through the Hadoop FileSystem API (as
    # compact_files does) so non-local stores (hdfs://, s3a://) list
    # correctly — driver-local os.listdir would silently return
    # nothing there and skip cross-batch dedup entirely
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(digest_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    prior_epochs = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("epoch=") and name != f"epoch={epoch_id}":
                prior_epochs.append(f"{digest_root}/{name}")
    # the store holds digests, so the cross-batch pass is a
    # digest-to-digest anti-join — the batch twin re-hashes
    # reference TEXT; here prior epochs already materialized theirs
    fresh = batch_df.withColumn("__digest", text_digest(text_col))
    if prior_epochs:
        fresh = fresh.join(
            spark.read.schema("digest string").parquet(*prior_epochs),
            F.col("__digest") == F.col("digest"),
            "left_anti",
        )
    data_dir = f"{out_dir}/data/epoch={epoch_id}"
    # the min-id window leaves rows in digest order; a local sort puts
    # them back in id order, which the file encodes more tightly
    kept = min_id_per_digest(fresh, "__digest", id_col).drop("__digest")
    kept.sortWithinPartitions(id_col).write.mode("overwrite").parquet(data_dir)
    committed = spark.read.schema(batch_df.schema).parquet(data_dir)
    committed.select(text_digest(text_col).alias("digest")).distinct().write.mode(
        "overwrite"
    ).parquet(f"{digest_root}/epoch={epoch_id}")


def stream_incremental_dedup(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming corpus ingestion with cross-batch exact dedup: each
    micro-batch drops rows whose normalized text digest appeared in ANY
    previous epoch (a digest anti-join against the accumulated digest
    store), keeps the min-id row per digest within the batch
    (llm.dedup.min_id_per_digest; the batch twin
    llm.dedup.incremental_exact_dedup keeps the same rows), writes the
    survivors to ``data/epoch=N``, then derives ``digests/epoch=N`` from
    that committed data epoch: it is read back, re-hashed and made
    distinct, so the store holds exactly the digests of what was
    written, and the dedup plan runs once per batch rather than once
    per output (5 Spark jobs per batch once prior epochs exist). At
    this scale each epoch is one file under ``data/`` and one under
    ``digests/`` (AQE coalesces both writes' shuffles); nothing is
    cached.

    Epoch-overwrite keeps the DATA dirs idempotent under replay. The
    digest-store read races only with this writer (streaming epochs are
    serial), so the accumulated reference is always the union of
    committed epochs; a REPLAYED epoch rewrites its own digest dir
    rather than appending, preserving exactly-once digest accounting.
    Both read-backs (prior digests, the committed data epoch) carry a
    declared schema, so no batch runs a schema-inference job. At corpus
    scale the digest store grows with every epoch — bloom it
    (write_sorted_bucketed bloom_cols) and compact it periodically
    (ops.layout.compact_files) as it grows.
    """
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: _dedup_epoch(batch_df, epoch_id, id_col, text_col, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_drift_monitor(
    stream_df: DataFrame,
    reference_counts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    alarm_js_e6: int = 100_000,
):
    """Streaming corpus-drift tripwire: every micro-batch's token
    distribution is compared (smoothed Jensen-Shannon, llm.textan
    machinery) against a frozen REFERENCE distribution; one log row
    (epoch, js_e6, alarm) is appended per batch to ``out_dir``.

    ``reference_counts`` is a (w, c) token-count table — materialize it
    once from a trusted corpus slice and persist it; at scale it is
    vocabulary-sized, so each batch pays one vocabulary join, never a
    corpus scan. The alarm threshold is in JS micro-bits (100_000 =
    0.1 bit — an order of magnitude above same-distribution noise,
    an order below a vocabulary swap).
    """
    from pyspark.sql import functions as F

    ref = reference_counts.select(F.col("w"), F.col("c").alias("cb"))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ca = (
            batch_df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count("*").alias("ca"))
        )
        joined = ca.join(ref, "w", "full_outer").select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        tot = joined.agg(
            F.sum("ca").alias("na"), F.sum("cb").alias("nb"), F.count(F.lit(1)).alias("v")
        )
        j = joined.crossJoin(F.broadcast(tot))
        pa = (F.col("ca") + F.lit(0.5)) / (F.col("na") + F.lit(0.5) * F.col("v"))
        pb = (F.col("cb") + F.lit(0.5)) / (F.col("nb") + F.lit(0.5) * F.col("v"))
        pm = (pa + pb) / F.lit(2.0)
        log2 = F.log(F.lit(2.0))
        js = j.agg(
            F.floor(
                (F.sum(pa * F.log(pa / pm) / log2) / 2 + F.sum(pb * F.log(pb / pm) / log2) / 2)
                * 1_000_000
            ).cast("long").alias("js_e6")
        ).first()["js_e6"]
        spark.createDataFrame(
            [(int(epoch_id), int(js), bool(js >= alarm_js_e6))],
            "epoch long, js_e6 long, alarm boolean",
        ).write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_volume_monitor(
    stream_df: DataFrame,
    reference_stats: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    z_threshold: float = 3.0,
):
    """Streaming volume-anomaly tripwire — the §2.7 twin of
    ops.stats.zscore_anomalies: each micro-batch's per-group row count
    is z-scored against FROZEN reference statistics (mu, sd per group —
    materialize once from trusted history, e.g. the zscore_anomalies
    grain table aggregated per group) and one log row per group
    (epoch, group, n, z_e6, alarm) is written per batch.

    The per-batch work is one count aggregation + a broadcast-sized
    join against the reference (group-cardinality rows) — no state
    store, no corpus scan; epoch-overwrite keeps replays idempotent
    like the other foreachBatch sinks here. Groups ABSENT from a batch
    produce a row with n=0 (a silent source going dark IS the anomaly
    the monitor exists for).
    """
    from pyspark.sql import functions as F

    ref = reference_stats.select(
        F.col(group_col), F.col("mu").cast("double"), F.col("sd").cast("double")
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        counts = batch_df.groupBy(group_col).agg(F.count("*").alias("n"))
        z = (F.col("n") - F.col("mu")) / F.col("sd")
        out = (
            ref.join(counts, group_col, "left")
            .withColumn("n", F.coalesce("n", F.lit(0)))
            .select(
                F.lit(int(epoch_id)).alias("epoch"),
                F.col(group_col),
                F.col("n").cast("long"),
                F.floor(z * 1_000_000).cast("long").alias("z_e6"),
                (F.abs(z) > z_threshold).alias("alarm"),
            )
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_upsert_sink(
    stream_df: DataFrame,
    key: str,
    out_dir: str,
    checkpoint_dir: str,
    op_col: str = "op",
    ts_col: str | None = None,
    tiebreak: str | None = None,
):
    """Streaming MERGE: maintain a keyed snapshot table across epochs by
    applying each micro-batch as a changeset (ops.cdc.apply_changeset —
    upserts + deletes) to the last committed snapshot, writing the new
    snapshot to an epoch-versioned directory plus a `_LATEST` marker.

    This is the change-data-feed consumer shape (Kafka CDC topic →
    up-to-date table) without a table format: Delta/Iceberg MERGE would
    replace the snapshot rewrite with a file-level merge, but the
    changeset semantics — including same-ts tiebreaks — are identical.
    Epoch-overwrite keeps replays idempotent: a replayed epoch re-reads
    the PRIOR epoch's snapshot (the marker is written last) and
    rewrites its own directory. Snapshot rewrite cost is one
    co-partitioned full-outer join per batch — at table scale, bucket
    the snapshot by the key so only the join's changeset side shuffles.
    """
    from pyspark.sql import functions as F  # noqa: F401

    from hadoop_fcfs_spark.ops.cdc import apply_changeset

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        marker = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/_LATEST")
        fs = marker.getFileSystem(conf)
        prev = None
        if fs.exists(marker):
            stream = fs.open(marker)
            try:
                prev = stream.readUTF()
            finally:
                stream.close()
        if prev is not None and prev == f"epoch={epoch_id}":
            # replay of the committed epoch: rebuild from the one before
            prior = int(prev.split("=")[1]) - 1
            prev = f"epoch={prior}" if prior >= 0 else None
        schema = batch_df.drop(op_col).schema
        if prev is None:
            snapshot = spark.createDataFrame([], schema)
        else:
            snapshot = spark.read.schema(schema).parquet(f"{out_dir}/{prev}")
        merged = apply_changeset(
            snapshot, batch_df, key, op_col=op_col, ts_col=ts_col, tiebreak=tiebreak
        )
        merged.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        out = fs.create(marker, True)
        try:
            out.writeUTF(f"epoch={epoch_id}")
        finally:
            out.close()

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _epoch_state_fs(spark, state_dir: str):
    """(jvm, fs, marker Path) for the epoch-versioned state commit
    discipline shared by the stream_maintained_* sinks."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(f"{state_dir}/_LATEST")
    return jvm, marker.getFileSystem(conf), marker


def _epoch_read_prev(fs, marker, epoch_id: int) -> str | None:
    """Committed predecessor epoch dir name (or None). A replay of the
    epoch already named by the marker rebuilds from ITS predecessor —
    applying the same delta twice would double-count."""
    prev = None
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            prev = stream.readUTF()
        finally:
            stream.close()
    if prev is not None and prev == f"epoch={epoch_id}":
        prior = int(prev.split("=")[1]) - 1
        prev = f"epoch={prior}" if prior >= 0 else None
    return prev


def _epoch_commit(jvm, fs, marker, state_dir: str, epoch_id: int, prev) -> None:
    """Flip the marker to the freshly-written epoch, then prune every
    snapshot except {new, predecessor} — replay needs only those two."""
    out = fs.create(marker, True)
    try:
        out.writeUTF(f"epoch={epoch_id}")
    finally:
        out.close()
    keep = {f"epoch={epoch_id}", prev}
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("epoch=") and name not in keep:
            fs.delete(st.getPath(), True)


def stream_maintained_agg(
    stream_df: DataFrame,
    keys: list[str],
    sums: list[tuple[str, str]],
    weight_col: str,
    state_dir: str,
    checkpoint_dir: str,
    cnt_col: str = "n",
):
    """Streaming incremental view maintenance: each micro-batch carries
    ±1-weighted rows (inserts and RETRACTIONS — the CDC feed shape) and
    the maintained SUM/COUNT aggregate is refreshed by
    ops.cdc.merge_agg_delta inside foreachBatch: read current state →
    merge the batch's weighted partial aggregate → overwrite state.
    Exactly the sketch-merge discipline, applied continuously: merge =
    union + groupBy, groups disappear only when count AND sums all net
    to 0, bad retractions stay visible.

    State is the aggregate table itself (|keys| rows of integers — KBs
    to GBs, never raw history). Commit discipline mirrors
    ``stream_upsert_sink``: the state snapshot writes under
    ``epoch=N``, THEN the ``_LATEST`` marker flips to it — readers
    (and replays) follow the marker, never the highest-numbered dir,
    so a crash mid-overwrite can't expose torn state and a replayed
    committed epoch rebuilds from its predecessor. Epochs older than
    the replay predecessor are PRUNED after each commit, so on-disk
    state stays ≤ 2 snapshots regardless of stream lifetime. Returns
    the started StreamingQuery."""
    from pyspark.sql import functions as F

    from hadoop_fcfs_spark.ops.cdc import merge_agg_delta, weighted_partial_agg

    sum_cols = [name for _, name in sums]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm, fs, marker = _epoch_state_fs(spark, state_dir)
        prev = _epoch_read_prev(fs, marker, epoch_id)
        delta = weighted_partial_agg(
            batch_df,
            keys,
            [(F.col(c), name) for c, name in sums],
            F.col(weight_col),
            cnt_col=cnt_col,
        )
        base = (
            spark.read.schema(delta.schema).parquet(f"{state_dir}/{prev}")
            if prev is not None
            else delta.limit(0)  # empty state, same schema/merge path
        )
        merged = merge_agg_delta(base, delta, keys, sum_cols, cnt_col)
        merged.write.mode("overwrite").parquet(f"{state_dir}/epoch={epoch_id}")
        _epoch_commit(jvm, fs, marker, state_dir, epoch_id, prev)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_maintained_sketch(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 200,
):
    """Streaming KLL quantile-sketch maintenance: each micro-batch folds
    into a per-key KLL sketch table, so any quantile of the
    stream-so-far is answerable from KB-sized state at any moment —
    the streaming face of the agg/sketches materialize-once contract
    (and the quantile complement of stream_maintained_agg's exact
    sums; sketches are insert-only — retractions are not representable
    in KLL, use the weighted-agg path for retractable measures).

    Per batch inside foreachBatch: one map-side-combined
    kll_sketch_agg_double over the batch (raw rows never persist),
    union with the current state sketches, merge per key with the
    bounded fold from agg.sketches.kll_quantile_rollup (fan-in = 2
    here: state + delta). Same epoch-versioned marker+prune commit
    discipline as stream_maintained_agg: crash-safe, replay rebuilds
    from the predecessor, on-disk state ≤ 2 snapshots. Returns the
    started StreamingQuery."""
    from pyspark.sql import functions as F

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm, fs, marker = _epoch_state_fs(spark, state_dir)
        prev = _epoch_read_prev(fs, marker, epoch_id)
        delta = batch_df.groupBy(*keys).agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("kll_sketch")
        )
        base = (
            spark.read.schema(delta.schema).parquet(f"{state_dir}/{prev}")
            if prev is not None
            else delta.limit(0)
        )
        from hadoop_fcfs_spark.agg.sketches import kll_merge_fold

        lists = (
            base.unionByName(delta)
            .groupBy(*keys)
            .agg(F.collect_list("kll_sketch").alias("__sks"))
        )
        merged = lists.select(
            *keys, kll_merge_fold(F.col("__sks")).alias("kll_sketch")
        )
        merged.write.mode("overwrite").parquet(f"{state_dir}/epoch={epoch_id}")
        _epoch_commit(jvm, fs, marker, state_dir, epoch_id, prev)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
