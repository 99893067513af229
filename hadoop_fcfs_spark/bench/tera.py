"""TeraGen / TeraSort / TeraValidate equivalents.

Parity targets (reference ``examples/terasort/`` — SURVEY.md §2.5/§5):
- ``TeraGen.java:59``: 100-byte records = 10-byte random key + 2-byte
  break + 32-byte row id + filler. Here: ``spark.range(n)`` + a
  deterministic key expression (xxhash64-derived bytes — same
  reproducibility contract as TeraGen's seeded Random, no RNG state).
- ``TeraSort.java:43``: global total order. The reference hand-builds
  sampling (``TeraInputFormat.writePartitionFile:115``) + a 2-level
  trie partitioner; ``df.orderBy`` runs Spark's RangePartitioner which
  does sample→split-points→route internally. Concatenating output
  part files in order yields globally sorted data — the TeraSort
  contract.
- ``TeraValidate.java`` / ``SortValidator.java:54``: (a) within each
  partition keys are non-decreasing, (b) each partition's last key is
  at most the next partition's first key, (c) a content checksum (sum
  of per-record CRC-32 over key and value) is preserved input→output —
  catching dropped, duplicated or altered rows, not just misordering.
  :func:`teravalidate` is one partition-local JVM pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def teragen(spark: SparkSession, num_rows: int, partitions: int | None = None) -> DataFrame:
    """Deterministic 100-byte-ish records: (key binary(10), rowid long,
    filler string). key bytes derive from xxhash64(id, salt) — uniform,
    reproducible, order-free."""
    df = spark.range(0, num_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    h1 = F.xxhash64(F.col("id"), F.lit(1))
    h2 = F.xxhash64(F.col("id"), F.lit(2))
    # 10-byte key: 8 bytes of h1 + first 2 bytes of h2 (hex → unhex)
    key_hex = F.concat(
        F.lpad(F.hex(h1), 16, "0"), F.substring(F.lpad(F.hex(h2), 16, "0"), 1, 4)
    )
    return df.select(
        F.unhex(key_hex).alias("key"),
        F.col("id").alias("rowid"),
        F.rpad(F.concat(F.lit("row-"), F.col("id").cast("string")), 88, "X").alias("filler"),
    )


def terasort(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Global total-order sort on the binary key (unsigned bytewise —
    Spark compares BinaryType lexicographically unsigned, the same
    order TeraSort's raw-byte comparator produces)."""
    return df.orderBy(key_col)


# monotonically_increasing_id() is (partition index << 33) | row index
_ROW_BITS = (1 << 33) - 1
_CHECKSUM_MASK = 0x7FFFFFFFFFFFFFFF


def _validation(sorted_df: DataFrame, key_col: str) -> tuple[DataFrame, Observation]:
    """The validator's one partition-local pass: every partition's first
    and last row ``(pid, first, last, key)`` — at most two rows per
    partition — plus an observation of ``rows``, ``displaced`` and
    ``checksum`` over all rows, filled in by the action that collects the
    edges.

    - ``__m1`` is each row's place in its partition as stored.
    - A local re-sort by ``(key, __m1)`` assigns ``__m2``: a row is
      displaced exactly when its place moves, so a partition is sorted
      exactly when ``__m1 == __m2`` on all its rows. ``__m1`` keeps tied
      keys in their stored order even where the sort merges spilled
      runs, which is not stable.
    - A local re-sort by ``__m1`` descending assigns ``__m3``: row index 0
      of ``__m1`` is the partition's first row, of ``__m3`` its last.

    Both re-sorts stay inside the partition, so the pass adds no exchange
    and runs in the JVM. The ids between the sorts are nondeterministic,
    which keeps Catalyst from dropping the first sort as overridden by the
    second. The row index has 33 bits: a partition may hold at most 2^33
    rows."""
    record = F.concat(
        F.col(key_col),
        *[F.col(c).cast("string").cast("binary") for c in sorted_df.columns if c != key_col],
    )
    stored = sorted_df.select(
        F.col(key_col).alias("__k"),
        F.crc32(record).alias("__crc"),
        F.monotonically_increasing_id().alias("__m1"),
    )
    local = (
        stored.sortWithinPartitions("__k", "__m1")
        .withColumn("__m2", F.monotonically_increasing_id())
        .sortWithinPartitions(F.col("__m1").desc())
        .withColumn("__m3", F.monotonically_increasing_id())
    )
    obs = Observation()
    first = F.col("__m1").bitwiseAND(_ROW_BITS) == 0
    last = F.col("__m3").bitwiseAND(_ROW_BITS) == 0
    edges = (
        local.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.col("__m1") != F.col("__m2")).alias("displaced"),
            F.sum(F.col("__crc").cast("decimal(38,0)")).alias("checksum"),
        )
        .where(first | last)
        .select(
            F.shiftright("__m1", 33).alias("pid"),
            first.alias("first"),
            last.alias("last"),
            F.col("__k").alias("key"),
        )
    )
    return edges, obs


def teravalidate(sorted_df: DataFrame, key_col: str = "key") -> dict:
    """TeraValidate (``TeraValidate.java``): is ``sorted_df`` totally
    ordered by ``key_col`` in partition order, and what does it hold?
    One partition-local JVM pass (:func:`_validation`), no exchange of
    its own and no Python worker; the driver receives only each
    partition's first and last key, as TeraValidate's reducer receives
    the mappers' ``:begin``/``:end`` records.

    Returns {'ok', 'rows', 'checksum', 'order_violations',
    'boundary_violations'}:

    - ``order_violations``: rows out of place inside their partition —
      those a stable sort of the partition by key would move; 0 exactly
      when every partition is sorted.
    - ``boundary_violations``: adjacent non-empty partitions whose
      earlier partition's last key is greater than the later one's first
      key.
    - ``checksum``: sum of the CRC-32 of every whole record mod 2^63,
      TeraValidate's key+value checksum: the key bytes followed by the
      other columns in schema order, each as the UTF-8 bytes of its
      string form (``rowid`` 12 as ``b"12"``). Order-free, so it
      matches between unsorted input and sorted output; it reads every
      column, so a sort cannot prune the payload from its exchange. A
      record with a NULL field adds nothing to it (TeraGen writes none).
    - ``ok``: no order and no boundary violation.

    Keys compare as unsigned bytes (Spark's BinaryType order). At most
    2^33 rows per partition (the row-index bits of
    ``monotonically_increasing_id``)."""
    edges, obs = _validation(sorted_df, key_col)
    firsts, lasts = {}, {}
    for r in edges.collect():
        if r["first"]:
            firsts[r["pid"]] = bytes(r["key"])
        if r["last"]:
            lasts[r["pid"]] = bytes(r["key"])
    m = obs.get
    pids = sorted(firsts)
    boundary_violations = sum(lasts[a] > firsts[b] for a, b in zip(pids, pids[1:]))
    order_violations = m["displaced"]
    return {
        "ok": order_violations == 0 and boundary_violations == 0,
        "rows": m["rows"],
        "checksum": int(m["checksum"] or 0) & _CHECKSUM_MASK,
        "order_violations": order_violations,
        "boundary_violations": boundary_violations,
    }
