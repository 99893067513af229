"""Tests of the benchmark's own maths and inputs (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, stats, trace  # noqa: E402
from perfbench.checks import frame_checksum, oracle_equal  # noqa: E402


@pytest.mark.parametrize("n, index, beyond", [(100, 89, 10), (30, 19, 10), (11, 0, 10), (5, 0, 4)])
def test_tail_percentile_keeps_ten_samples_beyond(n, index, beyond):
    xs = [float(i) for i in range(n)]
    value, pct, got_beyond = stats.tail_percentile(list(reversed(xs)))
    assert value == xs[index]
    assert pct == pytest.approx(100.0 * (index + 1) / n)
    assert got_beyond == beyond
    # the samples strictly above the chosen value are the ones beyond it
    assert sum(x > value for x in xs) == beyond


def test_tail_percentile_of_100_samples_is_p90():
    value, pct, beyond = stats.tail_percentile(range(1, 101))
    assert (value, pct, beyond) == (90.0, 90.0, 10)


def test_gmean():
    assert stats.gmean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.gmean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    # scale-free: one operation 10x slower moves the mean by 10**(1/n)
    assert stats.gmean([10.0, 1.0, 1.0, 1.0]) == pytest.approx(10 ** 0.25)
    with pytest.raises(ValueError):
        stats.gmean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.gmean([])


def test_failed_share():
    assert stats.failed_share(0, 10) == 0.0
    assert stats.failed_share(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failed_share(0, 0)
    with pytest.raises(ValueError):
        stats.failed_share(5, 4)


def test_iqr_share_matches_statistics_quantiles():
    values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = (2.75, 5.5, 8.25)  # statistics.quantiles(values, n=4), exclusive method
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / 5.5)


def _frame():
    return pd.DataFrame({
        "k": np.arange(50, dtype=np.int64),
        "name": [f"row{i}" for i in range(50)],
        "x": np.linspace(0.0, 1.0, 50),
        "ts": pd.date_range("2024-01-01", periods=50, freq="h"),
        "maybe": [None if i % 7 == 0 else f"v{i}" for i in range(50)],
    })


def test_checksum_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.sample(frac=1.0, random_state=3)[["x", "maybe", "ts", "name", "k"]]
    assert frame_checksum(shuffled) == frame_checksum(df)


def test_checksum_moves_on_changed_dropped_or_duplicated_rows():
    df = _frame()
    base = frame_checksum(df)
    changed = df.copy()
    changed.loc[10, "name"] = "other"
    assert frame_checksum(changed) != base
    assert frame_checksum(df.drop(index=5)) != base
    dup = pd.concat([df, df.iloc[[5]]])
    assert frame_checksum(dup)[0] == base[0] + 1
    assert frame_checksum(dup) != base


def test_checksum_normalizes_types_and_float_noise():
    df = _frame()
    narrow = df.assign(k=df["k"].astype("int32"))
    noisy = df.assign(x=df["x"] + 1e-12)
    assert frame_checksum(narrow) == frame_checksum(df)
    assert frame_checksum(noisy) == frame_checksum(df)
    assert frame_checksum(df.iloc[0:0]) == (0, 0)


def test_combine_row_hashes_is_sum_mod_2_63():
    hashes = np.array([2**64 - 1, 2**63, 5], dtype=np.uint64)
    assert stats.combine_row_hashes(hashes) == (3, (2**64 - 1 + 2**63 + 5) % 2**63)


def test_oracle_equal_is_order_insensitive_and_strict():
    df = _frame()
    assert oracle_equal(df, df.iloc[::-1])
    assert not oracle_equal(df, df.drop(columns=["x"]))
    assert not oracle_equal(df, df.iloc[1:])
    assert not oracle_equal(df.iloc[0:0], df.iloc[0:0])  # empty results never pass


def test_gc_log_totals_takes_the_largest_heap_after_a_pause(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text("\n".join([
        "[0.512s][info][gc] Using G1",
        "[1.204s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 51M->12M(1024M) 4.120ms",
        "[3.871s][info][gc] GC(1) Pause Young (Concurrent Start) (G1 Humongous Allocation) "
        "312M->140M(1024M) 9.813ms",
        "[3.990s][info][gc] GC(2) Concurrent Mark Cycle 95.217ms",
        "[4.002s][info][gc] GC(2) Pause Remark 151M->150M(1024M) 2.105ms",
        "[4.100s][info][gc] GC(3) Pause Young (Normal) (G1 Evacuation Pause) 600M->96M(1024M) 5.5ms",
    ]) + "\n")
    assert trace.gc_log_totals(str(log)) == {"heap_after_gc_peak": 150 * 1024 * 1024, "gc_pauses": 4}


def test_event_log_by_job_counts_a_shared_stage_once(tmp_path):
    import json

    def task(stage, cpu_ns, written):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                                 "Shuffle Read Metrics": {"Local Bytes Read": 2, "Remote Bytes Read": 3}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1]},
        task(0, 100, 10), task(1, 200, 0),
        # job 1 lists stage 1 again but skips it: only stage 2 runs
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2]},
        task(2, 50, 0),
    ]
    log_dir = tmp_path / "app" / "eventlog_v2_local-1"
    log_dir.mkdir(parents=True)
    (log_dir / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    by_job = trace.event_log_by_job(str(tmp_path / "app"))
    assert by_job[0] == {"shuffle_write": 10, "shuffle_read": 10, "spill": 0, "gc_ms": 2, "cpu_ns": 300}
    assert by_job[1] == {"shuffle_write": 0, "shuffle_read": 5, "spill": 0, "gc_ms": 1, "cpu_ns": 50}


def test_tables_are_reproducible_per_seed(tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    rows = datagen.write_tables(str(a), 7)
    datagen.write_tables(str(b), 7)
    datagen.write_tables(str(c), 8)
    assert sorted(p.name for p in a.iterdir()) == sorted(f"{t}.parquet" for t in datagen.TABLES)
    for t in datagen.TABLES:
        ta, tb, tc = (pq.read_table(d / f"{t}.parquet") for d in (a, b, c))
        assert ta.equals(tb), t
        assert ta.num_rows == rows.get(t, ta.num_rows)
        if t not in ("region", "nation"):
            assert not ta.equals(tc), t


def test_doc_feed_is_reproducible_and_carries_duplicates():
    d1, d2 = datagen.DocFeed(5), datagen.DocFeed(5)
    first = [d1.next(200) for _ in range(3)]
    assert all(x.equals(d2.next(200)) for x in first)
    texts = [t.strip(" ").lower() for tbl in first for t in tbl.column("text").to_pylist()]
    assert len(set(texts)) < len(texts)  # in-batch and cross-batch duplicates
