"""Measurement plumbing: the process-tree RSS sampler, the GC-log reader,
the per-operation job groups and the event-log reader (every run), and the
tracer's extras in the traced run (spans, stage and task counts through
``statusTracker``, ``tables.t`` call accounting).

Nothing here changes the package under test: ``tables.t`` is wrapped from
the outside, by rebinding the name in the modules that imported it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import threading
import time

SAMPLE_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _vm(pid: int) -> tuple[int, int]:
    """(VmHWM, VmSize) of ``pid`` in bytes: its peak resident set size and
    its address-space size; (0, 0) if it has gone."""
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key, _, rest = line.partition(":")
                if key in ("VmHWM", "VmSize"):
                    out[key] = int(rest.split()[0]) * 1024
    except OSError:
        pass
    return out.get("VmHWM", 0), out.get("VmSize", 0)


def tree_pids(root_pid: int) -> list[tuple[int, int | None]]:
    """(pid, parent pid) of ``root_pid`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [(root_pid, None)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((k, pid) for k in kids.get(pid, ()))
    return out


class RssSampler:
    """Peak memory of this process tree: the Python client, the JVM it
    launched and the JVM's Python workers. Every ``SAMPLE_S`` seconds it
    sums the kernel-tracked peak RSS (VmHWM) of the live processes and
    keeps the largest sum: spikes of a live process between samples are
    not missed, and workers that have exited stop counting. A child that
    reports exactly its parent's memory is a vfork child between fork and
    exec (the JVM starts its helpers that way); it shares the parent's
    pages and is not counted again."""

    def __init__(self):
        self.peak = 0
        self.by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        tree = tree_pids(os.getpid())
        vm = {pid: _vm(pid) for pid, _ in tree}
        live = {pid: vm[pid][0] for pid, parent in tree if parent is None or vm[pid] != vm[parent]}
        self.peak = max(self.peak, sum(live.values()))
        for pid, b in live.items():
            self.by_pid[pid] = max(self.by_pid.get(pid, 0), b)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(SAMPLE_S):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


_GC_PAUSE = re.compile(r"\bPause .* (\d+)M->(\d+)M\((\d+)M\)")


def gc_log_totals(path: str) -> dict[str, float]:
    """Heap figures from the JVM's ``-Xlog:gc`` file: the largest heap
    occupancy right after a collection (the live heap plus whatever old
    garbage the collector has not reached yet), in bytes, and the number
    of collection pauses."""
    after, pauses = 0, 0
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.search(line)
            if m:
                pauses += 1
                after = max(after, int(m.group(2)))
    return {"heap_after_gc_peak": after * 1024 * 1024, "gc_pauses": pauses}


class Tracer:
    """Per-operation attribution. Every run gives each operation its own
    job group, so the event log can be split by operation; the rest
    (spans, stage and task counts, ``tables.t`` accounting) is the traced
    run's, and disabled it costs nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.sc = None
        self.t_calls = 0
        self.t_hits = 0
        self.t_miss_s: list[float] = []

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def begin_op(self, op_id: str, name: str) -> None:
        self.op_id = op_id
        self.sc.setJobGroup(op_id, name)

    def end_op(self) -> None:
        self.op_id = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids) -> dict[str, int]:
        """Jobs, executed stages, completed and failed tasks of ``job_ids``."""
        st = self.sc.statusTracker()
        stages, tasks, failed = set(), 0, 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is None or s in stages or si.numCompletedTasks == 0:
                    continue
                stages.add(s)
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks, "failed_tasks": failed}

    def install_table_wrappers(self) -> None:
        """Count and time ``tables.t``: a call that adds a handle to the
        memo is a miss (the cold build), any other call a hit."""
        if not self.enabled:
            return
        import importlib

        from hadoop_fcfs_spark import tables

        orig = tables.t

        def traced_t(spark, sf_dir, name):
            before = len(tables._HANDLES)
            with self.span(f"tables.t:{name}"):
                s = time.perf_counter()
                df = orig(spark, sf_dir, name)
                d = time.perf_counter() - s
            self.t_calls += 1
            if len(tables._HANDLES) > before:
                self.t_miss_s.append(d)
            else:
                self.t_hits += 1
            return df

        tables.t = traced_t
        for mod in ("queries_agg", "queries_io", "queries_llm", "queries_relational",
                    "queries_streaming"):
            m = importlib.import_module(f"hadoop_fcfs_spark.{mod}")
            if getattr(m, "t", None) is orig:
                m.t = traced_t

    def write_spans(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


EVENT_KEYS = ("shuffle_write", "shuffle_read", "spill", "gc_ms", "cpu_ns")


def event_log_by_job(log_dir: str) -> dict[int, dict[str, int]]:
    """Shuffle, spill, GC and executor CPU totals of every job's tasks, from
    the (uncompressed) Spark event log. A stage that several jobs list runs
    its tasks once, in the first of them; the later ones skip it."""
    stage_job: dict[int, int] = {}
    by_job: dict[int, dict[str, int]] = {}
    # Spark 4 writes a rolling log: a directory of ``events_N_*`` files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    paths += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    by_job[job] = dict.fromkeys(EVENT_KEYS, 0)
                    for s in ev.get("Stage IDs", ()):
                        stage_job.setdefault(s, job)
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                    tot = by_job[stage_job[ev["Stage ID"]]]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    tot["spill"] += m.get("Disk Bytes Spilled", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
    return by_job
