"""The closed loop: set-up, check round, timed rounds, and the report."""

from __future__ import annotations

import os
import pickle
import random
import statistics
import subprocess
import sys
import time

from perfbench import stats
from perfbench.trace import EVENT_KEYS, RssSampler, Tracer, event_log_by_job, gc_log_totals
from perfbench.workloads import WORKLOADS, Ctx, QueryOp

MB = 1024 * 1024
# The first timed round still runs 5-20 % slower than the later ones (the
# JVM is warm, terasort and the stream are not quite); with three rounds the
# medians of the timed figures leave it out, as they leave out one round hit
# by a stall. A round takes 5-8 s, so at 15 timed seconds a run almost
# always has exactly three rounds.
MIN_ROUNDS = 3


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Runner:
    def __init__(self, workload, seed: int, work: str, trace: bool, cpus: int):
        self.wl = workload
        self.seed = seed
        self.work = work
        self.tracer = Tracer(trace)
        self.cpus = cpus
        self.rng = random.Random(seed)
        self.spark = None
        self.sampler = None
        self.versions: dict = {}
        self.heap_bytes = 0
        self.full_gc_s = 0.0

    def _op(self, ctx: Ctx, op, op_id: str, timed: bool) -> tuple[bool, float, dict]:
        """Run one operation: timed, or (``timed`` False) the set-up check
        against the oracle."""
        rec: dict = {}
        tr = self.tracer
        tr.begin_op(op_id, op.name)
        s = time.perf_counter()
        try:
            with tr.span(op.name):
                if not timed and op.check is not None:
                    ok = op.check(ctx)
                else:
                    ok = op.run(ctx, rec)
        except Exception as e:  # noqa: BLE001 — a raising operation is a failed one
            print(f"# {op_id} raised {type(e).__name__}: {str(e)[:300]}", flush=True)
            ok = False
        dt = time.perf_counter() - s
        if timed:
            rec["job_ids"] = tr.group_jobs(op_id) + rec.pop("stream_jobs", [])
            if tr.enabled:
                rec.update(tr.job_stats(rec["job_ids"]))
        tr.end_op()
        if timed:
            s = time.perf_counter()
            rec["heap_live"] = self._live_heap()
            self.full_gc_s += time.perf_counter() - s
        if not ok:
            print(f"# {op_id} FAILED", flush=True)
        return ok, dt, rec

    def _live_heap(self) -> int:
        """Bytes in use on the heap after a full collection: what the
        program still holds once an operation has ended. Outside the
        operation's time; the next operation starts from a collected heap."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return rt.totalMemory() - rt.freeMemory()

    def _round(self, ctx: Ctx, ops: list, round_no: int, report) -> bool:
        """Every operation once, in a seeded order; round 0 is the check
        round of set-up, the others are timed."""
        order = list(ops)
        self.rng.shuffle(order)
        all_ok = True
        for i, op in enumerate(order):
            op_id = f"r{round_no}.{i}.{op.name}"
            ok, dt, rec = self._op(ctx, op, op_id, round_no > 0)
            all_ok &= ok
            if round_no > 0:
                report.add_op(op, op_id, ok, dt, rec)
            else:
                report.setup_op_s[op.name] = round(dt, 3)
        return all_ok

    def run(self, seconds: float) -> "Report":
        report = Report(self)
        rep = report.layer
        report.loadavg_before = os.getloadavg()
        ops = self.wl.ops()

        # the benchmark's own preparation: a child process that has ended
        # before set-up starts, so neither its time nor its memory counts
        s = time.perf_counter()
        data_dir = os.path.join(self.work, "data")
        prep = _prepare(data_dir, self.work, self.seed,
                        [op.name for op in ops if isinstance(op, QueryOp)])
        report.input_rows = prep["rows"]
        report.prep_s = time.perf_counter() - s

        t_setup = time.perf_counter()
        from hadoop_fcfs_spark.registry import all_queries
        from hadoop_fcfs_spark.session import get_spark

        self.spark = get_spark(f"perfbench:{self.wl.name}")
        rep["session.get_spark_s"] = time.perf_counter() - t_setup
        self.versions = _versions(self.spark)
        self.heap_bytes = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime().totalMemory()
        self.sampler = RssSampler()
        self.sampler.start()
        self.tracer.attach(self.spark)
        self.tracer.install_table_wrappers()

        ctx = Ctx(self.spark, data_dir, self.work, self.tracer)
        ctx.queries = all_queries()
        ctx.oracle = prep["answers"]
        report.families = {op.name: op.family(ctx) for op in ops}

        # warm-up: the check round, every operation once, cold, against its
        # oracle. With the JVM on C1 the first timed round already runs at
        # the speed of the later ones.
        s = time.perf_counter()
        self.wl.start(ctx)
        report.checks_ok = self._round(ctx, ops, 0, report)
        rep["session.warm_s"] = time.perf_counter() - s
        report.setup_s = time.perf_counter() - t_setup
        report.t_first_s = _mean(self.tracer.t_miss_s)
        calls0, hits0 = self.tracer.t_calls, self.tracer.t_hits

        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        round_no = 1
        while True:
            s, gc0 = time.perf_counter(), self.full_gc_s
            self._round(ctx, ops, round_no, report)
            report.round_s.append(time.perf_counter() - s - (self.full_gc_s - gc0))
            round_no += 1
            if round_no > MIN_ROUNDS and time.perf_counter() - t0 >= seconds:
                break
        report.timed_s = time.perf_counter() - t0
        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        report.steal_share = ticks[7] / sum(ticks) if sum(ticks) else 0.0
        report.t_calls = self.tracer.t_calls - calls0
        report.t_hits = self.tracer.t_hits - hits0
        if not self.wl.final_check(ctx):
            print("# end-of-run state check FAILED", flush=True)
            report.checks_ok = False
        report.loadavg_after = os.getloadavg()
        return report

    def close(self) -> None:
        self.wl.close()
        if self.sampler is not None:
            self.sampler.stop()


def _cpu_ticks() -> list[int]:
    """The machine's CPU time in clock ticks from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _prepare(data_dir: str, work: str, seed: int, queries: list[str]) -> dict:
    """Inputs and oracle answers from ``perfbench.prep``, run in a child."""
    out = os.path.join(work, "prep.pkl")
    subprocess.run([sys.executable, "-m", "perfbench.prep", data_dir, str(seed), out, *queries],
                   check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


def _versions(spark) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {"spark": spark.version, "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version()}


class Report:
    def __init__(self, runner: Runner):
        self.runner = runner
        self.layer: dict[str, float] = {}
        self.ops: list[dict] = []
        self.round_s: list[float] = []
        self.setup_op_s: dict[str, float] = {}
        self.checks_ok = True
        self.input_rows: dict = {}
        self.families: dict = {}

    def add_op(self, op, op_id: str, ok: bool, dt: float, rec: dict) -> None:
        self.ops.append({"name": op.name, "id": op_id, "ok": ok, "s": dt, **rec})

    def finish(self) -> None:
        """After the session has stopped: memory, GC-log totals, and each
        operation's share of the event log (its jobs' tasks). The heap is
        pre-touched, so the JVM's resident set holds all of it from the
        start; the heap counts by what it holds after a full collection at
        the end of each operation instead, the rest of the tree by its
        resident set."""
        r = self.runner
        self.gc = gc_log_totals(os.path.join(r.work, "gc.log"))
        self.nonheap_peak = r.sampler.peak - r.heap_bytes
        self.heap_live_peak = max(o["heap_live"] for o in self.ops)
        self.peak_mem = self.nonheap_peak + self.heap_live_peak
        by_job = event_log_by_job(os.path.join(r.work, "eventlog"))
        for o in self.ops:
            o["jobs"] = len(o["job_ids"])
            for k in EVENT_KEYS:
                o[k] = sum(by_job[j][k] for j in o["job_ids"] if j in by_job)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops)

    def _op_medians(self, key: str) -> dict[str, float]:
        by_op: dict[str, list[float]] = {}
        for o in self.ops:
            by_op.setdefault(o["name"], []).append(o[key])
        return {k: stats.median(v) for k, v in by_op.items()}

    def ops_per_s(self) -> float:
        """A round runs every operation once: operations per round over the
        median round, so one round hit by a stall does not move it."""
        return len(self.ops) / len(self.round_s) / stats.median(self.round_s)

    def timings(self) -> dict:
        """The timed figures of the operations: wall clock, and the CPU time
        of their tasks from the event log. They stay out of the end-to-end
        metrics: from run to run they move by 10-40 % (see the README),
        more than any bound allows."""
        return {
            "ops_per_s": (self.ops_per_s(), "ops/s"),
            "query_gmean_s": (stats.gmean(self._op_medians("s").values()), "s"),
            "query_task_cpu_gmean_s": (stats.gmean(v / 1e9 for v in self._op_medians("cpu_ns").values()), "s"),
        }

    def end_to_end(self) -> dict:
        n = len(self.ops)
        return {
            "setup_s": (self.setup_s, "s"),
            "jobs_per_op": (sum(o["jobs"] for o in self.ops) / n, "count"),
            "shuffle_mb_per_op": (sum(o["shuffle_write"] for o in self.ops) / MB / n, "MB"),
            "peak_mem_mb": (self.peak_mem / MB, "MB"),
        }

    def per_layer(self) -> dict:
        ops, n = self.ops, len(self.ops)
        m: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in self.layer.items()}
        m["tables.t_first_s"] = (self.t_first_s, "s")
        m["tables.t_calls"] = (self.t_calls, "count")
        m["tables.t_hit_ratio"] = (self.t_hits / self.t_calls if self.t_calls else 0.0, "ratio")

        def med(key):
            return _median(o[key] for o in ops if key in o)

        def per_op(key):
            return sum(o.get(key, 0) for o in ops) / n

        m["registry.build_s"] = (med("build_s"), "s")
        m["registry.build_jobs"] = (per_op("build_jobs"), "count")
        m["engine.exec_s"] = (med("exec_s"), "s")
        m["engine.jobs_per_op"] = (per_op("jobs"), "count")
        m["engine.stages_per_op"] = (per_op("stages"), "count")
        m["engine.tasks_per_op"] = (per_op("tasks"), "count")
        m["engine.failed_tasks"] = (sum(o.get("failed_tasks", 0) for o in ops), "count")
        m["engine.shuffle_write_mb_per_op"] = (per_op("shuffle_write") / MB, "MB")
        m["engine.shuffle_read_mb_per_op"] = (per_op("shuffle_read") / MB, "MB")
        m["engine.spill_mb_per_op"] = (per_op("spill") / MB, "MB")
        m["engine.gc_s_per_op"] = (per_op("gc_ms") / 1e3, "s")
        m["engine.executor_cpu_s_per_op"] = (per_op("cpu_ns") / 1e9, "s")
        for wl in WORKLOADS.values():
            for name in wl.op_names:
                m[f"query.{name}.p50_s"] = (_median(o["s"] for o in ops if o["name"] == name), "s")
        m["caching.waypoints_per_op"] = (per_op("waypoints"), "count")
        m["caching.release_s"] = (med("release_s"), "s")
        m["io.write_s"] = (med("write_s"), "s")
        m["io.read_s"] = (med("read_s"), "s")
        m["io.bytes_written"] = (per_op("bytes_written"), "bytes")
        m["io.files_written"] = (per_op("files_written"), "count")
        wsum = sum(o.get("write_s", 0) for o in ops)
        m["io.write_mb_s"] = (sum(o.get("bytes_written", 0) for o in ops) / MB / wsum if wsum else 0.0,
                              "MB/s")
        ing = self.runner.wl.ingest
        disk = ing.disk if ing is not None else {}
        m["io.write_amp"] = (disk.get("write_amp", 0.0), "ratio")
        m["streaming.batch_s"] = (med("batch_s"), "s")
        m["streaming.add_batch_s"] = (med("add_batch_s"), "s")
        bsum = sum(o.get("batch_s", 0) for o in ops)
        m["streaming.rows_per_s"] = (sum(o.get("rows", 0) for o in ops) / bsum if bsum else 0.0, "rows/s")
        m["streaming.state_bytes"] = (disk.get("state_bytes", 0), "bytes")
        m["memory.heap_live_peak_mb"] = (self.heap_live_peak / MB, "MB")
        m["memory.heap_after_gc_peak_mb"] = (self.gc["heap_after_gc_peak"] / MB, "MB")
        m["memory.nonheap_rss_peak_mb"] = (self.nonheap_peak / MB, "MB")
        m["memory.gc_pauses_per_op"] = (self.gc["gc_pauses"] / n, "count")
        m["check.failed_op_share"] = (stats.failed_share(self.failed, n), "ratio")
        for k, v in self.timings().items():
            m[f"trace.{k}"] = v
        return m

    def metrics(self, trace: bool) -> dict:
        m = self.per_layer() if trace else self.end_to_end()
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    def info(self) -> dict:
        """The run record: the machine, set-up, every timed latency and the
        figures kept out of the result (``op_p50_s``, ``op_tail``)."""
        e2e = self.end_to_end()
        r = self.runner
        lat = [o["s"] for o in self.ops]
        tail, pct, beyond = stats.tail_percentile(lat)
        info = {
            "nproc": os.cpu_count(), "master": f"local[{r.cpus}]",
            "loadavg_before": [round(x, 2) for x in self.loadavg_before],
            "loadavg_after": [round(x, 2) for x in self.loadavg_after],
            # CPU time the hypervisor gave to other guests during the timed
            # rounds, as a share of the machine's CPU time
            "cpu_steal_share": round(self.steal_share, 4),
            "setup_op_s": self.setup_op_s, "setup_layers_s": {k: round(v, 3) for k, v in self.layer.items()},
            "round_s": [round(x, 3) for x in self.round_s], "timed_s": round(self.timed_s, 3),
            "attempted": self.attempted, "failed": self.failed,
            "failed_op_share": stats.failed_share(self.failed, self.attempted),
            "checks_ok": self.checks_ok, "op_p50_s": stats.median(lat),
            "op_tail": {"op_tail_s": tail, "percentile": pct, "samples_beyond": beyond,
                        "samples": len(lat)},
            "rss_peaks_mb": sorted((round(v / MB, 1) for v in r.sampler.by_pid.values()), reverse=True),
            "families": self.families,
            "op_s": {k: [round(o["s"], 3) for o in self.ops if o["name"] == k] for k in self.families},
            "op_median_s": {k: round(_median(o["s"] for o in self.ops if o["name"] == k), 4)
                            for k in self.families}, "input_rows": self.input_rows,
            "end_to_end": {k: round(v, 4) for k, (v, _) in e2e.items()},
            "timings": {k: round(v, 4) for k, (v, _) in self.timings().items()},
            "op_task_cpu_median_s": {k: round(v / 1e9, 4) for k, v in self._op_medians("cpu_ns").items()},
            "prep_s": round(self.prep_s, 3), "heap_mb": r.heap_bytes / MB,
            "heap_live_peak_mb": self.heap_live_peak / MB,
            "heap_after_gc_peak_mb": self.gc["heap_after_gc_peak"] / MB,
            "gc_pauses": self.gc["gc_pauses"],
        }
        if r.tracer.enabled:
            pl = self.per_layer()
            info["bypass_broken"] = {k: pl[k][0] for k in r.wl.bypass if pl[k][0] != 0}
        return info

    def result(self, trace: bool) -> dict:
        return {
            "correct": self.checks_ok and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.metrics(trace),
        }
