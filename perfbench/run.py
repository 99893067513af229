"""Benchmark entry point.

    python3 perfbench/run.py --workload relational_mr --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives one SparkSession from
``hadoop_fcfs_spark.session.get_spark`` on ``local[N]``, N = min(nproc, 4).
A child process first writes the seeded inputs and the DuckDB oracle
answers. Set-up then starts the session and runs one check round (every
operation compared with its oracle, its row count and checksum
recorded); the timed part then runs complete rounds, in a
seeded order per round, until ``--seconds`` have passed. Every timed
operation must reproduce its recorded output.

The last line of stdout is the result JSON; with ``--trace 0`` its metrics
are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The lines before it describe the machine and the run.
Everything the run writes goes under ``.bench_work/`` and ``.bench_out/``
in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

MAX_CPUS = 4
DRIVER_MEM = "1g"


def _session_env(work: str) -> int:
    """Pin the core count, the heap, and every scratch path under
    ``work`` before the JVM starts. Returns the core count."""
    cpus = max(1, min(os.cpu_count() or 1, MAX_CPUS))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp from any JVM spark-submit starts
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap, so the resident set does not depend on
        # when G1 happened to grow the heap; peak_mem_mb counts the heap by
        # its occupancy after collections, from the GC log. C1 only:
        # a run lasts about a minute, and with C2 the rounds kept speeding
        # up for the whole of it while its compiler threads competed with
        # the 4 task threads. C1 alone defaults to a 48 MB code cache, which
        # llm_corpus fills, after which the JVM stops compiling; 240 MB is
        # the size the default tiered JVM reserves.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            f"-XX:ReservedCodeCacheSize=240m -Xlog:gc:file={os.path.join(work, 'gc.log')} "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
    }
    # every run: the executor CPU, shuffle and job figures come from it
    os.makedirs(os.path.join(work, "eventlog"))
    confs.update({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
    })
    import shlex

    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return cpus


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait until it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_fcfs_spark", "session.py")):
        print("run from the repository root: hadoop_fcfs_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work")
    out_dir = os.path.join(root, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    trace = bool(args.trace)
    cpus = _session_env(work)

    from perfbench.runner import Runner

    runner = Runner(WORKLOADS[args.workload](args.seed), args.seed, work, trace, cpus)
    try:
        report = runner.run(args.seconds)
    finally:
        if runner.spark is not None:
            runner.close()
            _stop_session(runner.spark)
    report.finish()
    info = report.info()
    info["versions"] = runner.versions
    print(f"# {args.workload} seed={args.seed} trace={args.trace} " + json.dumps(info), flush=True)
    if info.get("bypass_broken"):
        print(f"# WARNING: bypass prediction broken: {info['bypass_broken']}", flush=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"info": info, "metrics": report.metrics(trace)}, f, indent=1)
    runner.tracer.write_spans(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report.result(trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
