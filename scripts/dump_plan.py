#!/usr/bin/env python
"""Dump explain("formatted") for named registry queries to plans/rN/,
and count the Spark jobs each query runs.

Usage:
    python scripts/dump_plan.py r17 before dsir_selection corpus_pipeline_v4 ...

Writes plans/<round>/<query>_<tag>.txt per query (plan claims are
checked against these files). Each file ends with the query's
normalized Exchange lines: those of the executed plan, cached subplans
included, with expression ids (#123), plan ids, node numbers (12) and
the tree drawing stripped — so plan identity between two trees is a
`diff` of the two runs' files. Each query then builds and runs (fetched
with toPandas, as the benchmark does) under its own job group, so the
printed line carries its Spark job count, the shuffle bytes its jobs
wrote and the executor CPU seconds their tasks used next to its
exchange count: a job-count, shuffle or CPU regression shows in
seconds, without a benchmark run. All three include the eager jobs the
plan build launches; a stage listed by several jobs counts once, and a
skipped stage not at all. Every table of the sf dir is opened before
the first query: a table's first `spark.read.parquet`
runs a one-off schema job (its footer read), which would otherwise
land on whichever query reads that table first, so a query's job count
does not depend on where it sits in argv. Each run has its own job
group (its argv position is part of the name), so a query named twice
is counted twice, not summed; the executor CPU of a query's first run
in the session includes its JIT and whole-stage code-generation
warm-up (at sf0.1 `dedup_minhash_lsh` used 5-8 s first, 1.4-2.6 s
after), so compare CPU over the later runs of a query named several
times. Uses the same
session defaults as bench.py (local[$SPARK_GRAFT_CPUS], sf dir from
$SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_fcfs_spark.caching import release_waypoints  # noqa: E402
from hadoop_fcfs_spark.registry import all_queries  # noqa: E402
from hadoop_fcfs_spark.session import get_spark  # noqa: E402
from hadoop_fcfs_spark.tables import register_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def stage_totals(sc, job_ids) -> tuple[int, float]:
    """Shuffle bytes written and executor CPU seconds of the stages of
    `job_ids` that ran, read from the application status store once its
    listener has caught up. A stage listed by several jobs counts once,
    a skipped stage not at all."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = set()
    for job in job_ids:
        ids = store.job(job).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    ran = [st for st in (store.lastStageAttempt(s) for s in stages)
           if st.status().toString() == "COMPLETE"]
    shuffle = sum(st.shuffleWriteBytes() for st in ran)
    cpu_ns = sum(st.executorCpuTime() for st in ran)
    return shuffle, cpu_ns / 1e9


def exchange_lines(qe) -> list[str]:
    """The Exchange lines of the executed plan (a waypoint's cached plan
    included) in plan order, stripped of the ids that differ between
    runs and of the tree drawing, whose depth moves with the
    non-exchange nodes above each exchange."""
    plan = qe.executedPlan().toString()
    return [
        re.sub(r"#\d+L?|, \[plan_id=\d+\]|\(\d+\)", "", ln).lstrip(" :+-").rstrip()
        for ln in plan.splitlines()
        if "Exchange" in ln
    ]


def main() -> None:
    rnd, tag, *names = sys.argv[1:]
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plan")
    sc = spark.sparkContext
    qs = dict(all_queries())
    register_views(spark, SF_DIR)
    for pos, name in enumerate(names):
        group = f"dump_plan:{tag}:{pos}:{name}"
        sc.setJobGroup(group, name)
        try:
            df = qs[name].spark_fn(spark, SF_DIR)
            qe = df._jdf.queryExecution()
            text = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            exchanges = exchange_lines(qe)
            rows = len(df.toPandas())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        shuffle, cpu_s = stage_totals(sc, job_ids)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
            f.write("\n== Exchange (normalized) ==\n" + "\n".join(exchanges) + "\n")
        print(
            f"wrote {path} ({text.count('Exchange (')} Exchange, {len(job_ids)} jobs, "
            f"{shuffle} shuffle bytes written, {cpu_s:.3f} executor CPU s, "
            f"{text.count('Scan parquet')} parquet scans, {rows} rows)"
        )
        release_waypoints()
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
