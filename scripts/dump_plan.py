#!/usr/bin/env python
"""Dump explain("formatted") for named registry queries to plans/rN/,
and count the Spark jobs each query runs.

Usage:
    python scripts/dump_plan.py r17 before dsir_selection corpus_pipeline_v4 ...

Writes plans/<round>/<query>_<tag>.txt per query (plan claims are
checked against these files). Each file ends with the query's
normalized Exchange lines: those of `plan_lines`, the executed plan
with each cached relation's plan read once (its final plan when the
waypoint is built), with expression ids (#123), plan ids and node
numbers (12) stripped — so plan identity between two trees is a
`diff` of the two runs' files; the printed Exchange and parquet-scan
counts come from the same lines. The printed plan length is that of
`executedPlan().toString()` once the plan is built, the string AQE
posts to the listener bus at the query's start and again, grown, on
every plan update. Each query then builds and runs (fetched
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

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_fcfs_spark.caching import release_waypoints  # noqa: E402
from hadoop_fcfs_spark.registry import all_queries  # noqa: E402
from hadoop_fcfs_spark.session import get_spark  # noqa: E402
from hadoop_fcfs_spark.tables import register_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def stage_totals(sc, job_ids) -> tuple[int, float, int]:
    """Shuffle bytes written and executor CPU seconds of the stages of
    `job_ids` that ran, read from the application status store once its
    listener has caught up, and the number of those stages the store no
    longer holds. A stage listed by several jobs counts once, a skipped
    stage not at all. The store keeps the last `spark.ui.retainedStages`
    stages (1000), so after about 50 queries in one session a job can
    list a stage it has dropped: that stage is left out of the totals
    and counted as missing."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = set()
    for job in job_ids:
        ids = store.job(job).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    attempts = [_stored(lambda: store.lastStageAttempt(s)) for s in stages]
    ran = [st for st in attempts if st is not None and st.status().toString() == "COMPLETE"]
    shuffle = sum(st.shuffleWriteBytes() for st in ran)
    cpu_ns = sum(st.executorCpuTime() for st in ran)
    return shuffle, cpu_ns / 1e9, attempts.count(None)


def _stored(lookup):
    """`lookup()`, or None when the status store no longer has the
    entry (it raises `java.util.NoSuchElementException`)."""
    try:
        return lookup()
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
            raise
        return None


def _seq(xs) -> list:
    return [xs.apply(i) for i in range(xs.size())]


def plan_lines(qe) -> list[str]:
    """The executed plan one node per line, in the order
    `executedPlan().toString()` prints it, without the tree drawing,
    reading each cached relation once.

    The string prints a built AQE plan twice (its final and its initial
    plan) and a cache under every scan of it, so its length doubles with
    each level of nested built waypoints. Here an AQE plan shows its
    current plan (the final one once it ran), a query stage the plan it
    wraps, and an `InMemoryTableScan` its relation, followed by that
    relation's cached plan only the first time the cache is met: each
    line is a node that runs, once."""
    width = qe.sparkSession().sessionState().conf().maxToStringFields()
    identity = SparkContext._jvm.System.identityHashCode
    seen: set[int] = set()
    lines: list[str] = []
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind in ("WholeStageCodegenExec", "InputAdapter"):
            stack.append(node.child())  # printed as a `*(n)` prefix only
            continue
        lines.append(node.verboseString(width))
        if kind == "AdaptiveSparkPlanExec":
            inner = [node.executedPlan()]
        elif kind.endswith("QueryStageExec"):
            inner = [node.plan()]
        elif kind == "InMemoryTableScanExec":
            rel = node.relation()
            lines.append(rel.verboseString(width))
            key = identity(rel.cacheBuilder())
            inner = [] if key in seen else [rel.cachedPlan()]
            seen.add(key)
        else:
            inner = _seq(node.children())
        stack.extend(reversed(_seq(node.subqueries()) + inner))
    return lines


def exchange_lines(lines: list[str]) -> list[str]:
    """The Exchange lines of `plan_lines` output in plan order, stripped
    of the ids that differ between runs."""
    return [
        re.sub(r"#\d+L?|, \[plan_id=\d+\]|\(\d+\)", "", ln).rstrip()
        for ln in lines
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
            plan_chars = len(qe.executedPlan().toString())
            lines = plan_lines(qe)
            rows = len(df.toPandas())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        shuffle, cpu_s, missing = stage_totals(sc, job_ids)
        exchanges = exchange_lines(lines)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
            f.write("\n== Exchange (normalized) ==\n" + "\n".join(exchanges) + "\n")
        print(
            f"wrote {path} ({len(exchanges)} Exchange, {len(job_ids)} jobs, "
            f"{shuffle} shuffle bytes written, {cpu_s:.3f} executor CPU s "
            f"({missing} stages no longer in the status store), "
            f"{sum('FileScan parquet' in ln for ln in lines)} parquet scans, "
            f"{plan_chars} plan chars, {rows} rows)"
        )
        release_waypoints()
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
