"""The benchmark's workloads and their operations.

Every workload is a closed loop with one client: one Python process, one
SparkSession, one operation in flight. An operation returns whether its
output was right; ``rec`` collects the time spent in each layer.

- ``relational_mr``: the reference's MapReduce surface: TPC-H-style
  relational queries, TeraSort + TeraValidate, and the
  write path (micro-batches landed into a file-source stream, exported
  with ``io.writers.write_partitioned`` and read back, TestDFSIO-style).
- ``llm_corpus``: the long multi-job corpus operators.
"""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.checks import frame_checksum, oracle_equal

FAMILY = {  # registry module -> operator layer the query calls into
    "hadoop_fcfs_spark.queries_relational": "ops",
    "hadoop_fcfs_spark.queries_agg": "agg",
    "hadoop_fcfs_spark.queries_llm": "llm",
    "hadoop_fcfs_spark.queries_io": "io",
    "hadoop_fcfs_spark.queries_streaming": "streaming",
}


class Ctx:
    def __init__(self, spark, data_dir: str, work_dir: str, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.queries: dict = {}
        self.oracle: dict[str, pd.DataFrame] = {}  # query -> its DuckDB answer


def _timed(ctx: Ctx, rec: dict, key: str, fn, *args):
    with ctx.tracer.span(key):
        s = time.perf_counter()
        out = fn(*args)
        rec[key] = time.perf_counter() - s
    return out


def _release(ctx: Ctx, rec: dict) -> None:
    from hadoop_fcfs_spark.caching import release_waypoints

    rec["waypoints"] = _timed(ctx, rec, "release_s", release_waypoints)


class QueryOp:
    """A registry query: build the plan, fetch the result into the client,
    reduce it to (rows, checksum), release the operator's waypoints.
    Set-up compares the fetched result with the DuckDB oracle's answer the
    way the ``verify`` CLI does and records the checksum; every timed run
    must reproduce it."""

    def __init__(self, name: str):
        self.name = name
        self.ref: tuple[int, int] | None = None

    def family(self, ctx: Ctx) -> str:
        return FAMILY.get(ctx.queries[self.name].spark_fn.__module__, "ops")

    def build(self, ctx: Ctx):
        return ctx.queries[self.name].spark_fn(ctx.spark, ctx.data_dir)

    def fetch(self, df) -> tuple[pd.DataFrame, tuple[int, int]]:
        pdf = df.toPandas()
        return pdf, frame_checksum(pdf)

    def oracle_ok(self, ctx: Ctx, pdf: pd.DataFrame) -> bool:
        return oracle_equal(pdf, ctx.oracle[self.name])

    def check(self, ctx: Ctx) -> bool:
        from hadoop_fcfs_spark.caching import release_waypoints

        pdf, self.ref = self.fetch(self.build(ctx))
        release_waypoints()
        return self.oracle_ok(ctx, pdf)

    def run(self, ctx: Ctx, rec: dict) -> bool:
        df = _timed(ctx, rec, "build_s", self.build, ctx)
        if ctx.tracer.enabled:
            rec["build_jobs"] = len(ctx.tracer.group_jobs(ctx.tracer.op_id))
        _, got = _timed(ctx, rec, "exec_s", self.fetch, df)
        _release(ctx, rec)
        return got == self.ref


class TeraOp:
    """TeraGen -> TeraSort -> TeraValidate on seeded ``teragen`` output:
    ``ROWS`` records starting at a seed-derived row id. Set-up takes the
    checksum of the unsorted input; every run must validate as totally
    ordered and preserve row count and checksum."""

    name = "terasort"
    ROWS = 50_000

    def __init__(self, seed: int):
        self.offset = (seed % 97) * 100
        self.ref: tuple[int, int] | None = None

    def family(self, ctx: Ctx) -> str:
        return "bench"

    def _gen(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from hadoop_fcfs_spark.bench.tera import teragen

        return teragen(ctx.spark, self.ROWS + self.offset).where(F.col("rowid") >= self.offset)

    def build(self, ctx: Ctx):
        from hadoop_fcfs_spark.bench.tera import terasort

        return terasort(self._gen(ctx))

    def check(self, ctx: Ctx) -> bool:
        from hadoop_fcfs_spark.bench.tera import teravalidate

        src = teravalidate(self._gen(ctx))
        self.ref = (src["rows"], src["checksum"])
        return self.ref[0] == self.ROWS and self.run(ctx, {})

    def run(self, ctx: Ctx, rec: dict) -> bool:
        from hadoop_fcfs_spark.bench.tera import teravalidate

        df = _timed(ctx, rec, "build_s", self.build, ctx)
        out = _timed(ctx, rec, "exec_s", teravalidate, df)
        _release(ctx, rec)
        return out["ok"] and (out["rows"], out["checksum"]) == self.ref


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-")
    return size, files


def _digest(text: str) -> str:
    # the stream's normalization: md5(lower(trim(text))), trim = spaces only
    return hashlib.md5(text.strip(" ").lower().encode("utf-8")).hexdigest()


class Ingest:
    """The write path: a file-source stream started in set-up and fed one
    seeded documents slice per operation through
    ``stream_incremental_dedup``, whose digest store grows with every
    batch. After each batch the operation exports the batch's output with
    ``write_partitioned`` and reads it back; the read-back must equal the
    output computed here in plain Python from the same slices (the
    oracle). At the end of the run the digest store must hold exactly the
    distinct digests of every ingested document."""

    ROWS = 200
    SCHEMA = "doc_id long, text string, lang string"
    DIRS = ("src", "out", "ckpt", "export")

    def __init__(self, seed: int):
        self.seed = seed
        self.query = None
        self.disk: dict = {}

    def start(self, ctx: Ctx) -> None:
        from hadoop_fcfs_spark.streaming.windows import stream_incremental_dedup

        root = os.path.join(ctx.work_dir, "ingest")
        self.p = p = {k: os.path.join(root, k) for k in self.DIRS}
        os.makedirs(p["src"])
        os.makedirs(p["export"])
        self.feed = datagen.DocFeed(self.seed)
        self.n = 0
        self.seen: set[str] = set()
        self.landed_bytes = 0
        self.query = stream_incremental_dedup(
            ctx.spark.readStream.schema(self.SCHEMA).parquet(p["src"]),
            "doc_id", "text", p["out"], p["ckpt"])

    def _expect(self, tbl) -> tuple[int, int]:
        """Checksum of what the batch's export must read back as: per new
        digest, its row with the lowest ``doc_id``."""
        first: dict[str, tuple] = {}
        for r in zip(*(tbl.column(c).to_pylist() for c in ("doc_id", "text", "lang"))):
            d = _digest(r[1])
            if d not in self.seen and (d not in first or r[0] < first[d][0]):
                first[d] = r
        self.seen.update(first)
        return frame_checksum(pd.DataFrame(list(first.values()), columns=["doc_id", "text", "lang"]))

    def step(self, ctx: Ctx, rec: dict) -> bool:
        from hadoop_fcfs_spark.io.writers import write_partitioned

        p, i = self.p, self.n
        self.n += 1
        tbl = self.feed.next(self.ROWS)
        expected = self._expect(tbl)
        with ctx.tracer.span("land"):
            tmp = os.path.join(p["src"], f"_landing-{i}.parquet")  # hidden from the file source
            pq.write_table(tbl, tmp)
            dst = os.path.join(p["src"], f"part-{i:05d}.parquet")
            os.replace(tmp, dst)
            self.landed_bytes += os.path.getsize(dst)
        q = self.query
        before = set(ctx.tracer.group_jobs(q.runId))
        _timed(ctx, rec, "batch_wall_s", q.processAllAvailable)
        rec["stream_jobs"] = sorted(set(ctx.tracer.group_jobs(q.runId)) - before)
        prog = [pr for pr in q.recentProgress if pr["numInputRows"] > 0][-1]
        rec["batch_s"] = prog["durationMs"].get("triggerExecution", 0) / 1000.0
        rec["add_batch_s"] = prog["durationMs"].get("addBatch", 0) / 1000.0
        rec["rows"] = prog["numInputRows"]
        batch_out = os.path.join(p["out"], "data", f"epoch={prog['batchId']}")
        export = os.path.join(p["export"], f"b{i}")
        _timed(ctx, rec, "write_s", write_partitioned,
               ctx.spark.read.parquet(batch_out), export, ["lang"])
        rec["bytes_written"], rec["files_written"] = _du(export)
        got = _timed(ctx, rec, "read_s",
                     lambda: frame_checksum(ctx.spark.read.parquet(export).toPandas()))
        return got == expected

    def final_check(self, ctx: Ctx) -> bool:
        """The digest store against the batch recompute, plus the disk
        accounting of the run (write amplification, state size)."""
        p = self.p
        digests = ctx.spark.read.parquet(os.path.join(p["out"], "digests"))
        ok = digests.select("digest").distinct().count() == len(self.seen)
        ok &= digests.count() == len(self.seen)
        written = sum(_du(p[k])[0] for k in self.DIRS if k != "src")
        self.disk = {
            "write_amp": written / self.landed_bytes,
            "state_bytes": _du(os.path.join(p["out"], "digests"))[0],
        }
        return ok

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


class IngestOp:
    name = "ingest_docs"
    check = None  # checked against the Python oracle on every run

    def __init__(self, ingest: Ingest):
        self.ingest = ingest

    def family(self, ctx: Ctx) -> str:
        return "streaming"

    def run(self, ctx: Ctx, rec: dict) -> bool:
        return self.ingest.step(ctx, rec)


class Workload:
    """A closed loop over ``ops``; one round runs every op once, in an
    order the seeded ``rng`` shuffles per round. Each workload has an odd
    number of operations, so the median latency falls inside one
    operation's samples instead of in the gap between two. ``bypass`` names
    the per-layer metrics the workload is predicted to leave at 0."""

    name = ""
    op_names: tuple[str, ...] = ()
    bypass: tuple[str, ...] = ()

    def __init__(self, seed: int):
        self.seed = seed
        self.ingest: Ingest | None = None

    def ops(self) -> list:
        return [QueryOp(n) for n in self.op_names]

    def start(self, ctx: Ctx) -> None:
        pass

    def final_check(self, ctx: Ctx) -> bool:
        return True

    def close(self) -> None:
        pass


class RelationalMR(Workload):
    name = "relational_mr"
    op_names = ("pricing_summary", "join_multiway", "wordcount", "window_analytics",
                "tumbling_window", "terasort", "ingest_docs")
    bypass = ("caching.waypoints_per_op",)

    def __init__(self, seed: int):
        super().__init__(seed)
        self.ingest = Ingest(seed)

    def ops(self) -> list:
        return [QueryOp(n) for n in self.op_names[:5]] + [TeraOp(self.seed), IngestOp(self.ingest)]

    def start(self, ctx: Ctx) -> None:
        self.ingest.start(ctx)

    def final_check(self, ctx: Ctx) -> bool:
        return self.ingest.final_check(ctx)

    def close(self) -> None:
        self.ingest.stop()


class LLMCorpus(Workload):
    name = "llm_corpus"
    op_names = ("dedup_minhash_lsh", "bm25_retrieval", "corpus_pipeline_v7")


WORKLOADS = {w.name: w for w in (RelationalMR, LLMCorpus)}
