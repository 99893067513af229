"""CLI entry point — the `hadoop jar ...` / Streaming-CLI analog
(reference StreamJob.java:283: options-driven job assembly).

    python -m hadoop_fcfs_spark list
    python -m hadoop_fcfs_spark run <query> [--sf DIR] [--limit N]
                                   [--explain] [--out PATH [--format fmt]]
    python -m hadoop_fcfs_spark sql "<statement>" [--sf DIR]
    python -m hadoop_fcfs_spark profile <table> [--sf DIR] [--exact]
    python -m hadoop_fcfs_spark verify <query>|--all [--sf DIR]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="hadoop_fcfs_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("query")
    runp.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")
    runp.add_argument("--limit", type=int, default=20, help="rows to show (stdout mode)")
    runp.add_argument("--explain", action="store_true", help="print the physical plan")
    runp.add_argument("--out", default=None, help="write results here instead of showing")
    runp.add_argument("--format", default="parquet", help="output format for --out")

    profp = sub.add_parser("profile", help="one-pass column profile of a table")
    profp.add_argument("table", help="table name (region/nation/.../documents)")
    profp.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")
    profp.add_argument("--exact", action="store_true", help="exact distincts (Expand cost)")

    verp = sub.add_parser("verify", help="run a gate AND its DuckDB oracle, compare")
    verp.add_argument("query", nargs="?", default=None)
    verp.add_argument("--all", action="store_true", help="verify every gate")
    verp.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")

    sqlp = sub.add_parser("sql", help="run ad-hoc SQL over the registered tables")
    sqlp.add_argument("statement")
    sqlp.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")
    sqlp.add_argument("--limit", type=int, default=20, help="rows to show (stdout mode)")
    sqlp.add_argument("--explain", action="store_true", help="print the physical plan")
    sqlp.add_argument("--out", default=None, help="write results here instead of showing")
    sqlp.add_argument("--format", default="parquet", help="output format for --out")

    args = parser.parse_args(argv)

    from hadoop_fcfs_spark.registry import all_queries

    queries = all_queries()

    if args.cmd == "list":
        for name, spec in sorted(queries.items()):
            print(f"{name:24s} {spec.doc}")
        return 0

    from hadoop_fcfs_spark.session import get_spark

    if args.cmd == "verify":
        import duckdb

        from hadoop_fcfs_spark.caching import release_waypoints

        names = list(queries) if args.all else [args.query]
        if not args.all and args.query not in queries:
            print(f"unknown query {args.query!r}; `list` shows the inventory", file=sys.stderr)
            return 2
        spark = get_spark("cli:verify")
        con = duckdb.connect()
        for tbl in ("region nation customer supplier part orders "
                    "lineitem events documents embeddings").split():
            con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{args.sf}/{tbl}.parquet')")
        failed = 0
        for name in names:
            spec = queries[name]
            try:
                spark_pd = spec.spark_fn(spark, args.sf).toPandas()
                duck_pd = con.execute(spec.oracle).df()
                cols = sorted(spark_pd.columns)
                ok = (
                    sorted(duck_pd.columns) == cols
                    and len(spark_pd) == len(duck_pd)
                    and len(spark_pd) > 0
                    and spark_pd[cols].sort_values(cols).reset_index(drop=True).astype(str)
                    .equals(duck_pd[cols].sort_values(cols).reset_index(drop=True).astype(str))
                )
            except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                print(f"{name:28s} ERROR {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                release_waypoints()
                continue
            print(f"{name:28s} rows={len(spark_pd):<7d} {'OK' if ok else 'MISMATCH'}")
            failed += 0 if ok else 1
            release_waypoints()
        return 1 if failed else 0

    if args.cmd == "profile":
        from hadoop_fcfs_spark.ops.validate import profile_table
        from hadoop_fcfs_spark.tables import t

        spark = get_spark("cli:profile")
        profile_table(t(spark, args.sf, args.table), exact=args.exact).show(100, False)
        return 0

    if args.cmd == "sql":
        from hadoop_fcfs_spark.tables import register_views

        spark = get_spark("cli:sql")
        register_views(spark, args.sf)
        df = spark.sql(args.statement)
    else:
        if args.query not in queries:
            print(f"unknown query {args.query!r}; `list` shows the inventory", file=sys.stderr)
            return 2
        spark = get_spark(f"cli:{args.query}")
        df = queries[args.query].spark_fn(spark, args.sf)
    if args.explain:
        df.explain("formatted")
    if args.out:
        df.write.mode("overwrite").format(args.format).save(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)

    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # operator-internal persists are query-scoped here
    return 0


if __name__ == "__main__":
    sys.exit(main())
