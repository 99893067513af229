"""The benchmark's own preparation, in a process of its own so that its time
and memory stay out of the measured run: write the seeded input tables and
compute the DuckDB oracle answer of every registry query the workload runs.

    python3 -m perfbench.prep <data_dir> <seed> <answers.pkl> <query>...

Run from the repository root. The answers are pickled as {query: frame}.
"""

from __future__ import annotations

import os
import pickle
import sys

import duckdb

from perfbench import datagen


def main(argv: list[str]) -> int:
    data_dir, seed, out, names = argv[0], int(argv[1]), argv[2], argv[3:]
    rows = datagen.write_tables(data_dir, seed)
    from hadoop_fcfs_spark.registry import all_queries

    queries = all_queries()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(os.path.dirname(out), 'duckdb')}'")
    for tbl in datagen.TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, tbl + '.parquet')}')")
    answers = {n: con.execute(queries[n].oracle).df() for n in names}
    con.close()
    with open(out, "wb") as f:
        pickle.dump({"rows": rows, "answers": answers}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
