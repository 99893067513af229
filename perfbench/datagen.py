"""Seeded input tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and value ranges of the project's sf0.01 test
tables. Everything derives from one ``numpy`` generator seeded by the
workload seed, so the same seed always gives byte-identical inputs and no
file outside the benchmark's work directory is read.

Also builds the documents slices that ``ingest_docs`` lands one by one,
with in-batch and cross-batch duplicates, so the streaming dedup has work
to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
WORDS = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
ADJ = ["cold", "small", "red", "hot", "old", "large", "blue", "green"]
NOUN = ["widget", "plate", "ring", "rod", "gear", "bolt", "valve", "pipe"]

# Row counts: the sf0.01 shape of the project's test tables.
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

_US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _doc_texts(rng, n: int) -> list[str]:
    """Random word documents; 5 % of them are near-copies of an earlier
    document (its text plus a trailing ``dup`` token), the shape the dedup
    operators look for."""
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _documents(rng, n: int, id_base: int = 0) -> dict:
    texts = _doc_texts(rng, n)
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _events(rng, n: int, n_users: int) -> dict:
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n).astype("timedelta64[us]"))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(np.minimum(rng.exponential(60.0, n) + 0.01, 490.02), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])[
            rng.integers(0, 5, nc)
        ],
    })
    ns = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = ROWS["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])[
            rng.integers(0, 6, npart)
        ],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = ROWS["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days("1995-01-01", 2399, rng, no),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, no)
        ],
    })
    nl = ROWS["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        # whole hundreds: price * (1 - discount) * (1 + tax) then has at most
        # two decimals, so ROUND(SUM(...), 2) cannot land on a half-cent tie
        # that Spark and DuckDB would break differently by summation order
        "l_extendedprice": rng.integers(9, 1051, nl) * 100.0,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days("1995-01-02", 2499, rng, nl),
    })
    _write(out_dir, "events", _events(rng, ROWS["events"], nc // 10))
    _write(out_dir, "documents", _documents(rng, ROWS["documents"]))
    ne = ROWS["embeddings"]
    labels = rng.integers(0, 10, ne)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return dict(ROWS)


class DocFeed:
    """Documents arrival slices. Each slice repeats ~10 % of earlier texts
    with case/whitespace noise (cross-batch duplicates under the
    normalized digest) and ~5 % of its own texts (in-batch duplicates)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self.seen: list[str] = []
        self.next_id = 0

    def next(self, rows: int) -> pa.Table:
        rng = self.rng
        cols = _documents(rng, rows, id_base=self.next_id)
        texts = cols["text"]
        for i in range(rows):
            r = rng.random()
            if self.seen and r < 0.10:
                texts[i] = "  " + self.seen[int(rng.integers(0, len(self.seen)))].upper() + " "
            elif i > 0 and r < 0.15:
                texts[i] = texts[int(rng.integers(0, i))]
        self.seen.extend(texts)
        self.next_id += rows
        return pa.table({"doc_id": cols["doc_id"], "text": texts, "lang": cols["lang"]})
