"""Seeded TPC-H-shaped tables for the query workloads, and the oracle
digests their outputs are checked against.

The tables mirror the shapes the engine's ``queries()`` read (customer
graph keys, orders for the lake MERGEs, a document corpus with appended
``dup`` near-duplicates); sizes and the duplicate layout are fixed so
every seed does about the same amount of work.  Digests come from each
query's ``oracle_sql()`` twin run on DuckDB over the same files,
normalised the way the repository's oracle gate compares rows (column
names case-folded, floats to 6 places, row order ignored).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("customer", "orders", "documents")
N_CUSTOMERS = 1000
N_ORDERS = 5000
N_DOCUMENTS = 500

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def write_tables(seed: int, out_dir: str) -> None:
    """Write ``customer``, ``orders`` and ``documents`` parquet files."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    cust = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(N_CUSTOMERS)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(N_CUSTOMERS)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(N_CUSTOMERS)],
    })
    start = dt.datetime(1995, 1, 1)
    span_days = (dt.datetime(2001, 8, 1) - start).days
    orders = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array([rng.randrange(N_CUSTOMERS) for _ in range(N_ORDERS)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(N_ORDERS)],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(N_ORDERS)],
        "o_orderdate": pa.array(
            [start + dt.timedelta(days=rng.randrange(span_days + 1)) for _ in range(N_ORDERS)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(N_ORDERS)],
    })
    # every 20th document (from 33 on) repeats the one 13 before it with a
    # "dup" suffix, so the near-duplicate cluster shape is the same for
    # every seed and only the text differs
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 20 and i % 20 == 13:
            texts.append(texts[i - 13] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99))))
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(N_DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, table in (("customer", cust), ("orders", orders), ("documents", docs)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _norm(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            v = 0.0  # collapse IEEE negative zero
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: case-folded sorted column
    names plus the sorted multiset of normalised rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    body = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i].lower() for i in order]).encode())
    for line in body:
        h.update(line.encode())
    return f"{len(body)}:{h.hexdigest()}"


def oracle_digests(sqls: dict[str, str], data_dir: str) -> dict[str, str]:
    """Run each oracle SQL on DuckDB over ``data_dir`` and digest it."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            out[name] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()
