"""Driver-side codec microbenchmark over bytes the engine's own encoders
produce from the query-workload tables (the same writers the codec
queries use: gzip/zstd/snappy streams, parquet and ORC file images, a
ZIP corpus).  Reports decoded megabytes per second per codec plane and
checks every decode against its input."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

MIN_SECONDS = 0.25


def _payload_bytes(columns: dict[str, list]) -> int:
    total = 0
    for vals in columns.values():
        for v in vals:
            total += len(v.encode()) if isinstance(v, str) else len(v) if isinstance(v, bytes) else 8
    return total


def _fixtures(data_dir: str):
    from pr2_transformation_spark.sources import inflate, parquet_data, zstd
    from pr2_transformation_spark.sources.orc import read_orc_bytes
    from pr2_transformation_spark.sources.orc_write import write_orc_bytes
    from pr2_transformation_spark.sources.parquet_write import write_parquet_bytes
    from pr2_transformation_spark.sources.zip_archive import read_zip_bytes, zip_write_bytes

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pydict()
    text = "\n".join(docs["text"]).encode()[:96 * 1024]
    okeys = orders["o_orderkey"]
    ckeys = orders["o_custkey"]
    cents = [round(p * 100) for p in orders["o_totalprice"]]
    status = orders["o_orderstatus"]
    table = {"okey": okeys, "ckey": ckeys, "cents": cents, "status": status}
    # parquet BYTE_ARRAY without a string annotation decodes to bytes
    ptable = {**table, "status": [s.encode() for s in status]}
    members = [(f"doc{i:04d}.txt", t.encode()) for i, t in zip(docs["doc_id"], docs["text"])][:200]

    def rows(decoded):
        _, cols = decoded
        return {k: cols[k] for k in table}

    return {
        "inflate": (inflate.gunzip, inflate.gzip_compress(text), text, len(text)),
        "zstd": (zstd.zstd_decompress, zstd.zstd_compress(text[:32 * 1024]), text[:32 * 1024],
                 32 * 1024),
        "snappy": (parquet_data.snappy_decompress, parquet_data.snappy_compress(text), text,
                   len(text)),
        "parquet_data": (
            lambda b: rows(parquet_data.read_parquet_bytes(b)),
            write_parquet_bytes(
                [("okey", "INT64", okeys), ("ckey", "INT64", ckeys),
                 ("cents", "INT64", cents), ("status", "BYTE_ARRAY", ptable["status"])],
                codec="snappy"),
            ptable, _payload_bytes(ptable)),
        "orc": (
            lambda b: rows(read_orc_bytes(b)),
            write_orc_bytes(
                [("okey", "long", okeys), ("ckey", "long", ckeys),
                 ("cents", "long", cents), ("status", "string", status)],
                compression="zlib"),
            table, _payload_bytes(table)),
        "zip": (read_zip_bytes, zip_write_bytes(members), members,
                sum(len(m[1]) for m in members)),
    }


def run(data_dir: str) -> tuple[dict[str, float], list[str]]:
    """``({codec: MB/s}, [codecs whose decode did not round-trip])``."""
    rates, wrong = {}, []
    for name, (decode, encoded, expected, size) in _fixtures(data_dir).items():
        if decode(encoded) != expected:
            wrong.append(name)
        reps, start = 0, time.perf_counter()
        while True:
            decode(encoded)
            reps += 1
            elapsed = time.perf_counter() - start
            if elapsed >= MIN_SECONDS and reps >= 2:
                break
        rates[name] = size * reps / elapsed / 1e6
    return rates, wrong
