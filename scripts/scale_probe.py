"""Decade scaling probe: each query of a preset at the preset's two scales, in one
process on one host so the curve is clean.

Usage: python scripts/scale_probe.py <preset> [query ...]

Row presets (x10 .. x10000) replicate $SPARK_GRAFT_SF_DIR tables (default sf0.1)
into /tmp/scale_probe/<source>_x<scale>, a table rebuilt unless its own _SUCCESS
exists, and link the rest.  Replica 0 is the source; replica r is decorrelated
from it so dedup, join and graph work grows with the data instead of collapsing
onto copies: documents suffix 4 of every 5 tokens with r (no shingle of length
>= 2 crosses replicas); embeddings roll by 1 + (r-1) % (dim-1), nonzero and
distinct past the dimension; keys are cast to BIGINT (x1000 overflows INT) and
offset by r times a stride past the largest key, a multiple of 7 for customer
(q63's % 7 chains).  The source is repartitioned before the explode: one parquet
file is one input split.

The formats preset scales file count: the ORC, Arrow IPC, SQLite and ZIP readers
run one task per file (a 100 TB lake is wide, not deep, at ingestion), so expect
zero shuffle and near-linear wall.

The session is build_session's ($SPARK_GRAFT_CPUS; the x100 and larger records used
SPARK_GRAFT_DRIVER_MEM=24g, x10000 48g); jobs, stages and shuffle-write bytes come
from the JVM status store.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sqlite3
import sys
import time
import uuid
import zipfile

import pyarrow as pa
import pyarrow.ipc as ipc
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from perfbench.tracing import SparkJobs
from pr2_transformation_spark.session import build_session
from pr2_transformation_spark.sources.arrow_ipc import read_arrow_distributed
from pr2_transformation_spark.sources.orc import read_orc_distributed
from pr2_transformation_spark.sources.orc_write import write_orc_bytes
from pr2_transformation_spark.sources.sqlite_reader import read_sqlite_distributed
from pr2_transformation_spark.sources.zip_archive import read_zip_distributed

WORK = "/tmp/scale_probe"

# name -> (scales, queries, replicated tables or None for the file-count axis)
PRESETS = {
    "x10": ((1, 10), (
        "q22_minhash_lsh", "q63_connected_components", "q94_near_dup_canonicalize",
        "q122_semantic_dedup", "q129_corpus_prep",
    ), ("documents", "embeddings", "customer", "events", "orders", "lineitem")),
    "x100": ((10, 100), (
        "q63_connected_components", "q199_ann_pq", "q219_minhash_source_overlap",
        "q226_prefix_similarity_join", "q129_corpus_prep",
    ), ("documents", "embeddings", "customer")),
    "x1000": ((100, 1000), (
        "q278_classifier_eval", "q255_quality_classifier_train",
        "q256_quality_classifier_score", "q264_perceptual_dedup_clusters",
        "q129_corpus_prep",
    ), ("documents", "embeddings", "customer")),
    # q264 reads only documents.doc_id (the image family is synthesized from
    # the id), so only documents is blown up
    "x10000": ((1000, 10000), ("q264_perceptual_dedup_clusters",), ("documents",)),
    "formats": ((1, 10), ("orc_scan", "arrow_scan", "sqlite_scan", "zip_scan"), None),
}


def _offset(key: str, stride: int):
    return F.col(key).cast("long") + F.col("r").cast("long") * stride


def _stride(df, key: str) -> int:
    return df.agg(F.max(key)).collect()[0][0] + 1


def _suffixed(col: str):
    suffix = F.concat(F.lit("x"), F.col("r").cast("string"))
    return F.array_join(F.transform(
        F.split(F.col(col), " "),
        lambda t, i: F.when(i % 5 == 0, t).otherwise(F.concat(t, suffix))), " ")


def _rolled(col: str, dim: int):
    shift = F.lit(1) + (F.col("r") - 1) % F.lit(dim - 1)
    head = F.slice(col, shift + 1, F.lit(dim) - shift)
    return F.concat(head, F.slice(col, F.lit(1), shift))


# table -> (source frame -> {column: replica-r expression}); events shift user ids
# too (more users, same per-user activity shape) and lineitem shifts with orders
# (more baskets, same part dimension)
REPLICA_RULES = {
    "documents": lambda df: {"doc_id": _offset("doc_id", _stride(df, "doc_id")),
                             "text": _suffixed("text")},
    "embeddings": lambda df: {
        "vec_id": _offset("vec_id", _stride(df, "vec_id")),
        "embedding": _rolled("embedding", len(df.first()["embedding"]))},
    "customer": lambda df: {"c_custkey": _offset("c_custkey", 7_000_000)},
    "events": lambda df: {"event_id": _offset("event_id", 10_000_000),
                          "user_id": _offset("user_id", 10_000_000)},
    "orders": lambda df: {"o_orderkey": _offset("o_orderkey", 100_000_000)},
    "lineitem": lambda df: {"l_orderkey": _offset("l_orderkey", 100_000_000)},
}


def build_replicas(spark, src: str, root: str, scale: int, tables) -> None:
    """``root`` holds every ``src`` table: those in ``tables`` as ``scale`` replicas,
    the rest as links to the source.  A finished replica serves any preset; a link
    only one that does not replicate the table."""
    os.makedirs(root, exist_ok=True)
    for file in sorted(os.listdir(src)):
        table, ext = os.path.splitext(file)
        dst = os.path.join(root, file)
        if ext != ".parquet":
            continue
        if os.path.islink(dst):
            if table not in tables:
                continue
            os.remove(dst)
        elif os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        if table not in tables:
            shutil.rmtree(dst, ignore_errors=True)  # an unfinished replica
            os.symlink(os.path.join(src, file), dst)
            continue
        t0 = time.perf_counter()
        df = spark.read.parquet(os.path.join(src, file))
        rules = REPLICA_RULES[table](df)
        reps = df.repartition(spark.sparkContext.defaultParallelism).select(
            F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("r"), "*")
        blown = reps.select(*[
            F.when(F.col("r") == 0, F.col(c)).otherwise(rules[c]).alias(c)
            if c in rules else c for c in df.columns])
        blown.write.mode("overwrite").parquet(dst)
        print(f"BUILD {table} x{scale}: {time.perf_counter() - t0:.1f}s", flush=True)


FILES_PER_SCALE, ROWS_PER_FILE = 4, 20_000
FORMAT_SCHEMA = "id long, tag string, val double"


def build_files(root: str, n_files: int) -> None:
    """``n_files`` files of ``ROWS_PER_FILE`` rows for each format plane under
    ``root``, zstd-coded where the format has it."""
    if os.path.exists(os.path.join(root, "_SUCCESS")):
        return
    shutil.rmtree(root, ignore_errors=True)
    for plane in ("orc", "arrow", "db", "zip"):
        os.makedirs(os.path.join(root, plane))
    for f in range(n_files):
        ids = list(range(f * ROWS_PER_FILE, (f + 1) * ROWS_PER_FILE))
        tags = [f"tag-{i % 41}" for i in ids]
        vals = [None if i % 7 == 0 else i * 0.5 for i in ids]
        with open(f"{root}/orc/p{f}.orc", "wb") as fh:
            fh.write(write_orc_bytes([("id", "long", ids), ("tag", "string", tags),
                                      ("val", "double", vals)], compression="zstd"))
        t = pa.table({"id": ids, "tag": tags, "val": vals})
        with open(f"{root}/arrow/p{f}.arrow", "wb") as fh, ipc.new_file(
                fh, t.schema, options=ipc.IpcWriteOptions(compression="zstd")) as w:
            w.write_table(t)
        con = sqlite3.connect(f"{root}/db/p{f}.db")
        con.execute("CREATE TABLE ev (id INTEGER PRIMARY KEY, tag TEXT, val REAL)")
        con.executemany("INSERT INTO ev VALUES (?,?,?)", zip(ids, tags, vals))
        con.commit()
        con.close()
        with zipfile.ZipFile(f"{root}/zip/p{f}.zip", "w", zipfile.ZIP_DEFLATED) as z:
            for k in range(0, ROWS_PER_FILE, 2000):
                z.writestr(f"docs/{ids[k]}.txt", " ".join(tags[k:k + 2000]))
    open(os.path.join(root, "_SUCCESS"), "w").close()


FORMAT_SCANS = {
    "orc_scan": lambda spark, root: read_orc_distributed(
        spark, f"{root}/orc", FORMAT_SCHEMA),
    "arrow_scan": lambda spark, root: read_arrow_distributed(
        spark, f"{root}/arrow", FORMAT_SCHEMA),
    "sqlite_scan": lambda spark, root: read_sqlite_distributed(
        spark, f"{root}/db", "ev", FORMAT_SCHEMA),
    "zip_scan": lambda spark, root: read_zip_distributed(
        spark, f"{root}/zip", suffix=".txt"),
}


def probe(spark, fns: dict, dirs: list[tuple[int, str]]) -> dict:
    """``{(name, scale): (wall_s, jobs, shuffle_mb, rows)}`` of each query's
    ``fn(spark, root).count()``, printed as RESULT lines, then a CURVE line per
    query from the first scale to the last.  Each query first runs once untimed
    on the first scale, so no timed point pays its cold start."""
    tracker = SparkJobs(spark)
    results = {}
    for name, fn in fns.items():
        fn(spark, dirs[0][1]).count()
        for scale, root in dirs:
            group = f"scale-probe-{uuid.uuid4().hex}"
            tracker.begin(group)
            t0 = time.perf_counter()
            rows = fn(spark, root).count()
            wall = time.perf_counter() - t0
            jobs = tracker.end(group)
            stages = [s for j in jobs for s in j["stages"]]
            shuffle = sum(s["shuffle_bytes"] for s in stages) / 1e6
            results[name, scale] = (wall, len(jobs), shuffle, rows)
            print(f"RESULT {name} x{scale}: {wall:.2f}s jobs={len(jobs)} "
                  f"stages={len(stages)} shuffle={shuffle:.1f}MB rows={rows}",
                  flush=True)
    lo, hi = dirs[0][0], dirs[-1][0]
    for name in fns:
        (t1, j1, s1, n1), (t2, j2, s2, n2) = results[name, lo], results[name, hi]
        print(f"CURVE {name}: wall {t1:.2f}->{t2:.2f} ({t2 / max(t1, 0.01):.1f}x) "
              f"jobs {j1}->{j2} shuffle {s1:.1f}->{s2:.1f}MB "
              f"({s2 / max(s1, 1e-6):.1f}x) rows {n1}->{n2}", flush=True)
    return results


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("preset", choices=PRESETS)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    scales, queries, tables = PRESETS[args.preset]
    known = FORMAT_SCANS if tables is None else entry.queries()
    fns = {n: known[n] for n in args.queries or queries}  # KeyError: unknown query

    default = os.path.join(os.path.dirname(entry.DEFAULT_SF_DIR), "sf0.1")
    src = os.environ.get("SPARK_GRAFT_SF_DIR", default)
    source = "formats" if tables is None else os.path.basename(src.rstrip("/"))
    dirs = [(scale, f"{WORK}/{source}_x{scale}") for scale in scales]
    spark = build_session("scale-probe-" + args.preset)
    spark.sparkContext.setLogLevel("ERROR")
    for scale, root in dirs:
        if tables is None:
            build_files(root, FILES_PER_SCALE * scale)
        else:
            build_replicas(spark, src, root, scale, tables)
    probe(spark, fns, dirs)
    spark.stop()


if __name__ == "__main__":
    main()
