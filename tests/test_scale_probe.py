"""scripts/scale_probe.py: decorrelated decade replicas and the measurement
loop that reads jobs and shuffle bytes from the JVM status store."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from scripts import scale_probe

SF = entrymod.DEFAULT_SF_DIR
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = {"documents": "doc_id", "embeddings": "vec_id", "customer": "c_custkey",
        "events": "event_id", "orders": "o_orderkey", "lineitem": None}


@pytest.fixture(scope="module")
def replicas(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sf0.001_x3"))
    scale_probe.build_replicas(spark, SF, root, 3, ("documents",))
    assert os.path.islink(os.path.join(root, "customer.parquet"))
    done = os.path.join(root, "documents.parquet", "_SUCCESS")
    built = os.stat(done).st_mtime_ns
    # a later preset replicating more tables replaces their links and
    # keeps the finished documents replica
    scale_probe.build_replicas(spark, SF, root, 3, tuple(KEYS))
    assert os.stat(done).st_mtime_ns == built
    return root


def test_import_starts_no_session():
    code = ("import scripts.scale_probe; from pyspark import SparkContext; "
            "assert SparkContext._gateway is None")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=120)


def test_replicas_triple_rows_with_unique_keys(spark, replicas):
    for table, key in KEYS.items():
        src = spark.read.parquet(f"{SF}/{table}.parquet")
        rep = spark.read.parquet(f"{replicas}/{table}.parquet")
        assert not os.path.islink(f"{replicas}/{table}.parquet")
        n = src.count()
        assert rep.count() == 3 * n, table
        assert rep.columns == src.columns, table
        if key:
            assert rep.select(key).distinct().count() == 3 * n, table
    for table in ("nation", "part", "region", "supplier"):
        assert os.path.islink(f"{replicas}/{table}.parquet")


def test_customer_replicas_keep_key_mod_7(spark, replicas):
    def mod7(path):
        return sorted(r[0] for r in spark.read.parquet(path)
                      .select(F.col("c_custkey") % 7).collect())

    assert mod7(f"{replicas}/customer.parquet") == \
        sorted(mod7(f"{SF}/customer.parquet") * 3)


def test_document_replicas_share_no_shingle_with_their_original(spark, replicas):
    src = {r.doc_id: r.text.split(" ") for r in
           spark.read.parquet(f"{SF}/documents.parquet").collect()}
    stride = max(src) + 1
    rows = spark.read.parquet(f"{replicas}/documents.parquet").collect()
    assert len(rows) == 3 * len(src)
    for row in rows:
        r, doc = divmod(row.doc_id, stride)
        tokens, orig = row.text.split(" "), src[doc]
        if r == 0:
            assert tokens == orig
        else:
            assert len(tokens) == len(orig)
            assert not set(zip(tokens, tokens[1:])) & set(zip(orig, orig[1:])), row.doc_id


def test_probe_reads_jobs_and_shuffle_with_ui_off(spark, capsys):
    assert spark.conf.get("spark.ui.enabled") == "false"
    name = "q01_pricing_summary"
    calls = []

    def fn(spark, root):
        calls.append(root)
        return entrymod.queries()[name](spark, root)

    dirs = [(1, SF), (2, SF)]
    results = scale_probe.probe(spark, {name: fn}, dirs)
    assert len(calls) == len(dirs) + 1  # one untimed warm-up run
    wall, jobs, shuffle_mb, rows = results[name, 1]
    assert jobs >= 1 and shuffle_mb > 0 and rows > 0
    out = capsys.readouterr().out
    assert f"RESULT {name} x1: " in out and f"CURVE {name}: " in out
