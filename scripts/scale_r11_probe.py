"""Round-11 scale probes (r10 VERDICT item 8 + this round's merge-stats
pruning): the lake-plane library claims that cannot be certified by the
overhead-bound sf0.1 bench, measured at 1x / 10x of the sf0.1 orders
row count.

A. Iceberg MERGE matched-key STATS scan (r11): candidate files actually
   listed by the bounds-pruned keys projection vs total live files, and
   merge wall.  The discovery scan also yields the tombstones, so it is
   the merge's only target scan.
B. Iceberg hash-clustered partitioned write (r10 claim): wall, total
   data files, and max files per partition dir — hash distribution must
   keep files == O(distinct partitions), never O(tasks x partitions).
C. Delta deletion-vector read path (r10 claim, Arrow tombstones):
   delete ~1/9 of keys via DVs, then time the merge-on-read scan.

Usage: python scripts/scale_r11_probe.py [mult ...]   (default 1 10)
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
from pr2_transformation_spark.sources.delta import DeltaTable
from pr2_transformation_spark.sources.iceberg import IcebergTable


def _orders(spark, sf_dir: str, mult: int, n_files: int):
    base = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_orderkey").cast("long").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus",
        F.col("o_orderdate").cast("timestamp").alias("odate"),
    )
    if mult > 1:
        # tile by the ACTUAL key span (max+1), not an assumed sparsity:
        # a wider shift leaves key-space gaps and a band filter can land
        # in one (first probe draft did exactly that)
        span = int(base.agg(F.max("okey")).collect()[0][0]) + 1
        base = base.crossJoin(
            spark.range(mult).select(F.col("id").alias("__m"))
        ).select(
            (F.col("okey") + F.col("__m") * span).alias("okey"),
            "cents", "o_orderstatus", "odate",
        )
    return base.repartitionByRange(n_files, "okey") \
        .sortWithinPartitions("okey")


def probe_merge_stats(spark, sf_dir: str, mult: int) -> None:
    n_files = 16 * mult
    scratch = tempfile.mkdtemp(prefix="sg_r11_mergestats_")
    seen = {"subset": None, "total": None}
    orig_scan = IcebergTable._scan
    orig_parquet = None

    def spy(self, spark_, snapshot_id=None, skipping=None,
            paths_subset=None, **kw):
        if paths_subset is not None:
            seen["subset"] = len(paths_subset)
            seen["total"] = len(self._data_file_entries())
        return orig_scan(self, spark_, snapshot_id=snapshot_id,
                         skipping=skipping, paths_subset=paths_subset, **kw)

    try:
        t = IcebergTable(os.path.join(scratch, "t"))
        df = _orders(spark, sf_dir, mult, n_files).drop("odate")
        t.write(df, mode="overwrite", now_ms=1_000)
        [b] = df.agg(F.max("okey").alias("mx")).collect()
        mx = int(b["mx"])
        lo, hi = mx // 4, mx // 4 + mx // 64
        src = df.filter((F.col("okey") >= lo) & (F.col("okey") <= hi)) \
            .select("okey", (F.col("cents") + 7).alias("cents"),
                    "o_orderstatus")
        # additionally count the file-path fan-in of every parquet scan
        # the merge plans: the one discovery scan lists only the
        # candidate files
        from pyspark.sql.readwriter import DataFrameReader

        orig_parquet = DataFrameReader.parquet
        scan_sizes: list[int] = []

        def pspy(self_, *paths, **kw):
            scan_sizes.append(len(paths))
            return orig_parquet(self_, *paths, **kw)

        IcebergTable._scan = spy
        DataFrameReader.parquet = pspy
        t0 = time.perf_counter()
        t.merge(spark, src, on="okey", now_ms=2_000)
        wall = time.perf_counter() - t0
        print(f"A x{mult}: files={n_files} stats-scan candidates="
              f"{seen['subset']}/{seen['total']} "
              f"scan fan-ins={sorted(scan_sizes, reverse=True)[:4]} "
              f"merge wall={wall:.2f}s")
    finally:
        IcebergTable._scan = orig_scan
        if orig_parquet is not None:
            from pyspark.sql.readwriter import DataFrameReader as _DFR
            _DFR.parquet = orig_parquet
        shutil.rmtree(scratch, ignore_errors=True)


def probe_partitioned_write(spark, sf_dir: str, mult: int) -> None:
    scratch = tempfile.mkdtemp(prefix="sg_r11_partwrite_")
    try:
        t = IcebergTable(os.path.join(scratch, "t"))
        df = _orders(spark, sf_dir, mult, 16 * mult) \
            .withColumnRenamed("odate", "o_orderdate")
        t0 = time.perf_counter()
        t.write(df, mode="overwrite", now_ms=1_000,
                partition_by=[("o_orderdate", "month"),
                              ("okey", "bucket[4]")])
        wall = time.perf_counter() - t0
        entries = t._data_file_entries()
        per_part: dict[str, int] = {}
        for e in entries:
            p = e.get("partition_json") or os.path.dirname(e["file_path"])
            per_part[p] = per_part.get(p, 0) + 1
        print(f"B x{mult}: partitioned write wall={wall:.2f}s "
              f"data_files={len(entries)} partitions={len(per_part)} "
              f"max_files_per_partition={max(per_part.values())}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def probe_dv_read(spark, sf_dir: str, mult: int) -> None:
    scratch = tempfile.mkdtemp(prefix="sg_r11_dv_")
    try:
        t = DeltaTable(os.path.join(scratch, "t"))
        df = _orders(spark, sf_dir, mult, 16 * mult).drop("odate")
        t.write(df, mode="overwrite")
        t0 = time.perf_counter()
        t.delete_where(spark, "okey % 9 = 2")
        d_wall = time.perf_counter() - t0
        live, *_ = t._replay(None)
        n_dv = sum(1 for a in live.values() if a.get("deletionVector"))
        # steady read: twice, keep the second (JIT/codegen settled)
        t.read(spark).count()
        t0 = time.perf_counter()
        n = t.read(spark).count()
        r_wall = time.perf_counter() - t0
        print(f"C x{mult}: dv delete wall={d_wall:.2f}s dv_files={n_dv} "
              f"MoR read wall={r_wall:.2f}s rows={n}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 10]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("scale-r11-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for m in mults:
        probe_merge_stats(spark, sf_dir, m)
        probe_partitioned_write(spark, sf_dir, m)
        probe_dv_read(spark, sf_dir, m)
    spark.stop()


if __name__ == "__main__":
    main()
