"""Fully-qualified table name resolution.

The reference addresses every table as BigQuery ``project.dataset.table``
(/root/reference/core/utils.py:30-38).  This catalog keeps that addressing
scheme but resolves names to a parquet lake (``<root>/<project>/<dataset>/
<table>``), to explicitly registered paths, or to Spark catalog tables /
temp views — so the operators stay storage-agnostic.

Scale note: parquet reads go through :func:`load_parquet`, a Spark parquet
relation, so Catalyst gets column pruning, predicate pushdown, and partition
discovery for free.  The schema comes from the table's footer, read on the
driver: like the reference's metadata call, opening a table runs no job.
Writes default to overwrite-mode parquet (the Spark analogue of the
reference's ``CREATE OR REPLACE TABLE`` CTAS, its
``core/transformations.py:149``).
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Optional

from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError

#: the Parquet summary files Spark's schema inference prefers, best first
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Spark's file-index name filter (``shouldFilterOutPathName``): hide
    ``_``/``.`` names and in-flight copies, keep ``k=v`` partition
    directories and the summary files."""
    if name.startswith(_SUMMARY_FILES):
        return True
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return not (hidden or name.endswith("._COPYING_"))


def _footer_file(paths: tuple[str, ...]) -> Optional[str]:
    """The file whose footer Spark's own inference would read for
    ``paths`` (``ParquetUtils.inferSchema`` with schema merging off), or
    ``None`` where this module leaves inference to Spark: a path with a
    URI scheme or a glob, a missing path, or no listed file.

    Spark sorts the leaf files by path and takes ``_common_metadata``
    first, else ``_metadata``, else the first data file.  A directory's
    leaf files are its direct children unless it holds ``k=v``
    partition directories; then they are every file below it."""
    leaves = []
    for path in paths:
        if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path) or any(c in path for c in "*?[{"):
            return None
        path = os.path.abspath(path)
        if os.path.isfile(path):
            leaves.append(path)
            continue
        if not os.path.isdir(path):
            return None
        found, partitioned = [], False
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if _listed(d)]
            partitioned = partitioned or any("=" in d for d in dirnames)
            found += [(dirpath, f) for f in filenames if _listed(f)]
        leaves += [os.path.join(d, f) for d, f in found if partitioned or d == path]
    leaves.sort()
    for summary in _SUMMARY_FILES:
        for leaf in leaves:
            if os.path.basename(leaf) == summary:
                return leaf
    data = [leaf for leaf in leaves if os.path.basename(leaf) not in _SUMMARY_FILES]
    return data[0] if data else None


def load_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    Spark infers a parquet table's schema by reading one footer in a
    Spark job before any work.  The schema is in that footer, so this
    reads it on the driver instead: the same file Spark would pick
    (:func:`_footer_file`), read with Spark's own converter
    (``ParquetFileFormat.readSchemaFromFooter`` under the session's
    parquet settings), then handed to ``spark.read.schema(...)``.  The
    result has the same schema and relation as ``spark.read.parquet``;
    partition columns still come from Spark's directory discovery.

    Spark still infers, one job as before, for remote URIs (``s3://``,
    ``gs://``, ``hdfs://``: listing a prefix from Python would cost a
    round trip per file), globs, and with
    ``spark.sql.parquet.mergeSchema`` on.  A missing path, a directory
    with no data file, or a footer Spark cannot convert also go to
    ``spark.read.parquet``, so they raise Spark's own error."""
    footer_file = None
    if spark.conf.get("spark.sql.parquet.mergeSchema") != "true":
        footer_file = _footer_file(paths)
    if footer_file is None:
        return spark.read.parquet(*paths)
    client = spark.sparkContext._gateway._gateway_client

    def jclass(name: str) -> JavaClass:
        # named in full: one round trip per call, none per package segment
        return JavaClass(name, client)

    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    try:
        jpath = jclass("org.apache.hadoop.fs.Path")(footer_file)
        footer = jclass(parquet + "ParquetFooterReader").readFooter(
            jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
                jpath, spark._jsc.hadoopConfiguration()),
            jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        )
        jschema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
            jclass("org.apache.parquet.hadoop.Footer")(jpath, footer),
            jclass(parquet + "ParquetToSparkSchemaConverter")(
                spark._jsparkSession.sessionState().conf()),
        )
    except (Py4JJavaError, CapturedException):
        return spark.read.parquet(*paths)
    reader = spark.read
    reader._jreader.schema(jschema)
    return reader.parquet(*paths)


def refresh_all_sessions(path: str) -> None:
    """Invalidate cached file listings for ``path`` on every session that
    might hold them.  Inside ``foreachBatch`` the batch DataFrame runs on
    a CLONED SparkSession; refreshing only that clone leaves the main
    session's FileIndex cache stale, and its next read of a rewritten
    snapshot fails with FILE_NOT_EXIST — so refresh the batch, active,
    and default sessions alike."""
    sessions = {SparkSession.getActiveSession(), getattr(SparkSession, "_instantiatedSession", None)}
    for sess in sessions:
        if sess is not None:
            try:
                sess.catalog.refreshByPath(path)
            except Exception:  # noqa: BLE001 — a dead session must not fail the write
                pass


def parse_fq_table(fq_table: str) -> tuple[str, str, str]:
    """Split ``project.dataset.table``; raise unless exactly three parts.

    Parity: /root/reference/core/utils.py:30-38.
    """
    parts = fq_table.split(".")
    if len(parts) != 3 or not all(parts):
        raise ValueError(
            f"expected fully-qualified 'project.dataset.table', got {fq_table!r}"
        )
    return parts[0], parts[1], parts[2]


class Catalog:
    """Maps fully-qualified table names to DataFrames and storage paths."""

    def __init__(self, spark: SparkSession, root: Optional[str] = None):
        self.spark = spark
        self.root = root
        self._paths: dict[str, str] = {}
        self._formats: dict[str, str] = {}
        self._frames: dict[str, DataFrame] = {}

    # -- registration -----------------------------------------------------
    def register_path(self, fq_table: str, path: str, format: str = "parquet") -> None:
        """Register a storage path; ``format`` may be parquet (default), orc,
        csv, json, or text.  CSV reads use header + schema inference —
        register an explicit DataFrame instead when the schema matters.
        ``text`` yields one row per line as ``(value string,
        source_file string)`` — the raw-crawl ingestion shape (each file
        split line-parallel; pair with ``input_file_name`` provenance)."""
        parse_fq_table(fq_table)
        self._paths[fq_table] = path
        self._formats[fq_table] = format

    def register_frame(self, fq_table: str, df: DataFrame) -> None:
        """Register an in-memory DataFrame (tests, intermediate results)."""
        parse_fq_table(fq_table)
        self._frames[fq_table] = df

    # -- resolution -------------------------------------------------------
    def path_for(self, fq_table: str) -> Optional[str]:
        if fq_table in self._paths:
            return self._paths[fq_table]
        if self.root:
            project, dataset, table = parse_fq_table(fq_table)
            return os.path.join(self.root, project, dataset, f"{table}.parquet")
        return None

    def read(self, fq_table: str) -> DataFrame:
        if fq_table in self._frames:
            return self._frames[fq_table]
        path = self.path_for(fq_table)
        if path and (path.startswith(("s3://", "gs://", "hdfs://")) or os.path.exists(path)):
            fmt = self._formats.get(fq_table, "parquet")
            if fmt == "csv":
                return self.spark.read.option("header", "true").option(
                    "inferSchema", "true"
                ).csv(path)
            if fmt == "json":
                return self.spark.read.json(path)
            if fmt == "orc":
                return self.spark.read.orc(path)
            if fmt == "text":
                return self.spark.read.text(path).withColumn(
                    "source_file", F.input_file_name()
                )
            return load_parquet(self.spark, path)
        # Fall back to the Spark catalog (saveAsTable / temp views).
        _, dataset, table = parse_fq_table(fq_table)
        for candidate in (f"{dataset}.{table}", table):
            try:
                return self.spark.table(candidate)
            except Exception:
                continue
        raise ValueError(f"table not found in catalog: {fq_table}")

    def column_names(self, fq_table: str) -> list[str]:
        """Schema-only listing — the engine's analogue of the reference's
        metadata RPC (its ``core/utils.py:40-52``).  A parquet
        table's names come from its footer on the driver: no data is
        touched and no Spark job runs."""
        return self.read(fq_table).schema.names

    # -- sink -------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        fq_table: str,
        partition_by: Optional[list[str]] = None,
        bloom_filter_cols: Optional[list[str]] = None,
        bloom_filter_ndv: int = 1_000_000,
    ) -> str:
        """Overwrite-write (CTAS semantics).  Returns the destination path
        or table identifier actually used.

        ``bloom_filter_cols`` writes a parquet bloom filter per listed
        column (per row group), the point-lookup complement to min/max
        footer pruning: zone maps skip row groups for RANGE-clustered
        keys (z-order / sorted shards), blooms skip them for equality
        probes on high-cardinality UNCLUSTERED keys — e.g. ``doc_id`` or
        content-hash lookups against a 100 TB corpus, where a range
        layout on that key is not worth a shuffle.  Readers (Spark's
        parquet scan included) consult the filter transparently;
        ``bloom_filter_ndv`` sizes it (expected distinct values per row
        group)."""
        path = self.path_for(fq_table)
        writer = df.write.mode("overwrite")
        for col in bloom_filter_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{col}", str(bloom_filter_ndv)
            )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if path:
            writer.parquet(path)
            return path
        _, dataset, table = parse_fq_table(fq_table)
        name = f"{dataset}.{table}"
        writer.saveAsTable(name)
        return name

    def write_sorted_shards(
        self,
        df: DataFrame,
        fq_table: str,
        sort_cols: list[str],
        num_shards: int,
    ) -> str:
        """Range-partitioned, within-shard-sorted sink — the training-shard
        layout: ``num_shards`` files with globally range-disjoint, locally
        sorted key ranges (shard i's keys all precede shard i+1's).

        ``repartitionByRange`` samples the keys to pick balanced range
        bounds (one sampling pass + one shuffle), then each shard sorts
        locally — a distributed total order without ever sorting on one
        node.  Downstream readers get merge-free globally-ordered
        consumption and min/max footer pruning on the sort key.
        """
        path = self.path_for(fq_table)
        if path is None:
            raise ValueError(f"write_sorted_shards needs a path-backed table: {fq_table}")
        (
            df.repartitionByRange(num_shards, *sort_cols)
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        num_buckets: int,
        sort_cols: Optional[list[str]] = None,
    ) -> str:
        """Hash-bucketed (+ optionally bucket-sorted) managed table — the
        CO-LOCATED JOIN layout: two tables bucketed on the same keys with
        the same bucket count join WITHOUT an Exchange (Spark's bucketing
        hash is the same Murmur3 the shuffle would use, so the shuffle is
        pre-paid once at write time and amortized over every later join
        or aggregation on those keys — at 100 TB the difference between a
        nightly pipeline and an hourly one for fact-to-fact joins too big
        to broadcast).

        ``repartition(num_buckets, *bucket_cols)`` first so each bucket
        lands in EXACTLY one file per table: single-file buckets are what
        lets the scan report a per-bucket sort order and elide the
        sort-merge join's Sort as well.  Requires a catalog table
        (bucket metadata lives in the session catalog, not in parquet).
        """
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        # CTAS-overwrite semantics across sessions: a managed location
        # left by a PREVIOUS session survives a fresh in-memory catalog
        # (which has never heard of the table), so clear it explicitly
        # or saveAsTable fails with LOCATION_ALREADY_EXISTS.
        warehouse = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse")
        wroot = re.sub(r"^file:/{0,2}", "/", warehouse).replace("//", "/")
        # The managed location of db.tbl is <warehouse>/db.db/tbl, NOT
        # <warehouse>/tbl — rmtree'ing the bare name would delete the
        # DEFAULT database's same-named table while leaving the stale
        # qualified location behind.  Build the exact path for the parsed
        # identifier and refuse anything that escapes the warehouse root.
        parts = [p.lower() for p in table.split(".")]
        if len(parts) == 1:
            loc = os.path.join(wroot, parts[0])
        elif len(parts) == 2:
            loc = os.path.join(wroot, parts[0] + ".db", parts[1])
        else:
            raise ValueError(f"expected [db.]table, got {table!r}")
        if not os.path.abspath(loc).startswith(
                os.path.abspath(wroot) + os.sep):
            raise ValueError(f"refusing to clear {loc!r} outside warehouse")
        shutil.rmtree(loc, ignore_errors=True)
        writer = (
            df.repartition(num_buckets, *bucket_cols)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)
        return table

    # -- maintenance ------------------------------------------------------
    def export_jsonl(
        self,
        df: DataFrame,
        path: str,
        num_shards: Optional[int] = None,
        target_shard_bytes: int = 256 * 1024 * 1024,
        compression: Optional[str] = "gzip",
    ) -> int:
        """Newline-delimited-JSON shard export — the LM-training handoff
        format (one JSON object per line, gzip shards).

        ``num_shards=None`` sizes the shard count from the data: average
        serialized row length over a bounded 1k-row sample × exact row
        count / ``target_shard_bytes`` (pre-compression bytes — the
        sampling job is bounded regardless of corpus size, and uneven
        compression ratios only skew shard sizes, never correctness).
        Uses ``repartition`` so the write parallelizes and shards balance;
        returns the shard count used.
        """
        if num_shards is None:
            n = df.count()
            avg = (
                df.limit(1000)
                .select(F.avg(F.length(F.to_json(F.struct("*")))).alias("b"))
                .first()["b"]
            )
            est_bytes = int(n * ((avg or 0) + 1))  # +1 per newline
            num_shards = max(1, -(-est_bytes // target_shard_bytes))
        writer = df.repartition(num_shards).write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        writer.json(path)
        return num_shards

    def merge_upsert(
        self,
        fq_table: str,
        updates: DataFrame,
        keys: list[str],
        order_col: str,
        num_buckets: int = 64,
        delete_col: Optional[str] = None,
    ) -> list[int]:
        """MERGE-INTO semantics on plain parquet with partition-pruned
        copy-on-write — the batch/CDC apply path whose cost is
        O(affected buckets), not O(snapshot).

        The snapshot lives hash-bucket-partitioned (``__bucket =
        pmod(xxhash64(keys), num_buckets)``); a merge:

        1. buckets the incoming batch the same way and collects the
           DISTINCT affected bucket ids (bounded by ``num_buckets`` —
           a driver list, never data);
        2. reads back ONLY those buckets of the live snapshot
           (partition pruning does the skipping);
        3. elects the latest row per key (greatest ``order_col``, ties
           prefer the incoming side — replaying an already-applied batch
           elects the same winners, making the merge idempotent), and
           drops rows whose winner has ``delete_col`` true (CDC deletes);
        4. writes with DYNAMIC partition overwrite, so exactly the
           affected bucket directories are replaced and every other
           bucket's files are untouched.

        This is the scale fix the streaming ``upsert_snapshot_batch``
        docstring prescribes for its whole-snapshot rewrite; wire it into
        ``foreachBatch`` via ``lambda b, _: catalog.merge_upsert(...)``.
        A 100 TB snapshot at the default 64 buckets rewrites ~1/64th per
        single-bucket batch; size ``num_buckets`` so one bucket ≈ the
        compaction target.  Readers should drop the ``__bucket`` column
        (or filter on it for key-pruned point lookups — it doubles as a
        coarse hash index).  Returns the affected bucket ids.
        """
        path = self.path_for(fq_table)
        if path is None:
            raise ValueError(f"merge_upsert needs a path-backed table: {fq_table}")
        if "__bucket" in updates.columns:
            raise ValueError("updates must not carry a __bucket column")
        bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))
        incoming = updates.withColumn("__bucket", bucket.cast("int"))
        cols = incoming.columns
        affected = sorted(
            r["__bucket"]
            for r in incoming.select("__bucket").distinct().collect()
        )
        if not affected:
            # empty batch: nothing to merge — callers (foreachBatch
            # sinks) need no separate isEmpty() pre-check job (r10)
            return affected
        spark = updates.sparkSession
        if os.path.isdir(path):
            spark.catalog.refreshByPath(path)
            live = (
                load_parquet(spark, path)
                .filter(F.col("__bucket").isin(affected))
                .select(cols)
                .withColumn("__src", F.lit(0))
            )
            merged = live.unionByName(incoming.withColumn("__src", F.lit(1)))
        else:
            merged = incoming.withColumn("__src", F.lit(1))
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(
            F.desc(order_col), F.desc("__src")
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        if delete_col is not None:
            latest = latest.filter(
                ~F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
            )
        # Dynamic overwrite only replaces partitions PRESENT in the output:
        # an affected bucket whose every key was deleted would keep its old
        # files.  With no delete semantics every affected bucket keeps at
        # least its incoming rows (the election never drops ALL rows of a
        # key), so surviving == affected by construction and the write
        # needs no persist + distinct-collect pre-pass (r11, guide §1.2:
        # one fewer job per foreachBatch micro-batch).  With deletes,
        # persist the winners once (they are O(affected buckets), not
        # O(snapshot)), learn which buckets still have rows, and clear
        # the fully-deleted ones by hand after the write.
        if delete_col is None:
            (
                latest.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__bucket")
                .parquet(path)
            )
            surviving = set(affected)
        else:
            latest = latest.persist()
            try:
                surviving = {
                    r["__bucket"]
                    for r in latest.select("__bucket").distinct().collect()
                }
                (
                    latest.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("__bucket")
                    .parquet(path)
                )
            finally:
                latest.unpersist()
        import shutil

        for b in affected:
            if b not in surviving:
                shutil.rmtree(os.path.join(path, f"__bucket={b}"), ignore_errors=True)
        spark.catalog.refreshByPath(path)
        refresh_all_sessions(path)
        return affected

    def compact(self, fq_table: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite a path-backed table into ~``target_file_bytes`` files.

        The small-files problem is the dominant lake-maintenance task at
        warehouse scale: streaming sinks and fine partition writes leave
        thousands of KB-sized files whose per-file open/footer cost
        swamps the scan.  Compaction = size the output file count from
        the CURRENT on-disk byte size (not row counts — rows vary in
        width), coalesce/repartition to it, and atomically swap via an
        overwrite of a temp-staged rewrite.

        Returns the number of files written.  Uses ``repartition`` (not
        ``coalesce``) so the rewrite parallelizes and output sizes
        balance; the one shuffle is the price of even files, paid once
        per maintenance run.
        """
        path = self.path_for(fq_table)
        if path is None or not os.path.isdir(path):
            raise ValueError(f"compact needs an existing path-backed table: {fq_table}")
        total = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-total // target_file_bytes))  # ceil division
        df = load_parquet(self.spark, path)
        staged = path.rstrip("/") + ".__compacting__"
        df.repartition(n_files).write.mode("overwrite").parquet(staged)
        # Swap: the staged rewrite is complete and footer-valid before the
        # original is replaced (local FS analogue of a metastore pointer
        # flip; object stores would rename the prefix or update the table
        # format's manifest instead).
        import shutil

        shutil.rmtree(path)
        os.rename(staged, path)
        self.spark.catalog.refreshByPath(path)
        return n_files
