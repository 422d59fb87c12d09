"""Streaming sinks (EXT — SURVEY.md §2.11): exactly-once parquet output.

Structured Streaming's retry unit is the micro-batch: after a failure the
same ``batch_id`` is replayed, so any ``foreachBatch`` sink is exactly-once
IFF re-writing a batch id is idempotent.  The standard pattern on a plain
parquet lake (no table format's transaction log) is batch-id directory
overwrite: every micro-batch lands in its own ``batch_id=N`` partition with
``overwrite`` semantics — a replay of batch N rewrites N's directory and
touches nothing else.  Readers see the union of all batch directories; the
batch-id column also gives downstream consumers a replay-safe incremental
cursor (process batch dirs > last seen).

At scale this is also the right write shape: each micro-batch writes only
its own partition directory (no full-table rewrite), and the per-batch
`repartition` controls output file count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import load_parquet, refresh_all_sessions


def write_batch_idempotent(
    batch_df: DataFrame, batch_id: int, dest: str, files_per_batch: int = 1
) -> None:
    """Write one micro-batch to ``dest/batch_id=N``, overwriting any partial
    output a failed earlier attempt of the SAME batch left behind."""
    (
        batch_df.repartition(files_per_batch)
        .write.mode("overwrite")
        .parquet(os.path.join(dest, f"batch_id={batch_id}"))
    )


def idempotent_parquet_sink(dest: str, files_per_batch: int = 1):
    """A ``foreachBatch`` callable: ``writeStream.foreachBatch(
    idempotent_parquet_sink(dest))``.  Replaying a batch id is a no-op-
    equivalent overwrite, making the sink exactly-once end-to-end when the
    source is replayable (file source, Kafka with stored offsets)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(batch_df, batch_id, dest, files_per_batch)

    return _write


def read_sink(spark, dest: str) -> DataFrame:
    """Read everything the sink has produced (all batch directories).
    ``basePath`` keeps the ``batch_id`` partition column visible. Batch
    replays REWRITE directories, so the session's FileStatusCache must be
    invalidated first or a prior read's listing serves deleted part files."""
    spark.catalog.refreshByPath(dest)
    return spark.read.option("basePath", dest).parquet(
        os.path.join(dest, "batch_id=*")
    )


def upsert_snapshot_batch(
    batch_df: DataFrame,
    batch_id: int,
    dest: str,
    keys: list[str],
    order_col: str,
) -> None:
    """Merge one micro-batch into a keyed latest-row snapshot at ``dest``.

    The streaming CDC-apply pattern: the snapshot holds exactly one row
    per key — the row with the greatest ``order_col`` seen so far (ties
    prefer the incoming batch; within equal (key, order_col) the rows are
    expected identical, which is what makes batch replay idempotent:
    re-merging an already-applied batch elects the same winners).

    On plain parquet the merge is a snapshot rewrite staged next to the
    live directory and swapped in whole (same staging discipline as
    ``Catalog.compact``), so readers never observe a half-written
    snapshot.  At warehouse scale use ``Catalog.merge_upsert`` from
    ``foreachBatch`` instead: it keeps the snapshot hash-bucket
    partitioned and dynamic-overwrites only the buckets the batch's keys
    hash into — O(affected buckets) per batch, same winner election,
    plus CDC deletes.
    """
    import shutil

    from pyspark.sql import Window

    spark = batch_df.sparkSession
    # No-data micro-batches (watermark commits, state-timer ticks) carry
    # nothing to merge; rewriting the snapshot for them would churn file
    # names for zero content change — and any concurrent reader that
    # listed the old files would hit FILE_NOT_EXIST mid-read.
    if os.path.isdir(dest) and batch_df.isEmpty():
        return
    cols = batch_df.columns
    incoming = batch_df.withColumn("_src", F.lit(1))
    if os.path.isdir(dest):
        spark.catalog.refreshByPath(dest)
        merged = (
            load_parquet(spark, dest).select(cols).withColumn("_src", F.lit(0))
        ).unionByName(incoming)
    else:
        merged = incoming
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), F.desc("_src"))
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    staged = dest.rstrip("/") + ".__upserting__"
    latest.write.mode("overwrite").parquet(staged)
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.rename(staged, dest)
    spark.catalog.refreshByPath(dest)
    # foreachBatch hands us a CLONED session — refresh the others too, or
    # the main session's cached file listing still points at the replaced
    # snapshot files (observed as a flaky FILE_NOT_EXIST on the next read)
    refresh_all_sessions(dest)


def upsert_snapshot_sink(dest: str, keys: list[str], order_col: str):
    """A ``foreachBatch`` callable maintaining a latest-row-per-key parquet
    snapshot: ``writeStream.foreachBatch(upsert_snapshot_sink(dest,
    ["user_id"], "ts"))``."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_snapshot_batch(batch_df, batch_id, dest, keys, order_col)

    return _merge
