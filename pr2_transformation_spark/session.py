"""Tuned SparkSession factory — the engine's scale posture in one place.

The reference service has no session concept (BigQuery owns execution);
here the session *is* the engine, so its defaults encode the 100 TB
posture documented in SCALE.md:

* **AQE on** (+ partition coalescing + skew-join splitting): runtime
  re-planning fixes over-partitioned shuffles and splits hot keys without
  manual salting in the common case.
* **Shuffle partitions ~ cores** locally; on a real cluster the AQE
  coalescer makes the initial number forgiving, so one knob serves both.
* **128 MiB scan splits** (`files.maxPartitionBytes` default kept
  explicit) — the parquet-side parallelism unit that keeps task memory
  bounded regardless of table size.
* **Arrow enabled** for the Pandas-UDF surfaces (multimodal, scoring) —
  row-at-a-time Python transfer is never acceptable.
* **UTC session time** so timestamp arithmetic is engine-portable.
* **Generated-code cache sized to the working set** (1024 entries, not
  Spark's 100).  One warm pass over the job-heavy queries (near-dup
  clusters, k-core peeling, Iceberg MERGE) needs about 200 distinct
  compiled classes: at 100 entries every pass evicted and recompiled
  all of them (204 classes, 2.1-3.5 s of Janino time on the driver's
  critical path); at 1024 a warm pass compiles none.  Holding them
  costs no measurable memory: JVM non-heap after four passes was
  252 MB against 256 MB at the default (local[4], 4 cores, 16 GB).
  :func:`codegen_counters` reads the compile count and time.

Tests build their own tiny sessions (tests/conftest.py); bench and any
service entrypoint go through :func:`build_session` so the posture can't
drift between surfaces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied by build_session; overridable per call.
ENGINE_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": "33554432",
    # Join posture (guide §3.1/§9): let the planner pick shuffled-hash
    # over sort-merge when the per-partition build side fits — skips
    # both sort passes; the AQE threshold additionally rewrites SMJ ->
    # SHJ at runtime when every post-shuffle partition is under 64 MiB
    # (a hard memory bound per build task, so the OOM trade SMJ exists
    # for stays controlled).  A/B on a 14-query join-heavy slice at
    # sf0.1: 24.5 s (SHJ) vs 26.3 s (SMJ) mean of interleaved runs —
    # ~7% and never worse than neutral within this sandbox's ±10%
    # run-to-run variance; kept because guide §9 recommends exactly
    # this baseline posture.  Identical results by construction
    # (strategy choice never changes join semantics — pinned by
    # tests/test_plans.py's three-strategy agreement test).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    "spark.ui.enabled": "false",
    # static (read once, when the JVM starts); sized to the working
    # set as the module docstring records
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def codegen_counters(spark: SparkSession) -> "tuple[int, float]":
    """``(classes, ms)``: generated classes Janino has compiled in this
    driver JVM and the milliseconds spent compiling them, cumulative
    since the JVM started.  Every compile is a miss of the generated-
    code cache, so the difference of two readings counts the
    recompiles of the work between them."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(n), ns / 1e6


def build_session(
    app_name: str = "pr2-transformation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    **overrides: str,
) -> SparkSession:
    """Build the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` for local use
    and is left unset when a cluster manager supplies it (spark-submit).
    ``overrides`` win over :data:`ENGINE_CONFIGS`.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 8, 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    configs = {
        **ENGINE_CONFIGS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": driver_memory,
        **overrides,
    }
    for k, v in configs.items():
        builder = builder.config(k, v)
    # pre-JVM: activate the miniproto protobuf shim on PYTHONPATH when
    # the real package is absent, so every python process the JVM
    # launches (incl. the transformWithStateInPandas driver worker)
    # can speak the TWS state-server protocol
    from .streaming.protoshim import prepare_env

    prepare_env()
    return builder.getOrCreate()
