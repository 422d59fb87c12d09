"""In-memory span tracing around the engine's public layer entry points,
plus per-operation Spark scheduler counts read from the JVM status store.

Wrappers are installed from here, never inside the program: a wrapped
function is replaced in every loaded engine module that bound it (so
``from x import f`` call sites are traced too) and restored by
:meth:`Tracer.uninstall`.  Spans are kept in a list and summarised (or
written out) when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time

_ENGINE_MODULES = ("pr2_transformation_spark", "__spark_entry__")

# span record fields
OP, LAYER, START, END, PARENT, EXTRA = range(6)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.op: int | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, layer: str, fn, before=None, after=None):
        """``before(args, kwargs)`` and ``after(result)`` run outside the
        timed interval; their value lands in the span's EXTRA slot."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = before(args, kwargs) if before else None
            stack = tracer._stack()
            rec = [tracer.op, layer, 0.0, 0.0, stack[-1] if stack else None, extra]
            stack.append(len(tracer.spans))
            tracer.spans.append(rec)
            rec[START] = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                rec[END] = time.time()
                stack.pop()
            if after:
                rec[EXTRA] = after(result)
            return result

        return traced

    def patch_function(self, module, name: str, layer: str, **hooks) -> None:
        original = getattr(module, name)
        wrapped = self.wrap(layer, original, **hooks)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(_ENGINE_MODULES):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, wrapped)

    def patch_method(self, cls, name: str, layer: str, **hooks) -> None:
        original = cls.__dict__[name]
        self._patches.append((cls, name, original))
        setattr(cls, name, self.wrap(layer, original, **hooks))

    def patch_public(self, module, layer: str, prefix: str = "", **hooks) -> None:
        """Every public function defined in ``module`` (named ``prefix*``)."""
        for name, fn in list(vars(module).items()):
            if (inspect.isfunction(fn) and fn.__module__ == module.__name__
                    and not name.startswith("_") and name.startswith(prefix)):
                self.patch_function(module, name, layer, **hooks)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


def _df_width(args, kwargs):
    cols = getattr(args[0], "columns", None) if args else None
    return len(cols) if isinstance(cols, list) else 0


def _clause_count(result):
    if isinstance(result, tuple):  # compose_merge -> (joined, clauses)
        result = result[-1]
    return len(result) if isinstance(result, list) else 0


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark reports."""
    from pyspark.sql.classic.dataframe import DataFrame

    from pr2_transformation_spark import checkpointing, expressions, profiling
    from pr2_transformation_spark.operators import graph
    from pr2_transformation_spark.plans import audit
    from pr2_transformation_spark.sources.catalog import Catalog
    from pr2_transformation_spark.sources.delta import DeltaTable
    from pr2_transformation_spark.sources.iceberg import IcebergTable

    # the operators package re-exports functions named like its modules
    for name in ("clean_columns", "clean_rows", "merge", "sensitive"):
        mod = importlib.import_module(f"pr2_transformation_spark.operators.{name}")
        tracer.patch_public(mod, "operators.compose", prefix="compose_", after=_clause_count)
    tracer.patch_public(profiling, "profiling", before=_df_width)
    tracer.patch_method(Catalog, "read", "catalog.read", before=lambda a, k: a[0].path_for(a[1]))
    tracer.patch_method(Catalog, "write", "catalog.write", after=lambda path: path)
    tracer.patch_function(expressions, "render_select_sql", "audit")
    tracer.patch_function(audit, "save_sql_string", "audit", before=lambda a, k: len(a[0]))
    for name in ("select", "selectExpr", "join"):
        tracer.patch_method(DataFrame, name, "spark.analyze")
    tracer.patch_public(graph, "graph")
    tracer.patch_function(checkpointing, "checkpoint_frame", "checkpointing")
    tracer.patch_method(DeltaTable, "merge", "lake.merge")
    tracer.patch_method(IcebergTable, "merge", "lake.merge")


class SparkJobs:
    """Per-operation job accounting through one job group per operation.

    Jobs submitted from helper threads carry no group; those that start
    during the operation are attributed to it as well."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._ungrouped: set[int] = set()

    def begin(self, group: str) -> None:
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> list[dict]:
        """Job and stage figures for ``group``, once the listener bus has
        delivered every event of the operation."""
        self.sc.setJobGroup("perfbench-idle", "between operations")
        self.bus.waitUntilEmpty(30_000)
        ids = set(self.tracker.getJobIdsForGroup(group))
        ids |= set(self.tracker.getJobIdsForGroup(None)) - self._ungrouped
        jobs = []
        for jid in sorted(ids):
            jd = self.store.job(jid)
            stages = []
            for sid in self.conv.asJava(jd.stageIds()):
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "executor_run_s": sd.executorRunTime() / 1000.0,
                    "shuffle_bytes": sd.shuffleWriteBytes(),
                })
            sub = jd.submissionTime()
            done = jd.completionTime()
            jobs.append({
                "id": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": stages,
            })
        return jobs


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
