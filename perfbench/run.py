"""Layered benchmark of the survey-ETL engine at ``local[nproc]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload survey_etl --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client: the next operation starts
when the previous one returned, the way Airflow tasks wait on each
endpoint.  A run builds the session, generates the seeded inputs, makes
one untimed warm-up pass, then repeats whole passes over the workload's
operation list (order shuffled by the seed) until ``--seconds`` have
elapsed and the workload's minimum pass count is reached.  Every
operation's output is checked; the last stdout line is one JSON object.

``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics from the traced ones (spans around each layer's entry
points, one Spark job group per operation), the tracing overhead (traced
minus untraced), and a codec microbenchmark.  Spans are written to
``.perfbench-work/`` when the run ends.

Workloads:

* ``survey_etl`` -- the four service endpoints (``clean_columns``,
  ``clean_rows``, ``merge_table_versions``, ``create_sensitive_tier``)
  against a generated all-STRING FlatConnect lake, with the SQL audit on
  and parquet writes; outputs checked against generator ground truth.
* ``job_heavy`` -- three ``queries()`` (near-dup clusters, k-core
  peeling, Iceberg MERGE) of about 40 Spark jobs each over generated
  TPC-H-shaped tables; outputs checked against digests of their DuckDB
  ``oracle_sql()`` twins.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")

#: near-dup clusters through connected components, k-core peeling (the
#: most jobs per query) and the Iceberg MERGE writer
JOB_HEAVY = ["q94", "q304", "q417"]
#: widths of the wide survey tables, their row count, and the merge tables' width
SURVEY_WIDTHS = (100,)
SURVEY_ROWS = 1200
VERSION_WIDTH = 80
#: whole passes each workload measures at least (a pass may outlast --seconds)
MIN_PASSES = {"survey_etl": 3, "job_heavy": 1}
ENDPOINTS = ("clean_columns", "clean_rows", "merge", "sensitive")


class Op:
    """One request of the closed loop: ``run()`` does the timed work and
    returns what ``check(result)`` verifies (``None`` when correct)."""

    def __init__(self, name: str, kind: str, run, check):
        self.name, self.kind, self.run, self.check = name, kind, run, check


# ---------------------------------------------------------------- set-up


def _prepare_environment(work: str) -> None:
    """Keep every scratch file inside ``work`` and make the engine
    importable by executor-side Python workers."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _driver_memory() -> str:
    """An explicit driver heap well below physical RAM (the engine's
    default is 16g)."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(ram_gib // 4)))}g"


def _start_session(work: str):
    from pr2_transformation_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{os.cpu_count() or 1}]",
        driver_memory=_driver_memory(),
        **{
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


def survey_ops(spark, seed: int, work: str) -> list[Op]:
    from pr2_transformation_spark import api
    from pr2_transformation_spark.sources.catalog import Catalog

    from perfbench import checks, survey_lake

    root = os.path.join(work, "lake")
    lake = survey_lake.generate(seed, root, SURVEY_WIDTHS, SURVEY_ROWS, VERSION_WIDTH)
    survey_lake.write_lake(lake)
    catalog = Catalog(spark, root)
    audit_dir = os.path.join(work, "audit")

    def op(kind, fn, sources, check):
        label = sources if isinstance(sources, str) else sources[-1]
        base = label.split(".")[-1]
        dest = f"{survey_lake.PROJECT}.clean.{base}_{kind}"
        path = survey_lake.table_path(root, dest)

        def run():
            return fn(catalog, sources, dest, audit_dir)

        def verify(response):
            return checks.check_audit(response) or check(path)

        return Op(f"{kind}:{base}", kind, run, verify)

    ops = []
    for t in lake.wide:
        ops.append(op("clean_columns", api.clean_columns, t.fq,
                      lambda p, t=t: checks.check_clean_columns(t, p)))
        ops.append(op("clean_rows", api.clean_rows, t.fq,
                      lambda p, t=t: checks.check_clean_rows(t, p)))
        ops.append(op("sensitive", api.create_sensitive_tier, t.fq,
                      lambda p, t=t: checks.check_sensitive(t, p)))
    v1, v2 = lake.versions
    ops.append(op("merge", api.merge_table_versions, [v1.fq, v2.fq],
                  lambda p: checks.check_merge(v1, v2, p)))
    return ops


def query_ops(spark, data_dir: str) -> list[Op]:
    import __spark_entry__ as entry

    from perfbench import query_lake

    registry, oracles = entry.queries(), entry.oracle_sql()
    names = {q: next(k for k in registry if k.split("_")[0] == q) for q in JOB_HEAVY}
    expected = query_lake.oracle_digests({q: oracles[n] for q, n in names.items()}, data_dir)

    def op(q):
        fn = registry[names[q]]

        def run():
            df = fn(spark, data_dir)
            return df.columns, df.collect()

        def verify(result):
            got = query_lake.digest(*result)
            return None if got == expected[q] else f"digest {got} != oracle {expected[q]}"

        return Op(q, q, run, verify)

    return [op(q) for q in JOB_HEAVY]


# ---------------------------------------------------------------- loop


class Runner:
    """Closed loop over passes; records latency and correctness per op and,
    when a tracer is attached, job-group figures and span ownership."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.passes_run = 0
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.jobs = None

    def run_pass(self, ops: list[Op]) -> list[dict]:
        order = list(ops)
        random.Random(f"{self.seed}:{self.passes_run}").shuffle(order)
        self.passes_run += 1
        sc = self.spark.sparkContext
        records = []
        for op in order:
            index = self.attempted
            group = f"perfbench-op-{index}"
            if self.tracer and self.tracer.installed:
                self.tracer.op = index
                self.jobs.begin(group)
            else:
                sc.setJobGroup(group, op.name)
            wall0, t0 = time.time(), time.perf_counter()
            try:
                result, error = op.run(), None
            except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
                result, error = None, traceback.format_exc(limit=3)
            latency = time.perf_counter() - t0
            rec = {"op": index, "name": op.name, "kind": op.kind, "latency": latency,
                   "start": wall0, "end": wall0 + latency}
            if self.tracer and self.tracer.installed:
                self.tracer.op = None
                rec["jobs"] = self.jobs.end(group)
            if error is None:
                try:
                    error = op.check(result)
                except Exception:  # noqa: BLE001 - an unreadable output is a wrong output
                    error = traceback.format_exc(limit=3)
            self.attempted += 1
            if error is not None:
                self.failed += 1
                print(f"FAILED {op.name}: {error}", file=sys.stderr)
            records.append(rec)
        return records

    def measure(self, ops: list[Op], seconds: float, min_passes: int, trace: bool = False):
        """Whole passes until ``seconds`` have elapsed and ``min_passes``
        ran.  With ``trace``, traced passes alternate with untraced ones
        and an untraced pass closes the sequence, so warm-up drift hits
        both sides alike.  Returns ``(untraced passes, traced passes)``."""
        untraced, traced, start = [], [], time.perf_counter()
        while len(untraced) < min_passes or time.perf_counter() - start < seconds:
            untraced.append(self.run_pass(ops))
            if trace:
                traced.append(self._traced_pass(ops))
        if trace:
            untraced.append(self.run_pass(ops))
        return untraced, traced

    def _traced_pass(self, ops: list[Op]) -> list[dict]:
        from perfbench import tracing

        if self.tracer is None:
            self.tracer, self.jobs = tracing.Tracer(), tracing.SparkJobs(self.spark)
        tracing.install(self.tracer)
        try:
            records = self.run_pass(ops)
        finally:
            self.tracer.uninstall()
        _record_io(self.tracer, records)
        return records


# ---------------------------------------------------------------- metrics


def _cpu_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: a gauge of how fast this
    machine ran when the result was taken, printed with the context."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    return _hwm_mb("self") + _hwm_mb(spark.sparkContext._gateway.proc.pid)


def _retained_mb(spark) -> float:
    """JVM heap and non-heap memory still in use after a full collection.

    Peak RSS of the same work moved by a fifth from run to run with G1's
    heap sizing; the retained set does not.  The driver Python process is
    left out because the benchmark's generator and checks share it.  The
    second collection follows the cleaner thread dropping blocks of
    frames the first one found unreachable."""
    jvm = spark._jvm
    gc.collect()  # release Python-side handles on JVM objects first
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def tail(latencies: list[float]) -> tuple[float, int]:
    """Interpolated 90th percentile and the number of samples beyond it.

    A run holds 3 to 12 operations, too few for a percentile with ten
    samples beyond it above the median; p90 with its sample count is the
    closest steady figure."""
    if len(latencies) < 2:
        return latencies[0], 0
    value = statistics.quantiles(latencies, n=10, method="inclusive")[-1]
    return value, sum(1 for x in latencies if x > value)


def end_to_end(passes: list[list[dict]], setup_s: float, retained_mb: float) -> tuple[dict, dict]:
    lat = [r["latency"] for p in passes for r in p]
    value, beyond = tail(lat)
    out = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(sum(r["latency"] for r in p) for p in passes), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (value, "s"),
        "retained_mb": (retained_mb, "MB"),
    }
    notes = {"op_tail_s": f"p90 of {len(lat)} samples, {beyond} beyond"}
    return out, notes


def endpoint_p50s(passes: list[list[dict]]) -> dict:
    by_kind = defaultdict(list)
    for p in passes:
        for r in p:
            by_kind[r["kind"]].append(r["latency"])
    return {f"api.{k}_p50_s": (statistics.median(by_kind[k]), "s") if by_kind[k] else (0.0, "s")
            for k in ENDPOINTS}


def layer_metrics(tracer, passes: list[list[dict]]) -> tuple[dict, dict]:
    """Per-layer metrics from the traced passes, plus each operation
    kind's wall time split by layer self time (for the human-readable
    report)."""
    from perfbench.tracing import END, EXTRA, LAYER, OP, PARENT, START, union_length

    spans = tracer.spans
    ops = {r["op"]: r for p in passes for r in p}
    n_pass = len(passes)
    child = defaultdict(float)
    for s in spans:
        if s[PARENT] is not None:
            child[s[PARENT]] += s[END] - s[START]

    def outermost(i):
        layer, j = spans[i][LAYER], spans[i][PARENT]
        while j is not None:
            if spans[j][LAYER] == layer:
                return False
            j = spans[j][PARENT]
        return True

    incl = defaultdict(float)   # inclusive time of outermost spans
    self_t = defaultdict(float)
    calls = defaultdict(int)
    extra = defaultdict(float)
    intervals = defaultdict(list)
    by_kind = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        if s[OP] not in ops:
            continue
        layer, dur = s[LAYER], s[END] - s[START]
        self_t[layer] += max(0.0, dur - child[i])
        calls[layer] += 1
        by_kind[ops[s[OP]]["kind"]][layer] += max(0.0, dur - child[i])
        if outermost(i):
            incl[layer] += dur
            intervals[layer].append((s[START], s[END], s[OP]))
            if isinstance(s[EXTRA], (int, float)):
                extra[layer] += s[EXTRA]

    all_jobs = [j for r in ops.values() for j in r["jobs"]]

    def jobs_in(layer):
        iv = intervals[layer]
        return sum(1 for j in all_jobs if j["start"] is not None
                   and any(a <= j["start"] <= b for a, b, _ in iv))

    written = sum(r.get("bytes_written", 0) for r in ops.values())
    read = sum(r.get("bytes_read", 0) for r in ops.values())
    n_ops = len(ops)
    stages = [st for j in all_jobs for st in j["stages"]]
    total_wall = sum(r["latency"] for r in ops.values())
    driver_only = []
    covered = []
    for r in ops.values():
        iv = [(j["start"], j["end"] or r["end"]) for j in r["jobs"] if j["start"] is not None]
        driver_only.append(r["latency"] - union_length(iv, r["start"], r["end"]))
        top = [(s[START], s[END]) for s in spans if s[OP] == r["op"] and s[PARENT] is None]
        covered.append(union_length(top, r["start"], r["end"]) / r["latency"])
    clean_rows = {r["op"] for r in ops.values() if r["kind"] == "clean_rows"}
    prof_share = (
        sum(b - a for a, b, op in intervals["profiling"] if op in clean_rows)
        / sum(ops[i]["latency"] for i in clean_rows) if clean_rows else 0.0)

    per_pass = lambda v: v / n_pass  # noqa: E731
    m = {
        "operators.compose_s": (per_pass(self_t["operators.compose"]), "s"),
        "operators.clauses": (per_pass(extra["operators.compose"]), "count"),
        "spark.analyze_s": (per_pass(self_t["spark.analyze"]), "s"),
        "profiling.s": (per_pass(incl["profiling"]), "s"),
        "profiling.jobs": (per_pass(jobs_in("profiling")), "count"),
        "profiling.cols_per_s": (extra["profiling"] / incl["profiling"] if incl["profiling"] else 0.0,
                                 "1/s"),
        "catalog.read_s": (per_pass(incl["catalog.read"]), "s"),
        "catalog.write_s": (per_pass(incl["catalog.write"]), "s"),
        "catalog.bytes_written": (per_pass(written), "bytes"),
        "catalog.write_amp": (written / read if read else 0.0, "ratio"),
        "audit.s": (per_pass(self_t["audit"]), "s"),
        "audit.sql_bytes": (per_pass(extra["audit"]), "bytes"),
        "spark.jobs": (len(all_jobs) / n_ops, "count"),
        "spark.stages": (len(stages) / n_ops, "count"),
        "spark.tasks": (sum(st["tasks"] for st in stages) / n_ops, "count"),
        "spark.failed_tasks": (sum(st["failed_tasks"] for st in stages) / n_ops, "count"),
        "spark.s_per_job": (total_wall / len(all_jobs) if all_jobs else 0.0, "s"),
        "spark.driver_only_s": (statistics.mean(driver_only), "s"),
        "spark.executor_run_s": (sum(st["executor_run_s"] for st in stages) / n_ops, "s"),
        "spark.shuffle_bytes": (sum(st["shuffle_bytes"] for st in stages) / n_ops, "bytes"),
        "graph.s": (per_pass(incl["graph"]), "s"),
        "checkpointing.calls": (per_pass(calls["checkpointing"]), "count"),
        "checkpointing.s": (per_pass(incl["checkpointing"]), "s"),
        "lake.merge_s": (per_pass(incl["lake.merge"]), "s"),
        "lake.merge_jobs": (per_pass(jobs_in("lake.merge")), "count"),
        "clean_rows.profiling_share": (prof_share, "ratio"),
        "trace.span_coverage": (statistics.mean(covered), "ratio"),
    }
    kind_wall = defaultdict(float)
    for r in ops.values():
        kind_wall[r["kind"]] += r["latency"]
    shares = {k: {layer: t / kind_wall[k] for layer, t in layers.items()}
              for k, layers in by_kind.items()}
    return m, shares


def _record_io(tracer, records: list[dict]) -> None:
    """Bytes each traced op read and wrote, measured before the next pass
    overwrites its destination."""
    from perfbench.tracing import EXTRA, LAYER, OP

    by_op = {r["op"]: r for r in records}
    for r in records:
        r["bytes_written"] = r["bytes_read"] = 0
    for s in tracer.spans:
        r = by_op.get(s[OP])
        if r is None or not isinstance(s[EXTRA], str) or not os.path.exists(s[EXTRA]):
            continue
        if s[LAYER] == "catalog.write":
            r["bytes_written"] += _dir_bytes(s[EXTRA])
        elif s[LAYER] == "catalog.read":
            r["bytes_read"] += _dir_bytes(s[EXTRA])


# ---------------------------------------------------------------- main


def _traced_metrics(args, spark, runner, e2e, untraced, traced, data_dir) -> tuple[dict, dict]:
    """Per-layer metrics, tracing overhead, endpoint medians and codec
    rates; also writes the spans out.  Returns ``(metrics, shares)``."""
    from perfbench import codec_bench, query_lake

    tracer = runner.tracer
    traced_e2e, _ = end_to_end(traced, e2e["setup_s"][0], e2e["retained_mb"][0])
    metrics, shares = layer_metrics(tracer, traced)
    # memory is left out: traced and untraced passes share one process
    for name in ("pass_s", "op_p50_s", "op_tail_s"):
        metrics[f"trace.overhead.{name}"] = (traced_e2e[name][0] - e2e[name][0], "s")
    metrics["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
    metrics.update(endpoint_p50s(untraced))

    if not os.path.exists(os.path.join(data_dir, "documents.parquet")):
        query_lake.write_tables(args.seed, data_dir)
    rates, wrong = codec_bench.run(data_dir)
    for codec, rate in rates.items():
        metrics[f"codec.{codec}.mb_per_s"] = (rate, "MB/s")
    runner.attempted += len(rates)
    runner.failed += len(wrong)
    for codec in wrong:
        print(f"FAILED codec {codec}: decode does not round-trip", file=sys.stderr)

    dump = os.path.join(WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json")
    with open(dump, "w") as fh:
        json.dump({"spans": tracer.spans, "ops": [r for p in traced for r in p]}, fh)
    return metrics, shares


def _report(spark, passes, e2e, notes) -> None:
    """Human-readable lines: end-to-end figures, memory and GC, and the
    median latency of every operation."""
    for name, (value, unit) in e2e.items():
        print(f"end_to_end {name} = {value:.6g} {unit}"
              + (f"  ({notes[name]})" if name in notes else ""))
    gcs = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    print(f"peak rss: python {_hwm_mb('self'):.0f} MB, "
          f"jvm {_hwm_mb(spark.sparkContext._gateway.proc.pid):.0f} MB; jvm gc: "
          + ", ".join(f"{c.getName()} {c.getCollectionCount()} in "
                      f"{c.getCollectionTime() / 1000:.2f} s" for c in gcs))
    latencies = defaultdict(list)
    for r in (r for p in passes for r in p):
        latencies[r["name"]].append(r["latency"])
    for name, lat in sorted(latencies.items()):
        print(f"op {name}: median {statistics.median(lat):.4f} s over {len(lat)}")


def run(args, work: str) -> int:
    import pyspark

    t0 = time.perf_counter()
    spark = _start_session(work)
    jvm_proc = spark.sparkContext._gateway.proc
    phases = {"session_s": time.perf_counter() - t0}
    try:
        data_dir = os.path.join(work, "tables")
        if args.workload == "survey_etl":
            ops = survey_ops(spark, args.seed, work)
        else:
            from perfbench import query_lake

            query_lake.write_tables(args.seed, data_dir)
            ops = query_ops(spark, data_dir)
        phases["inputs_s"] = time.perf_counter() - t0 - phases["session_s"]
        runner = Runner(spark, args.seed)
        warm = runner.run_pass(ops)  # untimed warm-up
        setup_s = time.perf_counter() - t0
        phases["warmup_s"] = setup_s - phases["session_s"] - phases["inputs_s"]
        phases.update({f"warmup {r['name']}": r["latency"] for r in warm})
        print("setup phases " + json.dumps({k: round(v, 3) for k, v in phases.items()}))

        passes, traced = runner.measure(
            ops, args.seconds, MIN_PASSES[args.workload], trace=bool(args.trace))
        e2e, notes = end_to_end(passes, setup_s, _retained_mb(spark))
        _report(spark, passes, e2e, notes)
        metrics = e2e
        if args.trace:
            metrics, shares = _traced_metrics(args, spark, runner, e2e, passes, traced, data_dir)
            for name, (value, unit) in metrics.items():
                print(f"per_layer {name} = {value:.6g} {unit}")
            for kind, layers in sorted(shares.items()):
                top = sorted(layers.items(), key=lambda kv: -kv[1])
                print(f"self time share of {kind}: " + ", ".join(f"{k} {v:.1%}" for k, v in top))
        print("context " + json.dumps({
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "ram_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "spark": pyspark.__version__, "driver_memory": _driver_memory(),
            "passes": len(passes), "traced_passes": len(traced),
            "cpu_loop_s": round(_cpu_loop_s(), 4),
        }))
        correct = runner.failed == 0
        print(f"error_rate = {runner.failed / runner.attempted:.4f} "
              f"({runner.failed}/{runner.attempted} operations)")
        print(f"verdict: {'CORRECT' if correct else 'WRONG OUTPUT'}")
        print(json.dumps({
            "correct": correct,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        spark.stop()
        jvm_proc.stdin.close()  # the gateway JVM exits on EOF
        jvm_proc.wait(timeout=60)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(MIN_PASSES))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    for needed in ("pr2_transformation_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    _prepare_environment(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
