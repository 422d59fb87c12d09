"""Profile one declared query: wall time (noop sink), the generated
classes Janino compiled and its compile ms per rep (a warm rep compiles
none unless the codegen cache evicts), optional cProfile of the
driver-side python, optional .explain("formatted") capture.

Usage:
    python scripts/profile_query.py q422_parquet_decimal [--profile] \
        [--explain plans/r10/q422_before.txt] [--reps 2]

Reads $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data); ``build_session``
reads $SPARK_GRAFT_CPUS (default: all cores).
"""
from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pr2_transformation_spark.session import build_session, codegen_counters


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--explain", default=None)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("profile-" + args.query)
    spark.sparkContext.setLogLevel("ERROR")
    # JVM warmup, mirrors bench.py
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    fn = entrymod.queries()[args.query]
    spark.sparkContext.setJobDescription(args.query)

    for rep in range(args.reps):
        n0, ms0 = codegen_counters(spark)
        if args.profile and rep == args.reps - 1:
            pr = cProfile.Profile()
            pr.enable()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            pr.disable()
            s = io.StringIO()
            pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(45)
            print(s.getvalue())
        else:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
        n1, ms1 = codegen_counters(spark)
        print(f"{args.query} rep{rep}: {dt:.3f}s compiled {n1 - n0} classes "
              f"in {ms1 - ms0:.0f} ms", flush=True)

    if args.explain:
        os.makedirs(os.path.dirname(args.explain), exist_ok=True)
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(args.explain, "w") as f:
            f.write(plan)
        print(f"explain -> {args.explain}")
    spark.stop()


if __name__ == "__main__":
    main()
