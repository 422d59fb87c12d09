"""Dump .explain("formatted") for the given queries into plans/<tag>/.

Usage: python scripts/dump_plans.py <out_dir_suffix> <query> [query ...]
e.g.:  python scripts/dump_plans.py r10 --suffix after q403_... q422_...
Writes plans/r10/<query>_<suffix>.txt
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pr2_transformation_spark.session import build_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    qs = entrymod.queries()
    for name in args.queries:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"-> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
