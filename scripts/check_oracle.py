"""Local approximation of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names, and
an order-insensitive multiset of normalized row values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            v = 0.0  # collapse IEEE negative zero
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def check_coverage_crosswalk(qs) -> list[str]:
    """Every queries() name must resolve to a COVERAGE.md citation, so
    the SURVEY §2 crosswalk can't silently rot as the surface grows.
    A query counts as cited when its qNN number appears either literally
    (``q216``) or inside a range token (``q235-q238`` / en-dash)."""
    import re

    cov_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "COVERAGE.md")
    if not os.path.exists(cov_path):
        return ["COVERAGE.md missing"]
    cov = open(cov_path).read()
    cited = set(int(n) for n in re.findall(r"\bq(\d+)\b", cov))
    for a, b in re.findall(r"\bq(\d+)\s*[–-]\s*q(\d+)\b", cov):
        cited.update(range(int(a), int(b) + 1))
    missing = [
        k for k in qs
        if int(re.match(r"q(\d+)", k).group(1)) not in cited
    ]
    if missing:
        return [
            "COVERAGE.md missing crosswalk rows for: "
            f"{sorted(missing)[:8]}{'...' if len(missing) > 8 else ''}"
        ]
    return []


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # Timezone-robustness mode (SPARK_GRAFT_TZ=America/New_York): start
    # every query under a hostile ambient session zone.  Queries must be
    # TZ-free or pin their own zone (the _events/_utc contract) — a query
    # whose answer drifts with the ambient zone fails the value compare.
    ambient_tz = os.environ.get("SPARK_GRAFT_TZ")
    if ambient_tz:
        con.execute(f"SET TimeZone='{ambient_tz}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    coverage_msgs = check_coverage_crosswalk(qs)
    for msg in coverage_msgs:
        print(f"FAIL  {msg}")
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query names (not in queries()): {sorted(unknown)}")
        spark.stop()
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            if ambient_tz:
                # re-hostile the session for EVERY query: a prior query's
                # _utc() pin must not shelter the next one
                spark.conf.set("spark.sql.session.timeZone", ambient_tz)
            sdf = fn(spark, sf_dir)
            spark_rows = sdf.collect()
            spark_cols = sorted(sdf.columns)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle; rows-only)")
            continue
        try:
            rel = con.sql(oracles[name])
            o_cols = [c.lower() for c in rel.columns]
            o_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        duck_cols = sorted(o_cols)
        s_cols_l = sorted(c.lower() for c in spark_cols)
        if s_cols_l != duck_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={s_cols_l} duck={duck_cols}")
            continue
        if len(spark_rows) != len(o_rows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(spark_rows)} duck={len(o_rows)}")
            continue
        col_order = sorted(sdf.columns, key=lambda c: c.lower())
        s_set = sorted(
            tuple(norm(r[c]) for c in col_order) for r in spark_rows
        )
        idx = [o_cols.index(c.lower()) for c in col_order]
        d_set = sorted(
            tuple(norm(row[i]) for i in idx) for row in o_rows
        )
        if s_set != d_set:
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diff}")
            continue
        print(f"OK    {name}: {len(spark_rows)} rows match")

    failures.extend(coverage_msgs)
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
