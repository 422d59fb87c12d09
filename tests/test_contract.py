"""Driver-contract consistency: every oracle key names a real query, every
query callable has the (spark, sf_dir) signature, every ``qNNN_`` function
is registered, the bench list and the scale-probe presets only reference
declared queries, and every script compiles.  Guards against silent-skip
typos — unknown names are ignored by comparison harnesses, so a typo looks
like a pass.  Also: every schema-less parquet read goes through
``load_parquet``, which reads the schema without a Spark job."""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re

import pytest

import __spark_entry__ as entrymod
import bench
from scripts.check_oracle import check_coverage_crosswalk
from scripts.scale_probe import FORMAT_SCANS, PRESETS


def test_oracles_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracle entries without queries: {sorted(unknown)}"


def test_query_signatures():
    for name, fn in entrymod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir), has {params}"


def test_bench_queries_exist():
    qs = entrymod.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, f"bench names not in queries(): {missing}"


def test_scale_probe_presets_name_declared_queries():
    # a renamed or deleted query would otherwise fail a decade probe only
    # when someone next runs it
    qs = entrymod.queries()
    for preset, (_, names, tables) in PRESETS.items():
        known = FORMAT_SCANS if tables is None else qs
        missing = [n for n in names if n not in known]
        assert not missing, f"{preset} preset names unknown queries: {missing}"


def test_scripts_compile():
    scripts = glob.glob(os.path.join(
        os.path.dirname(os.path.abspath(entrymod.__file__)), "scripts", "*.py"))
    assert scripts
    for path in sorted(scripts):
        with open(path) as f:
            compile(f.read(), path, "exec")


def test_rows_only_queries_are_the_documented_ones():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    rows_only = sorted(set(qs) - set(oracles))
    # q22/q23/q40/q126 gained DuckDB oracles (deterministic md5-based
    # folds / exact-equivalence SQL) in round 2; q24/q25/q35 became
    # SELF-VERIFYING in round 3 (in-query recall vs the exact result,
    # floor asserted by the oracle).  The two survivors are engine-
    # specific sketches (HLL++, approx_percentile) whose outputs are
    # tolerance-tested in tests/test_ext_ops.py instead.
    assert rows_only == [
        "q64_approx_distinct",
        "q97_approx_quantiles",
    ], f"unexpected rows-only set: {rows_only}"


def test_every_query_function_is_registered():
    # a forgotten @query would silently drop the function from
    # check_oracle, plan_lint and the bench
    defined = {
        name for name, obj in vars(entrymod).items()
        if re.fullmatch(r"q\d+_\w+", name) and inspect.isfunction(obj)
    }
    assert defined == set(entrymod.queries())


def test_query_registry_rejects_duplicate_and_malformed_names():
    def q01_pricing_summary(spark, sf_dir):
        raise AssertionError("never called")

    def pricing(spark, sf_dir):
        raise AssertionError("never called")

    before = entrymod.queries()
    with pytest.raises(ValueError, match="already registered"):
        entrymod.query(oracle="SELECT 1")(q01_pricing_summary)
    with pytest.raises(ValueError, match="does not match"):
        entrymod.query()(pricing)
    assert entrymod.queries() == before
    assert entrymod.queries()["q01_pricing_summary"] is entrymod.q01_pricing_summary


def test_every_query_has_a_coverage_row():
    assert check_coverage_crosswalk(entrymod.queries()) == []


#: ``read.parquet(`` with no ``.schema(...)`` between, across line breaks
_SCHEMALESS_READ = re.compile(r"\bread\s*(?:\\\s*)?\.\s*parquet\s*\(")


def test_schemaless_parquet_reads_go_through_load_parquet():
    """A bare ``spark.read.parquet(path)`` submits a Spark job to infer
    the schema; ``sources.catalog.load_parquet`` reads the same schema on
    the driver.  Only ``load_parquet`` itself may call the bare form."""
    assert _SCHEMALESS_READ.search("spark.read \\\n    .parquet(p)")
    assert not _SCHEMALESS_READ.search("spark.read.schema(s).parquet(p)")
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    files = [os.path.join(root, "__spark_entry__.py")] + sorted(glob.glob(
        os.path.join(root, "pr2_transformation_spark", "**", "*.py"), recursive=True))
    offenders = []
    for path in files:
        with open(path) as f:
            text = f.read()
        allowed = [
            range(node.lineno, node.end_lineno + 1)
            for node in ast.walk(ast.parse(text))
            if isinstance(node, ast.FunctionDef) and node.name == "load_parquet"
        ]
        for m in _SCHEMALESS_READ.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            if not any(line in r for r in allowed):
                offenders.append(f"{os.path.relpath(path, root)}:{line}")
    assert offenders == [], f"use load_parquet(spark, ...) at {offenders}"
