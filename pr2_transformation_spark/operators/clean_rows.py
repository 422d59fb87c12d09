"""`clean_rows` — value recoding driven by data profiling.

Pipeline (parity: /root/reference/core/transformations.py:654-773):
  1. profile the table: binary columns (one unpivoted aggregation scan at
     any width, where the reference runs ceil(N/500) BigQuery batches) and
     false-array columns (name-match fast path by default — zero scans;
     computational mode shares the binary detector's scan);
  2. partition columns into binary / false-array / pass-through;
  3. compose one projection: binary CASE recode (sorted), false-array unwrap
     CASE (sorted), pass-through (sorted);
  4. duplicate-name guard, SQL audit, overwrite write.

Scale: one profiling scan plus one rewrite scan of the table.  The
profiling scan unpivots each row into (column position, cell) pairs and
aggregates them by position, so its aggregates stay whole-stage-codegen'd
and its shuffle is one partial row per column per task; the rewrite is a
full-width sequential parquet read with no shuffle.  Driver side, the
profiling plan is SQL text whose Py4J round trips do not grow with the
table's width (see :mod:`..profiling`).
"""

from __future__ import annotations

from collections import Counter
from typing import Optional

from pyspark.sql import DataFrame

from .. import profiling
from ..expressions import Clause, binary_recode, passthrough, q, unwrap_singleton
from ..sources.catalog import Catalog
from .projection import CREATED, project, write_projection


def compose_clean_rows(
    df: DataFrame,
    use_reference: bool = True,
    reference_file_path: Optional[str] = None,
) -> list[Clause]:
    """Profile ``df`` and compose the recoding projection."""
    all_columns = df.schema.names

    if use_reference:
        # name-only false-array fast path: binary detection is the only scan
        binary = set(profiling.binary_columns(df))
        false_arrays = set(
            profiling.false_array_columns_from_reference(
                [c for c in all_columns if c != "Connect_ID"], reference_file_path
            )
        )
    else:
        # computational mode: both detectors share one aggregation scan
        b, fa = profiling.profile_columns(df)
        binary, false_arrays = set(b), set(fa)
    return compose_recoding(all_columns, binary, false_arrays)


def compose_recoding(
    all_columns: list[str], binary: set[str], false_arrays: set[str]
) -> list[Clause]:
    """Pure planner: (columns, binary set, false-array set) -> projection.

    Clause order parity: /root/reference/core/transformations.py:698-714
    (binary CASEs sorted, unwrap CASEs sorted, pass-through sorted).

    Documented deviation: a column claimed by BOTH detectors recodes once,
    binary winning.  The reference emits both expressions and its duplicate
    guard then raises ``ValueError`` (transformations.py:725-736), killing
    the run; since the overlap means contradictory profiling output for
    which the binary CASE is the safe interpretation, this repo resolves it
    instead of failing — pinned by
    tests/test_reference_differential.py::test_process_rows_overlap_deviation.
    """
    false_arrays = set(false_arrays) - set(binary)
    rest = [c for c in all_columns if c not in binary and c not in false_arrays]

    clauses: list[Clause] = []
    clauses += [binary_recode(c) for c in sorted(binary)]
    clauses += [unwrap_singleton(c) for c in sorted(false_arrays)]
    clauses += [passthrough(c) for c in sorted(rest)]

    counts = Counter(c.out_name for c in clauses)
    dupes = {n for n, k in counts.items() if k > 1}
    if dupes:
        raise ValueError(f"Duplicate column names detected: {sorted(dupes)}")
    return clauses


def clean_rows_df(
    df: DataFrame,
    use_reference: bool = True,
    reference_file_path: Optional[str] = None,
) -> DataFrame:
    """DataFrame-in/DataFrame-out form (no I/O)."""
    return project(df, compose_clean_rows(df, use_reference, reference_file_path))


def clean_rows(
    catalog: Catalog,
    source_table: str,
    destination_table: str,
    audit_dir: Optional[str] = None,
    use_reference: bool = True,
    reference_file_path: Optional[str] = None,
) -> dict:
    """Full service operation.  Envelope parity:
    /root/reference/core/transformations.py:768-773."""
    df = catalog.read(source_table)
    clauses = compose_clean_rows(df, use_reference, reference_file_path)
    return write_projection(
        catalog, df, clauses, q(source_table), destination_table, audit_dir, CREATED
    )
