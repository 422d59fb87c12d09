"""`merge_table_versions` — N-way FULL OUTER join of table versions.

Semantics (parity: /root/reference/core/transformations.py:19-172):
  * each source is aliased ``v1..vN`` in input order; invalid columns
    (forbidden names / excluded substrings) are dropped per table first;
  * columns present in *every* source (case-insensitive) are COALESCEd in
    alias order, output name lowercased (``Connect_ID`` preserved), emitted
    in sorted order;
  * per-table unique columns pass through (sorted within each table);
  * the FROM base is the **last** source; every earlier source joins
    ``FULL OUTER ... ON v_base.Connect_ID = vK.Connect_ID`` in reverse
    order.  This is a star-shaped chain anchored on the base table's key:
    with N >= 3 sources, rows missing from the base do not align with each
    other (v1-only and v2-only rows for the same participant stay on
    separate output rows).  We reproduce that chain exactly — the production
    case (2 versions) is unaffected; see SURVEY.md §2.6 and the 3-version
    test.

Scale posture: version tables share the ``Connect_ID`` key domain, so the
join is a shuffle-on-key sort-merge join; AQE picks broadcast joins when one
version is small.  The wide COALESCE projection is codegen'd; no extra
shuffle beyond the join itself.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import names
from ..expressions import Clause, coalesce, q
from ..sources.catalog import Catalog
from .projection import REPLACED, project, write_projection


def _key_match(base_alias: str, alias: str) -> str:
    """Join condition of one chain link — the text the join runs and the
    audit SQL archives."""
    return f"{base_alias}.Connect_ID = {alias}.Connect_ID"


def compose_merge(dfs: list[DataFrame]) -> tuple[DataFrame, list[Clause]]:
    """Build the joined DataFrame and its projection clauses.

    Returns ``(joined_df, clauses)``; the clause SQL refers to each source
    by its ``v1..vN`` alias, so callers ``selectExpr`` it on the joined
    frame.
    """
    if len(dfs) < 2:
        raise ValueError("A destination table and at least two source tables must be provided.")

    aliases = [f"v{i}" for i in range(1, len(dfs) + 1)]
    table_columns = {a: names.valid_column_names(df.schema.names) for a, df in zip(aliases, dfs)}
    for a, cols in table_columns.items():
        if not cols:
            raise ValueError(f"No columns retrieved from source {a}")
    case_maps = {a: {c.lower(): c for c in cols} for a, cols in table_columns.items()}

    common_lower: set[str] = set(case_maps[aliases[0]])
    for a in aliases[1:]:
        common_lower &= set(case_maps[a])

    processed: set[str] = set()
    clauses: list[Clause] = []

    for col_l in sorted(common_lower):
        out = "Connect_ID" if col_l == "connect_id" else col_l
        clauses.append(coalesce([f"{a}.{q(case_maps[a][col_l])}" for a in aliases], out))
        processed.add(col_l)

    for a in aliases:
        unique = [c for c in table_columns[a] if c.lower() not in processed]
        for col in sorted(unique):
            out = "Connect_ID" if col == "Connect_ID" else col.lower()
            clauses.append(coalesce([f"{a}.{q(col)}"], out))
            processed.add(col.lower())

    # Star-shaped FULL OUTER chain anchored on the last source's key.
    base_alias = aliases[-1]
    joined = dfs[-1].alias(base_alias)
    for a, df in reversed(list(zip(aliases[:-1], dfs[:-1]))):
        joined = joined.join(df.alias(a), F.expr(_key_match(base_alias, a)), "full")
    return joined, clauses


def merge_versions_df(dfs: list[DataFrame]) -> DataFrame:
    """DataFrame-in/DataFrame-out form (no I/O)."""
    return project(*compose_merge(dfs))


def merge_table_versions(
    catalog: Catalog,
    source_tables: list[str],
    destination_table: str,
    audit_dir: Optional[str] = None,
) -> dict:
    """Full service operation.  Envelope parity:
    /root/reference/core/transformations.py:169-172."""
    if not destination_table or not source_tables or len(source_tables) < 2:
        raise ValueError("A destination table and at least two source tables must be provided.")
    dfs = [catalog.read(t) for t in source_tables]
    joined, clauses = compose_merge(dfs)
    base_alias = f"v{len(source_tables)}"
    from_sql = "\n".join(
        [f"{q(source_tables[-1])} {base_alias}"]
        + [
            f"FULL OUTER JOIN {q(t)} v{i} ON {_key_match(base_alias, f'v{i}')}"
            for i, t in reversed(list(enumerate(source_tables[:-1], 1)))
        ]
    )
    return write_projection(
        catalog, joined, clauses, from_sql, destination_table, audit_dir, REPLACED
    )
