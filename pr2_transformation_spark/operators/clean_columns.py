"""`clean_columns` — column-name standardization as one wide projection.

Composes a single ``df.selectExpr(...)`` from five ordered clause groups, each
builder consuming a shared ``processed`` name set so later builders skip
already-produced outputs (threading parity:
/root/reference/core/transformations.py:556-584):

  0. ``Connect_ID`` pass-through (always first when present);
  1. one-off rename map (with COALESCE groups for shared targets);
  2. substring excision (``_num``, ``state_``) with collision COALESCE;
  3. custom transforms (guarded age/year casts);
  4. loop-variable grouping/COALESCE + residual canonical renames.

All decisions are made on the driver against ``df.schema.names``; the only
cluster work is the final one-pass projection, which Catalyst prunes and
codegens.  No UDFs, no shuffles — 1:1 on rows at any scale.

Known reference quirk NOT reproduced: when at least one column contains an
excisable substring, the reference's substring pass sweeps up *every*
unprocessed column (its grouping loop runs over ``all_columns``,
/root/reference/core/transformations.py:322-338), which would mark the whole
table processed and disable loop-variable coalescing for that run.  That
contradicts the pass's stated purpose and the reference's own loop tests, so
here the pass claims only columns that actually contain a substring — plus
any plain column whose name IS one of the excised targets, which must join
the COALESCE group (the one outcome of the reference's sweep that protects
data) — and the rest flow on to loop processing.  The deviation is pinned
verbatim by tests/test_reference_differential.py (golden + property).
"""

from __future__ import annotations

from collections import Counter
from typing import Optional

from pyspark.sql import DataFrame

from .. import config, names
from ..expressions import Clause, coalesce, passthrough, q, rename, render_custom_transform
from ..sources.catalog import Catalog, parse_fq_table
from .projection import CREATED, project, write_projection


def _build_one_off_rename_clauses(
    columns: list[str], table_identifier: str, processed: set[str]
) -> list[Clause]:
    """Apply the per-table rename map; multiple sources (or a pre-existing
    target column) for one target become a COALESCE group.

    Parity: /root/reference/core/transformations.py:178-280.
    """
    mappings = config.ONE_OFF_COLUMN_RENAME_MAPPINGS.get(table_identifier, [])
    if not mappings:
        return []

    case_map = {c.lower(): c for c in columns}
    seen_targets: set[str] = set()
    groups: dict[str, list[str]] = {}

    for m in mappings:
        src_l, tgt_l = m["source"].lower(), m["target"].lower()
        if src_l not in case_map:
            continue  # source column absent from this table
        src = case_map[src_l]
        if tgt_l in seen_targets or tgt_l in case_map:
            if tgt_l not in groups:
                groups[tgt_l] = [case_map[tgt_l]] if tgt_l in case_map else []
            groups[tgt_l].append(src)
        else:
            seen_targets.add(tgt_l)
            groups[tgt_l] = [src]

    clauses: list[Clause] = []
    for tgt_l, sources in groups.items():
        target = next(
            (m["target"] for m in mappings if m["target"].lower() == tgt_l), tgt_l
        )
        if names.standardize_column_case(target).lower() in processed:
            continue
        clauses.append(coalesce([q(s) for s in sources], target))
        processed.add(target.lower())
        processed.update(s.lower() for s in sources)
    return clauses


def _build_substring_removal_clauses(
    columns: list[str], processed: set[str]
) -> list[Clause]:
    """Excise ``config.SUBSTRINGS_TO_FIX`` from names; names that collide
    after excision are COALESCEd, priority = fewest excised substrings first.

    Parity: /root/reference/core/transformations.py:282-367 (modulo the
    sweep-all quirk documented in the module docstring).
    """
    subset = [
        c
        for c in columns
        if c.lower() not in processed
        and any(s in c for s in config.SUBSTRINGS_TO_FIX)
    ]
    if not subset:
        return []

    # Targets this pass will produce; a plain column whose standardized name
    # IS one of those targets must join the COALESCE group (the reference
    # reaches the same outcome via its sweep-all loop) — otherwise the plain
    # column's data would be silently dropped when the excised rename claims
    # its name.
    targets = {
        names.standardize_column_case(
            names.excise_substrings(c, config.SUBSTRINGS_TO_FIX)
        )
        for c in subset
    }
    candidates = [
        c
        for c in columns
        if c.lower() not in processed
        and (
            any(s in c for s in config.SUBSTRINGS_TO_FIX)
            or names.standardize_column_case(c) in targets
        )
    ]

    groups: dict[str, list[str]] = {}
    for col in candidates:
        new = names.standardize_column_case(
            names.excise_substrings(col, config.SUBSTRINGS_TO_FIX)
        )
        groups.setdefault(new, []).append(col)

    clauses: list[Clause] = []
    for new, cols in groups.items():
        if new.lower() in processed:
            continue
        if len(cols) == 1:
            clauses.append(rename(cols[0], new) if cols[0] != new else passthrough(new))
        else:
            prio = lambda c: sum(1 for s in config.SUBSTRINGS_TO_FIX if s in c)
            clauses.append(coalesce([q(c) for c in sorted(cols, key=prio)], new))
        processed.add(new.lower())
        processed.update(c.lower() for c in cols)
    return clauses


def _build_custom_transform_clauses(
    table_identifiers: list[str], processed: set[str]
) -> list[Clause]:
    """Registry-driven transforms; the spec carries the target name, so no
    ``AS``-regex recovery is needed.

    Parity: /root/reference/core/transformations.py:369-431.
    """
    specs: list[dict] = []
    for tid in table_identifiers:
        if tid in config.CUSTOM_TRANSFORMS:
            specs = config.CUSTOM_TRANSFORMS[tid]
            config.validate_custom_transforms({tid: specs})
            break

    clauses: list[Clause] = []
    for spec in specs:
        if spec["target"].lower() in processed:
            continue
        clauses.append(render_custom_transform(spec))
        processed.add(spec["target"].lower())
    return clauses


def _build_loop_variable_clauses(
    columns: list[str], processed: set[str]
) -> list[Clause]:
    """Group pure loop variables by (CID-set, loop, version) and COALESCE
    each group to its canonical name; residual pure non-loop variables get
    canonical renames.  Impure names are dropped (and marked processed).

    Parity: /root/reference/core/transformations.py:433-534.
    """
    remaining = [c for c in columns if c.lower() not in processed]
    for var in remaining:
        if not names.is_pure_variable(var):
            processed.add(var.lower())
    valid = [
        c
        for c in remaining
        if c.lower() not in processed and names.is_pure_variable(c)
    ]

    groups = names.group_loop_variables(valid)
    in_groups = {v for members in groups.values() for v in members}

    clauses: list[Clause] = []
    for (cids, loop_number, version), members in groups.items():
        out = names.canonical_loop_name(members[0], loop_number, version)
        if out.lower() in processed:
            continue
        clauses.append(coalesce([q(m) for m in members], out))
        processed.add(out.lower())
        processed.update(m.lower() for m in members)

    for var in valid:
        if var in in_groups:
            continue
        out = names.canonical_nonloop_name(var)
        if out.lower() in processed:
            continue
        clauses.append(rename(var, out) if var != out else passthrough(var))
        processed.add(out.lower())
        processed.add(var.lower())
    return clauses


def compose_clean_columns(
    columns: list[str], table_identifier: str = "", fq_table: str = ""
) -> list[Clause]:
    """Pure planner: column-name list -> ordered projection clauses.

    Builder order and the threaded ``processed`` set follow
    /root/reference/core/transformations.py:556-584; a final uniqueness
    check guards the output (reference's duplicate validation,
    /root/reference/core/transformations.py:722-735).
    """
    processed: set[str] = set()
    clauses: list[Clause] = []

    if "Connect_ID" in columns:
        clauses.append(passthrough("Connect_ID"))
        processed.add("connect_id")

    clauses += _build_one_off_rename_clauses(columns, table_identifier, processed)
    clauses += _build_substring_removal_clauses(columns, processed)
    clauses += _build_custom_transform_clauses(
        [table_identifier, fq_table] if table_identifier else [fq_table], processed
    )
    clauses += _build_loop_variable_clauses(columns, processed)

    counts = Counter(c.out_name.lower() for c in clauses)
    dupes = {n for n, k in counts.items() if k > 1}
    if dupes:
        raise ValueError(f"duplicate output columns composed: {sorted(dupes)}")
    return clauses


def clean_columns_df(df: DataFrame, table_identifier: str = "", fq_table: str = "") -> DataFrame:
    """DataFrame-in/DataFrame-out form (no I/O)."""
    return project(df, compose_clean_columns(df.schema.names, table_identifier, fq_table))


def clean_columns(
    catalog: Catalog,
    source_table: str,
    destination_table: str,
    audit_dir: Optional[str] = None,
) -> dict:
    """Full service operation: read, compose, audit SQL, overwrite-write.

    Response envelope parity: /root/reference/core/transformations.py:639-642.
    """
    _, dataset, table = parse_fq_table(source_table)
    df = catalog.read(source_table)
    clauses = compose_clean_columns(
        df.schema.names, f"{dataset}.{table}", source_table
    )
    return write_projection(
        catalog, df, clauses, q(source_table), destination_table, audit_dir, CREATED
    )
