"""The one execute path of the four survey endpoints.

Each endpoint composes a clause list; this module archives that list as
CTAS text, runs the same clause SQL through ``selectExpr`` and
overwrite-writes the result — so the archived query is the query that ran.
Envelope parity: reference core/transformations.py:169-172,639-642.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..expressions import Clause, render_select_sql
from ..plans.audit import audit_path_for, save_sql_string
from ..sources.catalog import Catalog

#: Envelope status templates (``{}`` is the destination table).
CREATED = "Table {} successfully created with all transformations applied"
REPLACED = "Table {} successfully created or replaced."


def project(df: DataFrame, clauses: list[Clause]) -> DataFrame:
    """Run a composed projection — one ``selectExpr`` Py4J call for the
    whole (possibly thousands-wide) clause list."""
    return df.selectExpr(*[c.sql for c in clauses])


def write_projection(
    catalog: Catalog,
    df: DataFrame,
    clauses: list[Clause],
    from_sql: str,
    destination_table: str,
    audit_dir: Optional[str],
    status: str,
) -> dict:
    """Archive the projection over ``from_sql`` (when ``audit_dir`` is
    set), execute it on ``df``, write ``destination_table`` and return the
    response envelope with ``status`` filled in."""
    sql_path = None
    if audit_dir:
        sql = render_select_sql(clauses, from_sql, destination_table)
        sql_path = save_sql_string(sql, audit_path_for(destination_table, audit_dir))
    catalog.write(project(df, clauses), destination_table)
    return {"status": status.format(destination_table), "submitted_sql_path": sql_path}
