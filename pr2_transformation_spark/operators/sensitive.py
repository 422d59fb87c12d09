"""`create_sensitive_tier` — fixed-list PII-tier extraction.

A hard-coded 18-column projection (``Connect_ID`` + 17 concept IDs) into a
restricted-access table.  Parity:
/root/reference/core/transformations.py:785-830 (column list :792-797).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from .. import config
from ..expressions import Clause, passthrough, q
from ..sources.catalog import Catalog
from .projection import CREATED, project, write_projection


def compose_sensitive_tier() -> list[Clause]:
    return [passthrough(c) for c in config.SENSITIVE_TIER_COLUMNS]


def sensitive_tier_df(df: DataFrame) -> DataFrame:
    """Select the sensitive-tier columns; fails analysis if any is missing,
    matching the reference's failure mode on absent columns."""
    return project(df, compose_sensitive_tier())


def create_sensitive_tier(
    catalog: Catalog,
    source_table: str,
    destination_table: str,
    audit_dir: Optional[str] = None,
) -> dict:
    df = catalog.read(source_table)
    return write_projection(
        catalog, df, compose_sensitive_tier(), q(source_table), destination_table,
        audit_dir, CREATED,
    )
