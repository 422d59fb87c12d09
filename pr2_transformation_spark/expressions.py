"""Row-level expression builders.

Every function here returns a :class:`Clause`: an output column name and the
Spark-SQL SELECT fragment that produces it.  The fragment is the only plan
representation — operators execute it through ``df.selectExpr`` and archive
the same text as the SQL-audit artifact (:func:`render_select_sql`), so the
archived query is the query that ran, mirroring the reference's practice of
archiving every generated query before execution
(reference core/utils.py:54-89).  A whole projection is one
``selectExpr`` call, however wide the survey table (pyspark ships the list of
fragments as one Py4J round trip per fragment).  Each profiling batch (:mod:`.profiling`)
is one ``selectExpr`` call too: its per-column aggregates are SQL text on
the same :func:`q` quoting, packed into one fragment, so its Py4J round
trips do not grow with the batch's width.

Dialect note: the reference emits BigQuery re2 regexes with ``\\1``
backreferences (reference core/utils.py:773); Spark/Java uses ``$1``.
The patterns themselves (``\\[\\d{9}\\]`` etc.) are dialect-portable.
"""

from __future__ import annotations

from typing import NamedTuple

from . import config


class Clause(NamedTuple):
    """One output column of a composed projection."""

    out_name: str  # the output column name (what the alias says)
    sql: str       # Spark-SQL SELECT fragment (executed and archived)


def q(name: str) -> str:
    """Backtick-quote an identifier, doubling any backtick inside it, so a
    name with dots or backticks stays one top-level column reference."""
    return "`" + name.replace("`", "``") + "`"


def passthrough(name: str) -> Clause:
    """Identity projection (reference core/transformations.py:712-713)."""
    return Clause(name, q(name))


def rename(source: str, target: str) -> Clause:
    """``source AS target`` (reference core/transformations.py:267-268)."""
    return Clause(target, f"{q(source)} AS {q(target)}")


def coalesce(refs: list[str], target: str) -> Clause:
    """First-non-NULL across already-quoted column refs, aliased; a single
    ref is a plain rename.  Callers quote bare names with :func:`q` or
    qualify them (``v1.`c```, the merge path).
    Parity: reference core/transformations.py:99-105,271,359,499."""
    expr = refs[0] if len(refs) == 1 else f"COALESCE({', '.join(refs)})"
    return Clause(target, f"{expr} AS {q(target)}")


def binary_recode(name: str) -> Clause:
    """Recode a 0/1 survey flag to Yes/No concept IDs.

    ``"1"`` -> Yes CID, ``"0"`` -> No CID, everything else (NULL, "", other
    junk) -> NULL; output keeps the column's name.  Parity:
    reference core/utils.py:437-466.
    """
    return Clause(
        name,
        f"CASE WHEN {q(name)} = '1' THEN '{config.YES_CID}' "
        f"WHEN {q(name)} = '0' THEN '{config.NO_CID}' "
        f"ELSE NULL END AS {q(name)}",
    )


def unwrap_singleton(name: str) -> Clause:
    """Unwrap a "false array" value to its bare concept ID.

    ``"[]"`` -> NULL; ``"[123456789]"`` -> ``"123456789"``; NULL -> NULL;
    anything else -> a STRING NULL.  Parity:
    reference core/utils.py:750-778 with the re2->Java backreference
    translation (``\\1`` -> ``$1``).
    """
    return Clause(
        name,
        f"CASE WHEN {q(name)} = '[]' THEN NULL "
        f"WHEN {q(name)} RLIKE '\\\\[\\\\d{{9}}\\\\]' "
        f"THEN REGEXP_REPLACE({q(name)}, '\\\\[(\\\\d{{9}})\\\\]', '$1') "
        f"WHEN {q(name)} IS NULL THEN NULL "
        f"ELSE CAST(NULL AS STRING) END AS {q(name)}",
    )


def render_custom_transform(spec: dict) -> Clause:
    """Materialize a registry entry from :data:`config.CUSTOM_TRANSFORMS`.

    The target name is carried structurally by the spec — no ``AS``-regex
    recovery like reference core/transformations.py:413.
    """
    source, target = spec["source"], spec["target"]
    return Clause(target, spec["transform_template"](source, target))


def render_select_sql(clauses: list[Clause], from_sql: str, destination_table: str) -> str:
    """Render the CTAS text of a composed projection over ``from_sql`` (a
    quoted table name or a join chain).

    Matches the reference's CTAS shape
    (reference core/transformations.py:613-622) in Spark dialect.
    """
    body = ",\n    ".join(c.sql for c in clauses)
    return (
        f"CREATE OR REPLACE TABLE {q(destination_table)} USING PARQUET AS\n"
        f"SELECT\n    {body}\nFROM {from_sql}"
    )
