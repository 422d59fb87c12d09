"""Output checks for the survey endpoints, against generator ground truth.

Each check reads the parquet the endpoint wrote and compares it with
what :mod:`perfbench.survey_lake` recorded when it built the source
tables.  Rows are matched on ``Connect_ID`` (unique per table); a check
returns ``None`` on success or a one-line reason on mismatch.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from .survey_lake import NO_CID, SENSITIVE_CIDS, YES_CID, TableTruth


def _read(path: str) -> tuple[list[str], dict[str, list]]:
    table = pq.read_table(path)
    return table.column_names, table.to_pydict()


def _first_non_null(*vals):
    return next((v for v in vals if v is not None), None)


def _recode(kind: str, v):
    if kind == "binary":
        return YES_CID if v == "1" else NO_CID if v == "0" else None
    if kind == "false_array":
        if v is not None and len(v) == 11 and v[0] == "[" and v[-1] == "]" and v[1:-1].isdigit():
            return v[1:-1]
        return None
    return v


def _compare(out: dict[str, list], expected: dict[str, list], key: str = "Connect_ID"):
    """Same columns, same keys, and per key the same value in every column."""
    if set(out) != set(expected):
        missing = sorted(set(expected) - set(out))[:3]
        extra = sorted(set(out) - set(expected))[:3]
        return f"column set differs: missing {missing} extra {extra}"
    pos = {k: i for i, k in enumerate(expected[key])}
    if len(out[key]) != len(pos) or set(out[key]) != set(pos):
        return f"row keys differ: {len(out[key])} rows vs {len(pos)} expected"
    perm = [pos[k] for k in out[key]]
    for name, vals in expected.items():
        got = out[name]
        if any(got[i] != vals[j] for i, j in enumerate(perm)):
            return f"values differ in column {name}"
    return None


def check_audit(response: dict) -> str | None:
    path = response.get("submitted_sql_path")
    if not path or not os.path.isfile(path) or os.path.getsize(path) == 0:
        return "SQL audit file missing"
    return None


def check_clean_columns(t: TableTruth, out_path: str) -> str | None:
    expected = {
        out: [_first_non_null(*vals) for vals in zip(*(t.data[s] for s in srcs))]
        for out, srcs in t.clean_columns.items()
    }
    return _compare(_read(out_path)[1], expected)


def check_clean_rows(t: TableTruth, out_path: str) -> str | None:
    out_cols, out = _read(out_path)
    order = sorted(c for c in t.columns if t.recode(c) == "binary")
    order += sorted(c for c in t.columns if t.recode(c) == "false_array")
    order += sorted(c for c in t.columns if t.recode(c) == "pass")
    if out_cols != order:
        return "clean_rows column order differs"
    expected = {
        c: [_recode(t.recode(c), v) for v in t.data[c]] for c in t.columns
    }
    return _compare(out, expected)


def check_sensitive(t: TableTruth, out_path: str) -> str | None:
    cols = ["Connect_ID"] + [f"d_{c}" for c in SENSITIVE_CIDS]
    out_cols, out = _read(out_path)
    if out_cols != cols:
        return "sensitive tier columns differ"
    return _compare(out, {c: t.data[c] for c in cols})


def check_merge(v1: TableTruth, v2: TableTruth, out_path: str) -> str | None:
    def valid(t):
        return {c.lower() if c != "Connect_ID" else c: c
                for c in t.columns if c not in t.merge_excluded}

    m1, m2 = valid(v1), valid(v2)
    row1 = {k: i for i, k in enumerate(v1.data["Connect_ID"])}
    row2 = {k: i for i, k in enumerate(v2.data["Connect_ID"])}
    keys = list(row2) + [k for k in row1 if k not in row2]

    def value(t, rows, mapping, name, key):
        i = rows.get(key)
        return None if i is None or name not in mapping else t.data[mapping[name]][i]

    expected = {
        name: [
            _first_non_null(value(v1, row1, m1, name, k), value(v2, row2, m2, name, k))
            for k in keys
        ]
        for name in set(m1) | set(m2)
    }
    return _compare(_read(out_path)[1], expected)
