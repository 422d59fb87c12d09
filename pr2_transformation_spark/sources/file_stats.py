"""File min/max statistics, owned in one place: extract them from
parquet footers, decide whether a column range ``[lo, hi]`` can satisfy
a predicate or hold a key, and probe MERGE source keys against
per-file bounds.

Every pruning path of the lake layer — Delta ``add.stats``, Iceberg
manifest bounds and partition tuples, ORC stripe and row-index stats,
parquet footer and page-index stats — reads its own metadata into
``(lo, hi, all_null)`` and asks this module.  The contract is the one
data skipping lives by, no false negatives: a file, stripe, row group
or page is dropped only when its bounds PROVE that no row can match.
A missing bound, a NaN bound or a literal whose type cannot be
compared with the bounds keeps it.

Pure python at import: the Spark side (``candidate_files``) and the
pyarrow side (``footer_stats``) import lazily, so the from-scratch
ORC and parquet readers stay importable without either.
"""

from __future__ import annotations

import datetime


def _footer_stats_one(local_path: str) -> "dict | None":
    import pyarrow as pa
    import pyarrow.parquet as pq
    try:
        md = pq.ParquetFile(local_path).metadata
    except Exception:  # noqa: BLE001 — stats are an optimization, never fatal
        return None

    def _plain(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        if isinstance(v, (bool, int, float, str)):
            return v
        return None

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    skip: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in skip:
                continue
            st = col.statistics
            try:
                # pyarrow cannot extract some logical types' stats
                # (DECIMAL raises ArrowNotImplementedError)
                mn, mx = ((_plain(st.min), _plain(st.max))
                          if st is not None and st.has_min_max
                          else (None, None))
            except pa.ArrowException:
                mn = mx = None
            if mn is None or mx is None:
                skip.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": {k: v for k, v in nulls.items() if k not in skip},
    }


def footer_stats(paths: "list[str]") -> "list[dict | None]":
    """Per-file column statistics from the parquet FOOTER only (zero
    data pages read), one entry per path: ``{"numRecords",
    "minValues", "maxValues", "nullCount"}`` keyed by leaf column —
    the payload of Delta ``add.stats`` and of Iceberg manifest bounds.
    Columns whose chunks lack stats, carry non-primitive values or
    whose stats pyarrow cannot extract are omitted, so pruning stays
    conservative for them; an unreadable footer yields None.  Many
    files are probed in a small thread pool: pyarrow's footer read
    releases the GIL, and a partitioned commit stages hundreds."""
    if len(paths) <= 4:
        return [_footer_stats_one(p) for p in paths]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(_footer_stats_one, paths))


def may_contain(lo, hi, op: str, val, all_null: bool = False) -> bool:
    """False only when a column whose non-null values lie in ``[lo,
    hi]`` PROVABLY holds no value satisfying ``col <op> val`` (op in
    ``= < <= > >=``).  A missing or NaN bound keeps the range unless
    ``all_null`` says every value is NULL (NULL satisfies no
    comparison); an unknown op or an incomparable literal keeps it.
    A range predicate ``a <= col <= b`` is ``>= a`` and ``<= b``."""
    if lo is None or hi is None or lo != lo or hi != hi:
        return not all_null
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:
        return True
    return True


def candidate_files(keys_df, key: str,
                    bounds: "dict[str, tuple]") -> "set[str] | None":
    """The files of ``bounds`` (``{path: (lo, hi)}`` of the key column,
    None where a file has no bound) that may hold some value of
    ``keys_df[key]``; None when the probe does not pay and the caller
    should scan every file.

    A target row whose key equals a source key lies inside its file's
    ``[lo, hi]``, so one broadcast interval join of the distinct source
    keys against the driver-read bounds finds every file a MERGE must
    scan.  The join is one extra (tiny) Spark job: below a few dozen
    files the full scan is the cheaper path (A/B'd on q416: pruning 8
    files cost about twice the scan it saved), and an oversized file
    list (past 4096) is not broadcast as a bounds table either.  Files
    without bounds are always kept."""
    from pyspark.sql import functions as F

    if not 32 < len(bounds) <= 4096:
        return None
    rows = [(p, lo, hi) for p, (lo, hi) in bounds.items()
            if lo is not None and hi is not None]
    if not rows:
        return None
    bdf = keys_df.sparkSession.createDataFrame(rows, ["__fp", "__lo", "__hi"])
    hit = {
        r["__fp"]
        for r in keys_df.select(F.col(key).alias("__k"))
        .join(F.broadcast(bdf),
              (F.col("__k") >= F.col("__lo"))
              & (F.col("__k") <= F.col("__hi")))
        .select("__fp").distinct().collect()
    }
    return hit | {p for p, (lo, hi) in bounds.items()
                  if lo is None or hi is None}
