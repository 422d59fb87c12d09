"""Data-profiling detectors that classify columns before row cleaning.

The reference runs these as batched BigQuery jobs — ceil(N/500) full scans
for binary detection (/root/reference/core/utils.py:375-435) and *three
scalar subqueries per column* (≈3N table scans) for strict false-array
detection (reference core/utils.py:582-698).  Here every string-column
detector is one unpivoted scan at any width: each row's cells, cast to
STRING, become ``posexplode(array(<cells>)) AS (i, v)`` rows, and one
``groupBy(i)`` evaluates the detector's conditional counts over ``v``.

Cost model: one scan and two jobs (the partial aggregate and its
N-key result) whatever the width.  Only the scan is as wide as the
table; the ``Generate`` and both ``HashAggregate``s carry 2–5 fields, so
they stay inside whole-stage codegen, where one aggregate per column
would pass ``spark.sql.codegen.maxFields`` and run interpreted.  The
shuffle is N keys per task, not N × rows: the partial aggregate runs
before it.  Driver side, the cells and the counts are each one SQL
``array(...)``, so the Py4J round trips (about a dozen) do not depend on
the width: no pyspark ``Column`` is built per column, and no Python list
of N strings is shipped as N ``ArrayList.add`` calls.  Every identifier
goes through :func:`expressions.q`, so dotted and backtick-bearing names
are safe.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from . import config
from .expressions import q


def string_columns(df: DataFrame) -> list[str]:
    """Names of STRING-typed columns — the only type the detectors consider
    (/root/reference/core/utils.py:383-390)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


def _aggregate(df: DataFrame, fragments: list[str]) -> list:
    """Values of the aggregate SQL ``fragments`` over ``df``, in order: one
    ``selectExpr`` call of one ``array(...)`` fragment, one job."""
    return df.selectExpr(f"array({', '.join(fragments)})").first()[0]


def _cell_counts(df: DataFrame, names: list[str], counts: list[str]) -> list[list[int]]:
    """Per column of ``names``, in order, the conditional counts ``counts``
    (SQL over the cell ``v``), from one unpivoted scan.  A column with no
    cells — a zero-row table — reads all-zero."""
    if not names:
        return []
    cells = ", ".join(f"CAST({q(name)} AS STRING)" for name in names)
    found = dict(
        df.selectExpr(f"array({cells}) AS cells")
        .selectExpr("posexplode(cells) AS (i, v)")
        .groupBy("i")
        .agg(F.expr(f"array({', '.join(counts)})"))
        .collect()
    )
    zeros = [0] * len(counts)
    return [found.get(i, zeros) for i in range(len(names))]


#: Cells that rule a column out of "binary": the column is binary iff 0.
_NON_BINARY_COUNT = "count_if(NOT (v = '0' OR v = '1' OR v IS NULL OR v = ''))"


def binary_columns(df: DataFrame) -> list[str]:
    """STRING columns whose every value is "0", "1", "" or NULL.

    Reference semantics (/root/reference/core/utils.py:406-408):
    ``COUNTIF(NOT (c="0" OR c="1" OR c IS NULL OR c="")) = 0`` — note an
    all-NULL column, and every column of a zero-row table, therefore *is*
    binary.  Returns names in input-schema order.
    """
    names = string_columns(df)
    return [n for n, c in zip(names, _cell_counts(df, names, [_NON_BINARY_COUNT])) if c[0] == 0]


def false_array_columns_from_reference(
    columns: list[str], reference_file_path: Optional[str] = None
) -> list[str]:
    """Name-only false-array detection against the concept-pair config.

    A column matches when it equals ``d_<a>_d_<b>`` for some configured pair,
    or is that prefix plus an all-digit loop suffix (``_19``, ``_1_1`` ...).
    Zero data scans.  Parity: /root/reference/core/utils.py:505-580.
    """
    pairs = config.load_false_array_reference(reference_file_path)
    patterns = [f"d_{p[0]}_d_{p[1]}" for p in pairs if isinstance(p, list) and len(p) >= 2]

    matches: list[str] = []
    for col in columns:
        if col == "Connect_ID":
            continue
        for pat in patterns:
            if col == pat:
                matches.append(col)
                break
            if col.startswith(pat + "_"):
                suffix = col[len(pat) + 1 :]
                if suffix.replace("_", "").isdigit():
                    matches.append(col)
                    break
    return matches


def strict_false_array_columns(
    df: DataFrame,
    use_reference: bool = False,
    reference_file_path: Optional[str] = None,
) -> list[str]:
    """Columns whose data proves them false arrays (or, fast path, whose
    names match the reference file).

    Computational mode checks, per column (parity with
    /root/reference/core/utils.py:644-678, collapsed from 3 scalar
    subqueries/column into conditional counts on one scan):

      1. 1 <= COUNT(DISTINCT c) <= 3  (some non-null value, few distincts);
      2. no non-null value outside ``config.FALSE_ARRAY_VALUES``;
      3. at most one distinct value matching ``[<9 digits>]``.

    Columns of any type are checked on their STRING cast.
    """
    cols = [c for c in df.columns if c != "Connect_ID"]
    if use_reference:
        return false_array_columns_from_reference(cols, reference_file_path)
    counts = _cell_counts(df, cols, _false_array_counts())
    return [n for n, c in zip(cols, counts) if _is_false_array(c)]


def _false_array_counts() -> list[str]:
    """Counts deciding the strict false-array checks: cells outside
    ``config.FALSE_ARRAY_VALUES``, non-null cells, then one count per
    bracketed domain value.

    Equivalent to the reference's three checks but **distinct-free**: under
    check 2 every non-null value lies in ``config.FALSE_ARRAY_VALUES`` (3
    values), so COUNT(DISTINCT c) BETWEEN 1 AND 3 collapses to "some
    non-null exists", and "<=1 distinct bracketed CID" collapses to "at
    most one of the bracketed domain values is present".  So the pass is
    a plain partial aggregation, with no Expand replicating rows per
    distinct aggregate.
    """
    allowed = ", ".join(f"'{v}'" for v in config.FALSE_ARRAY_VALUES)
    return [
        f"count_if(v IS NOT NULL AND NOT v IN ({allowed}))",
        "count_if(v IS NOT NULL)",
        *(f"count_if(v = '{v}')" for v in config.FALSE_ARRAY_VALUES
          if re.fullmatch(r"\[\d{9}\]", v)),
    ]


def _is_false_array(counts: list[int]) -> bool:
    outside, non_null, *bracketed = counts
    return outside == 0 and non_null > 0 and sum(n > 0 for n in bracketed) <= 1


def profile_columns(df: DataFrame) -> tuple[list[str], list[str]]:
    """Binary AND strict-false-array classification in one scan.

    ``clean_rows`` needs both; running the detectors separately costs two
    scans, so both families of counts share one unpivoted scan.

    Returns ``(binary_cols, false_array_cols)`` in input-schema order.
    """
    str_cols = set(string_columns(df))
    names = [n for n in df.columns if n in str_cols or n != "Connect_ID"]
    counts = _cell_counts(df, names, [_NON_BINARY_COUNT, *_false_array_counts()])
    binary = [n for n, c in zip(names, counts) if n in str_cols and c[0] == 0]
    false_arrays = [
        n for n, c in zip(names, counts) if n != "Connect_ID" and _is_false_array(c[1:])
    ]
    return binary, false_arrays


def table_profile(df: DataFrame, columns: Optional[list[str]] = None) -> DataFrame:
    """One-pass per-column profile: rows, nulls, exact min/max, approximate
    distinct (HLL sketch — mergeable, so this scales to any cluster width).

    Output is long-form (one row per column) so downstream tooling can
    filter/join on column names.  The approx distinct column is a sketch
    estimate (`approx_count_distinct`, default rsd 5%) — use exact
    ``count_distinct`` only when the cost of its shuffle is justified.
    """
    cols = columns or df.columns
    stats = _aggregate(df, [
        f"struct(count(1), count_if({c} IS NULL), CAST(min({c}) AS STRING), "
        f"CAST(max({c}) AS STRING), approx_count_distinct({c}))"
        for c in map(q, cols)
    ])
    return df.sparkSession.createDataFrame(
        [(name, *s) for name, s in zip(cols, stats)],
        "column string, n_rows long, n_nulls long, min_value string, "
        "max_value string, approx_distinct long",
    )


def false_array_columns_for_tables(
    dfs: dict[str, DataFrame], **kwargs
) -> dict[str, list[str]]:
    """Run false-array detection per table; errors yield an empty list.

    Parity: /root/reference/core/utils.py:700-748.
    """
    out: dict[str, list[str]] = {}
    for table, df in dfs.items():
        try:
            out[table] = strict_false_array_columns(df, **kwargs)
        except Exception:
            out[table] = []
    return out


def key_skew_report(
    df, key_col: str, top_k: int = 10
):
    """Partition-skew diagnostic for a prospective shuffle key: the
    ``top_k`` heaviest key values with their share of all rows, plus the
    max/mean heavy-hitter ratio — the number that predicts whether a
    groupBy/join on this key needs salting or AQE skew handling BEFORE
    burning a cluster run on it.  One partial-aggregated shuffle over
    (key, count); the top-k is TakeOrdered, not a global sort.

    Returns ``(key, n_rows, share, rank)`` rows, rank 1..top_k, share
    rounded to 6dp.
    """
    from pyspark.sql import Window, functions as F

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("__t"))
    order = [F.col("n_rows").desc(), F.col("key")]
    top = counts.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("__t"), 6).alias("share"),
            "rank",
        )
    )


def equi_width_histogram(
    df, value_col: str, bins: int, lo: float, hi: float
):
    """Fixed-range equi-width histogram (the profiling primitive behind
    zone-map tuning and outlier triage): one partial-aggregated shuffle
    of 8-byte bucket ids.  Values at ``hi`` land in the last bucket;
    out-of-range values clamp to the edge buckets (bucket 1 / ``bins``),
    mirroring ``width_bucket`` clamped to [1, bins] so external engines
    replay it exactly.  Returns ``(bucket, n, lo_edge, hi_edge)``.
    """
    from pyspark.sql import functions as F

    width = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)) + 1
    bucket = F.least(F.greatest(raw.cast("int"), F.lit(1)), F.lit(bins))
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            "n",
            F.round(F.lit(lo) + (F.col("bucket") - 1) * F.lit(width), 6).alias("lo_edge"),
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("hi_edge"),
        )
    )


def data_contract(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Great-Expectations-style data-contract gate in ONE scan.

    ``checks`` is a list of specs, each ``{"name": ..., "kind": ...}``:

    * ``not_null``  (``column``)          — observed = NULL count
    * ``unique``    (``column``)          — observed = rows − distinct
    * ``predicate`` (``expr`` SQL string) — observed = violating rows
      (rows where the expression is false OR NULL)
    * ``min_rows``  (``threshold``)       — observed = row count,
      passed = observed ≥ threshold

    Returns ``(check, observed, passed)``, one row per check, built by
    stacking columns of a single aggregate — the whole contract costs
    one pass over the table (plus the expand for the exact distinct),
    which is what makes running it on every ingest batch viable at
    100 TB.  The reference runs its profiling checks the same
    one-scan way (`/root/reference/core/utils.py` COUNTIF guards)."""
    aggs = []
    posts = []  # (name, observed_col_name, passed_expr_builder)
    for i, c in enumerate(checks):
        col = f"__c{i}"
        kind = c["kind"]
        if kind == "not_null":
            aggs.append(
                F.sum(
                    F.when(F.col(c["column"]).isNull(), 1).otherwise(0)
                ).alias(col)
            )
            posts.append((c["name"], col, lambda o: o == 0))
        elif kind == "unique":
            aggs.append(
                (
                    F.count(F.col(c["column"]))
                    - F.countDistinct(F.col(c["column"]))
                ).alias(col)
            )
            posts.append((c["name"], col, lambda o: o == 0))
        elif kind == "predicate":
            aggs.append(
                F.sum(
                    F.when(F.expr(c["expr"]), 0).otherwise(1)
                ).alias(col)
            )
            posts.append((c["name"], col, lambda o: o == 0))
        elif kind == "min_rows":
            aggs.append(F.count(F.lit(1)).alias(col))
            posts.append(
                (c["name"], col, lambda o, t=c["threshold"]: o >= t)
            )
        else:
            raise ValueError(f"unknown check kind {kind!r}")
    agg = df.agg(*aggs)
    rows = None
    for name, col, passed in posts:
        row = agg.select(
            F.lit(name).alias("check"),
            F.col(col).cast("long").alias("observed"),
            passed(F.col(col)).alias("passed"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    ks: tuple = (2, 5, 10),
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over a quasi-identifier set — the
    privacy-governance gate before a table leaves the trust boundary: a
    row is k-anonymous iff its quasi-identifier equivalence class holds
    at least k rows, so re-identification by linking on those columns
    narrows to >= k candidates.

    One groupBy on the quasi-identifier tuple (the class census), then a
    scalar roll-up per requested k — both map-side combinable, total
    shuffle bounded by the class count, never the row count.  Returns one
    row per k: classes and rows below the threshold, the at-risk row
    fraction, and the minimum class size observed (the table's actual
    anonymity level).  All integer counts: engine-exact everywhere."""
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__sz"))
    # one class census, then all thresholds in ONE pass: explode the k
    # list over the (small) class frame instead of re-scanning per k
    fanned = classes.select(
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"), "__sz"
    )
    risky = F.sum(F.when(F.col("__sz") < F.col("k"), F.col("__sz")))
    return fanned.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(
            F.when(F.col("__sz") < F.col("k"), 1).otherwise(0)
        ).alias("risky_classes"),
        F.coalesce(risky, F.lit(0)).alias("risky_rows"),
        F.round(F.coalesce(risky, F.lit(0)) / F.sum("__sz"), 4).alias(
            "risky_frac"
        ),
        F.min("__sz").alias("min_class_size"),
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    ls: tuple = (2, 3),
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a class can hold k rows yet leak the secret when
    every row SHARES the sensitive value (homogeneity attack).  A class
    is l-diverse iff its rows span at least l distinct sensitive values.

    One groupBy on (quasi tuple, sensitive) then a class-level rollup —
    shuffle bounded by class x value combinations, never rows.  Returns
    one row per l: classes/rows below the threshold, the at-risk
    fraction, and the table's minimum class diversity.  All integers:
    engine-exact."""
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("__n").alias("__sz"),
        F.count(F.lit(1)).alias("__div"),
    )
    fanned = classes.select(
        F.explode(F.array(*[F.lit(int(v)) for v in ls])).alias("l"),
        "__sz",
        "__div",
    )
    risky = F.sum(F.when(F.col("__div") < F.col("l"), F.col("__sz")))
    return fanned.groupBy("l").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("__div") < F.col("l"), 1).otherwise(0)).alias(
            "risky_classes"
        ),
        F.coalesce(risky, F.lit(0)).alias("risky_rows"),
        F.round(F.coalesce(risky, F.lit(0)) / F.sum("__sz"), 4).alias(
            "risky_frac"
        ),
        F.min("__div").alias("min_diversity"),
    )
