"""Data-profiling detectors that classify columns before row cleaning.

The reference runs these as batched BigQuery jobs — ceil(N/500) full scans
for binary detection (/root/reference/core/utils.py:375-435) and *three
scalar subqueries per column* (≈3N table scans) for strict false-array
detection (reference core/utils.py:582-698).  Here every per-column
check is one aggregate written as Spark-SQL text, and one aggregation pass
classifies a whole batch of columns at once — strict false-array detection
drops from ≈3N scans to ceil(N/100).

Cost model, per batch: the batch's fragments are joined into one
``array(...)`` expression and run as one ``df.selectExpr(...).first()`` —
one ``selectExpr`` call to plan it, one job and one scan to evaluate it.
The number of Py4J round trips (about a dozen per batch) does not depend
on how many columns the batch holds:
no pyspark ``Column`` is built per column (each ``F.col``, operator and
``alias`` would be its own round trip, ~150 per column), and the single
fragment also avoids pyspark's list conversion, which ships a list of N
strings as N ``ArrayList.add`` calls.  Every identifier goes through
:func:`expressions.q`, so dotted and backtick-bearing names are safe.

Batches (config.*_BATCH) keep ultra-wide tables (~4k survey columns -> ~12k
aggregates) from pushing whole-stage codegen into fallback.  Each batch is
its own job and scan; nothing is cached between batches.
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


def _chunks(xs: list, size: int):
    for i in range(0, len(xs), size):
        yield xs[i : i + size]


def _aggregate(df: DataFrame, fragments: list[str]) -> list:
    """Values of the aggregate SQL ``fragments`` over ``df``, in order: one
    ``selectExpr`` call of one ``array(...)`` fragment, one job."""
    return df.selectExpr(f"array({', '.join(fragments)})").first()[0]


def binary_columns(df: DataFrame, batch_size: int = config.BINARY_DETECTION_BATCH) -> list[str]:
    """STRING columns whose every value is "0", "1", "" or NULL.

    Reference semantics (/root/reference/core/utils.py:406-408):
    ``COUNTIF(NOT (c="0" OR c="1" OR c IS NULL OR c="")) = 0`` — note an
    all-NULL column therefore *is* binary.  One aggregation scan per
    ``batch_size`` columns, like the reference's batches; returns names in
    input-schema order.
    """
    found: list[str] = []
    for batch in _chunks(string_columns(df), batch_size):
        flags = _aggregate(df, [_binary_flag(name) for name in batch])
        found.extend(name for name, flag in zip(batch, flags) if flag)
    return found


def _binary_flag(name: str) -> str:
    """Aggregate SQL deciding the binary check for ``name``."""
    c = q(name)
    return f"count_if(NOT ({c} = '0' OR {c} = '1' OR {c} IS NULL OR {c} = '')) = 0"


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
    batch_size: int = config.FALSE_ARRAY_DETECTION_BATCH,
    use_reference: bool = False,
    reference_file_path: Optional[str] = None,
) -> list[str]:
    """Columns whose data proves them false arrays (or, fast path, whose
    names match the reference file).

    Computational mode checks, per column (parity with
    /root/reference/core/utils.py:644-678, collapsed from 3 scalar
    subqueries/column into aggregates on one scan):

      1. 1 <= COUNT(DISTINCT c) <= 3  (some non-null value, few distincts);
      2. no non-null value outside ``config.FALSE_ARRAY_VALUES``;
      3. at most one distinct value matching ``[<9 digits>]``.
    """
    cols = [c for c in df.columns if c != "Connect_ID"]
    if use_reference:
        return false_array_columns_from_reference(cols, reference_file_path)

    found: list[str] = []
    for batch in _chunks(cols, batch_size):
        flags = _aggregate(df, [_false_array_flag(name) for name in batch])
        found.extend(name for name, flag in zip(batch, flags) if flag)
    return found


def _false_array_flag(name: str) -> str:
    """Aggregate SQL deciding the strict false-array checks for ``name``.

    Equivalent to the reference's three checks but **distinct-free**: under
    check 2 every non-null value lies in ``config.FALSE_ARRAY_VALUES`` (3
    values), so COUNT(DISTINCT c) BETWEEN 1 AND 3 collapses to "some
    non-null exists", and "<=1 distinct bracketed CID" collapses to "at
    most one of the bracketed domain values is present".  This matters at
    scale: Spark rewrites multi-column COUNT(DISTINCT) aggregates with an
    Expand operator that replicates every input row once per distinct
    aggregate — 2 distincts x 100-column batches meant ~200x shuffle
    amplification; presence flags keep the pass a plain one-shuffle-free
    partial aggregation.
    """
    c = q(name)
    allowed = ", ".join(f"'{v}'" for v in config.FALSE_ARRAY_VALUES)
    n_bracketed_present = " + ".join(
        f"CAST(count_if({c} = '{v}') > 0 AS INT)"
        for v in config.FALSE_ARRAY_VALUES
        if re.fullmatch(r"\[\d{9}\]", v)
    ) or "0"
    return (
        f"count_if({c} IS NOT NULL AND NOT {c} IN ({allowed})) = 0"
        f" AND count_if({c} IS NOT NULL) > 0"
        f" AND ({n_bracketed_present}) <= 1"
    )


def profile_columns(
    df: DataFrame,
    batch_size: int = config.BINARY_DETECTION_BATCH,
) -> tuple[list[str], list[str]]:
    """Binary AND strict-false-array classification in one scan per batch.

    ``clean_rows`` needs both; running the detectors separately costs two
    scans per batch.  Both flag families are plain conditional counts, so
    each batch of columns shares one aggregation scan: at 100 TB this halves
    the passes over the table.

    Returns ``(binary_cols, false_array_cols)`` in input-schema order.
    """
    str_cols = set(string_columns(df))
    bin_found: list[str] = []
    fa_found: list[str] = []
    for batch in _chunks(list(df.columns), batch_size):
        fragments, targets = [], []
        for name in batch:
            if name in str_cols:
                fragments.append(_binary_flag(name))
                targets.append((bin_found, name))
            if name != "Connect_ID":
                fragments.append(_false_array_flag(name))
                targets.append((fa_found, name))
        if not fragments:
            continue
        for (found, name), flag in zip(targets, _aggregate(df, fragments)):
            if flag:
                found.append(name)
    return bin_found, fa_found


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
