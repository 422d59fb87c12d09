"""Data-level golden tests for profiling + clean_rows (FIXTURES.md F3)."""

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from pr2_transformation_spark import config, profiling
from pr2_transformation_spark.expressions import q, render_select_sql
from pr2_transformation_spark.operators.clean_rows import clean_rows_df, compose_clean_rows


@pytest.fixture(scope="module")
def survey_values(spark):
    # Columns per FIXTURES.md F3; rows exercise every value-domain branch.
    rows = [
        #  Connect_ID, binary,  bin2, notbin, allnull, fa,            fa_loop,        fa2,            notfa,         age_year
        Row("900000001", "0",  "0",  "0",    None, "[]",           "[178420302]", "[]",           "[]",          "55"),
        Row("900000002", "1",  "1",  "1",    None, "[178420302]",  "[]",          "[123456789]",  "[12]",        "125"),
        Row("900000003", "",   "0",  "2",    None, "[958239616]",  None,          "[123456789]",  "garbage",     "1987"),
        Row("900000004", None, "1",  None,   None, None,           "[178420302]", None,           "[123456789]", "126"),
        Row("900000005", "1",  "0",  "1",    None, "[]",           "[]",          "[123456789]",  "[]",          "abc"),
        Row("900000006", "0",  "1",  "0",    None, "[178420302]",  None,          "[]",           "[12]",        None),
    ]
    cols = [
        "Connect_ID", "d_820476880", "d_617885715", "d_903487909", "d_999999999",
        "d_578895128_d_578895128", "d_578895128_d_578895128_19",
        "d_236590500_d_236590500", "d_444444444", "d_317093647",
    ]
    schema = ", ".join(f"`{c}` string" for c in cols)
    return spark.createDataFrame([tuple(r) for r in rows], schema)


def test_binary_detection(survey_values):
    # all-NULL column counts as binary (reference COUNTIF semantics);
    # "2"-containing column does not; Connect_ID (digit strings) does not.
    assert profiling.binary_columns(survey_values) == [
        "d_820476880", "d_617885715", "d_999999999"
    ]


def test_false_array_reference_detection(survey_values):
    cols = survey_values.schema.names
    assert profiling.false_array_columns_from_reference(cols) == [
        "d_578895128_d_578895128",
        "d_578895128_d_578895128_19",
        "d_236590500_d_236590500",
    ]


def test_false_array_strict_detection(survey_values):
    found = profiling.strict_false_array_columns(survey_values, use_reference=False)
    # d_578895128_d_578895128 carries TWO distinct bracketed CIDs -> fails
    # check 3 (<=1 distinct bracketed value); d_236590500_d_236590500 holds
    # "[123456789]" (outside the allowed value set) -> fails check 2;
    # d_444444444 has junk values -> fails; d_999999999 is all NULL -> fails
    # check 1 (needs >=1 non-null).
    assert found == ["d_578895128_d_578895128_19"]


def test_clean_rows_golden(survey_values):
    out = clean_rows_df(survey_values)
    # Output order: sorted binary, sorted false arrays, sorted pass-through.
    assert out.columns == [
        "d_617885715", "d_820476880", "d_999999999",
        "d_236590500_d_236590500", "d_578895128_d_578895128", "d_578895128_d_578895128_19",
        "Connect_ID", "d_317093647", "d_444444444", "d_903487909",
    ]
    rows = {r["Connect_ID"]: r for r in out.collect()}

    # Binary recode: "1"->Yes CID, "0"->No CID, ""/NULL/other -> NULL.
    assert rows["900000001"]["d_820476880"] == "104430631"
    assert rows["900000002"]["d_820476880"] == "353358909"
    assert rows["900000003"]["d_820476880"] is None
    assert rows["900000004"]["d_820476880"] is None
    assert all(r["d_999999999"] is None for r in rows.values())

    # Unwrap: "[]"->NULL, "[9digits]"->digits, NULL->NULL, else default NULL.
    assert rows["900000001"]["d_578895128_d_578895128"] is None
    assert rows["900000002"]["d_578895128_d_578895128"] == "178420302"
    assert rows["900000003"]["d_578895128_d_578895128"] == "958239616"
    assert rows["900000004"]["d_578895128_d_578895128"] is None
    assert rows["900000002"]["d_236590500_d_236590500"] == "123456789"

    # Non-detected columns pass through untouched.
    assert rows["900000002"]["d_444444444"] == "[12]"
    assert rows["900000003"]["d_444444444"] == "garbage"
    assert rows["900000003"]["d_903487909"] == "2"


def test_clean_rows_duplicate_guard(survey_values):
    clauses = compose_clean_rows(survey_values)
    outs = [c.out_name for c in clauses]
    assert len(outs) == len(set(outs))


def test_data_contract_detects_violations(spark):
    from pr2_transformation_spark.profiling import data_contract
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (2, 3.0), (None, 4.0)],
        "id long, v double",
    )
    out = {
        r["check"]: (r["observed"], r["passed"])
        for r in data_contract(
            df,
            [
                {"name": "id_not_null", "kind": "not_null", "column": "id"},
                {"name": "id_unique", "kind": "unique", "column": "id"},
                {"name": "v_positive", "kind": "predicate", "expr": "v > 0"},
                {"name": "enough", "kind": "min_rows", "threshold": 10},
            ],
        ).collect()
    }
    assert out["id_not_null"] == (1, False)
    assert out["id_unique"] == (1, False)  # id=2 twice; NULL not counted
    assert out["v_positive"] == (1, False)
    assert out["enough"] == (4, False)


def test_data_contract_all_green_and_unknown_kind(spark):
    from pr2_transformation_spark.profiling import data_contract
    import pytest

    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = data_contract(
        df,
        [
            {"name": "nn", "kind": "not_null", "column": "id"},
            {"name": "u", "kind": "unique", "column": "id"},
            {"name": "n", "kind": "min_rows", "threshold": 2},
        ],
    ).collect()
    assert all(r["passed"] for r in out)
    with pytest.raises(ValueError, match="unknown check kind"):
        data_contract(df, [{"name": "x", "kind": "nope"}])


def test_false_array_reference_ships_all_75_pairs():
    """The full reference list (reference/false_array_columns.json
    declares total_unique_pairs: 75) ships with the package — a
    truncated seed list would silently miss false-array columns in
    reference mode."""
    from pr2_transformation_spark.config import load_false_array_reference

    pairs = load_false_array_reference()
    assert len(pairs) == 75
    assert len({tuple(p) for p in pairs}) == 75
    assert ["236590500", "236590500"] in pairs      # first seed pair
    assert all(len(p) == 2 and all(len(c) == 9 and c.isdigit() for c in p)
               for p in pairs)
    # reference-mode detection matches pairs beyond the old 10-pair seed
    import pr2_transformation_spark.profiling as profiling
    a, b = pairs[-1]
    cols = [f"d_{a}_d_{b}", f"d_{a}_d_{b}_1_1", "d_111111111"]
    got = profiling.false_array_columns_from_reference(cols)
    assert f"d_{a}_d_{b}" in got and f"d_{a}_d_{b}_1_1" in got


def test_detectors_on_dotted_and_backticked_names(spark):
    """A top-level column named ``a.b`` is not a struct path and one named
    ``c`d`` is not a syntax error: every detector, the recode and the
    archived SQL quote them as single identifiers."""
    df = spark.createDataFrame(
        [("900000001", "1", "[]"), ("900000002", "0", "[178420302]"), ("900000003", None, None)],
        "Connect_ID string, `a.b` string, `c``d` string",
    )
    assert profiling.binary_columns(df) == ["a.b"]
    assert profiling.strict_false_array_columns(df, use_reference=False) == ["c`d"]
    assert profiling.profile_columns(df) == (["a.b"], ["c`d"])

    out = clean_rows_df(df, use_reference=False)
    assert out.columns == ["a.b", "c`d", "Connect_ID"]
    want = {
        ("353358909", None, "900000001"),
        ("104430631", "178420302", "900000002"),
        (None, None, "900000003"),
    }
    assert {tuple(r) for r in out.collect()} == want

    sql = render_select_sql(compose_clean_rows(df, use_reference=False), q("odd_names"), "dst`x")
    spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    df.createOrReplaceTempView("odd_names")
    replayed = spark.sql(sql[sql.index("\nSELECT\n") + 1:])
    assert replayed.columns == out.columns
    assert {tuple(r) for r in replayed.collect()} == want


def test_profiling_py4j_calls_do_not_grow_with_width(spark, py4j_calls):
    """Ten times the columns costs (almost) no extra driver-to-JVM round
    trips: the per-column cells and aggregates are SQL text, not pyspark
    Columns."""

    def frame(width):
        return spark.range(8).selectExpr(
            *[f"CAST(id % {2 + i % 3} AS STRING) AS `d_{i}`" for i in range(width)]
        )

    narrow, wide = frame(30), frame(300)
    for fn in [
        profiling.binary_columns,
        profiling.profile_columns,
        profiling.strict_false_array_columns,
        profiling.table_profile,
    ]:
        fn(narrow)  # warm
        extra = py4j_calls(fn, wide) - py4j_calls(fn, narrow)
        assert extra < 50, f"{fn.__name__}: {extra} more Py4J calls at 300 columns than at 30"


def _wide_parquet(spark, tmp_path, width):
    """An 8-row table of ``width`` STRING columns, read back from parquet
    so the scan is as wide as a real survey table's."""
    path = str(tmp_path / f"wide{width}")
    spark.range(8).selectExpr(
        "CAST(id AS STRING) AS Connect_ID",
        *[f"CAST(id % {2 + i % 3} AS STRING) AS `d_{i}`" for i in range(width)],
    ).write.parquet(path)
    return spark.read.parquet(path)


_DETECTORS = [
    profiling.binary_columns,
    profiling.profile_columns,
    profiling.strict_false_array_columns,
]


def test_profiling_jobs_do_not_grow_with_width(spark, spark_jobs, tmp_path):
    """One unpivoted scan classifies every column: 600 columns submit as
    many Spark jobs as 30."""
    narrow, wide = _wide_parquet(spark, tmp_path, 30), _wide_parquet(spark, tmp_path, 600)
    for fn in _DETECTORS:
        fn(narrow)  # warm
        assert spark_jobs(fn, wide) == spark_jobs(fn, narrow), fn.__name__


def test_profiling_stays_whole_stage_codegen_when_wide(spark, tmp_path, monkeypatch):
    """At 300 columns, past ``spark.sql.codegen.maxFields``, the final
    plan still runs the unpivot and both aggregates inside whole-stage
    codegen: only the scan is as wide as the table."""
    from pyspark.sql.classic.dataframe import DataFrame

    df = _wide_parquet(spark, tmp_path, 300)
    collected = []
    collect = DataFrame.collect

    def recording(self):
        rows = collect(self)
        collected.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(DataFrame, "collect", recording)
    for fn in _DETECTORS:
        collected.clear()
        fn(df)
        (plan,) = collected
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, fn.__name__
        assert re.search(r"\*\(\d+\) Generate posexplode", final), final
        aggregates = [ln for ln in final.splitlines() if "HashAggregate" in ln]
        assert len(aggregates) == 2 and all("*(" in ln for ln in aggregates), final


def test_detectors_cast_non_string_cells(spark):
    """Computational false-array detection checks a non-STRING column on
    its STRING cast instead of failing on an ANSI cast of '[]'."""
    df = spark.createDataFrame(
        [("900000001", 1, "[]"), ("900000002", 2, "[178420302]"), ("900000003", None, None)],
        "Connect_ID string, n int, s string",
    )
    assert profiling.strict_false_array_columns(df, use_reference=False) == ["s"]
    assert profiling.profile_columns(df) == ([], ["s"])
    assert profiling.binary_columns(df) == []


def test_detectors_on_zero_rows(survey_values):
    """A zero-row table has all-zero counts: every STRING column is
    binary and no column is a false array."""
    empty = survey_values.limit(0)
    names = survey_values.columns
    assert profiling.binary_columns(empty) == names
    assert profiling.strict_false_array_columns(empty, use_reference=False) == []
    assert profiling.profile_columns(empty) == (names, [])


_DOMAIN = [None, "", "0", "1", " 1", "01", "x", "[]",
           "[178420302]", "[958239616]", "[123456789]"]


def _model_binary(values) -> bool:
    """Reference COUNTIF: no value outside {"0", "1", NULL, ""}."""
    return all(v in (None, "0", "1", "") for v in values)


def _model_false_array(values) -> bool:
    """The three reference checks of ``strict_false_array_columns``."""
    distinct = {v for v in values if v is not None}
    return (
        1 <= len(distinct) <= 3
        and distinct <= set(config.FALSE_ARRAY_VALUES)
        and sum(bool(re.fullmatch(r"\[\d{9}\]", v)) for v in distinct) <= 1
    )


@settings(max_examples=30, deadline=None)
@given(
    st.integers(1, 4).flatmap(
        lambda width: st.lists(
            st.lists(st.sampled_from(_DOMAIN), min_size=width + 1, max_size=width + 1),
            min_size=1,
            max_size=6,
        )
    )
)
@example([[None, None]])
@example([["1", "[178420302]"]])
@example([[None, None, "[]", "0"], ["0", None, "[958239616]", "1"]])
@example([["x", "[178420302]", None], ["1", "[958239616]", None]])
def test_detectors_match_python_model(spark, rows):
    """All three detectors agree with a pure-Python evaluation of the
    reference predicates; the first column is ``Connect_ID``, which the
    false-array detectors skip."""
    names = ["Connect_ID"] + [f"c{i}" for i in range(len(rows[0]) - 1)]
    df = spark.createDataFrame(rows, ", ".join(f"{n} string" for n in names))
    columns = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    binary = [n for n in names if _model_binary(columns[n])]
    false_arrays = [n for n in names[1:] if _model_false_array(columns[n])]

    assert profiling.binary_columns(df) == binary
    assert profiling.strict_false_array_columns(df, use_reference=False) == false_arrays
    assert profiling.profile_columns(df) == (binary, false_arrays)
