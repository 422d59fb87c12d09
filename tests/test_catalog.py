"""``load_parquet`` reads a table's schema from its footer on the driver:
the same schema ``spark.read.parquet`` infers, the same errors, and no
Spark job."""

import datetime
import decimal
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pr2_transformation_spark.sources.catalog import Catalog, load_parquet


@contextmanager
def _conf(spark, key, value):
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _assert_same_schema(spark, *paths):
    want = spark.read.parquet(*paths).schema
    got = load_parquet(spark, *paths).schema
    assert got == want, (got.simpleString(), want.simpleString())
    assert got.json() == want.json()  # field metadata too


def _typed_table():
    n = 3
    return pa.table({
        "s": pa.array(["a", None, "c"], pa.string()),
        "ls": pa.array(["x", "y", None], pa.large_string()),
        "i8": pa.array([1, -2, None], pa.int8()),
        "u32": pa.array([1, 2**32 - 1, None], pa.uint32()),
        "u64": pa.array([1, 2**64 - 1, None], pa.uint64()),
        "dec": pa.array([decimal.Decimal("1.25"), None, decimal.Decimal("-3.50")],
                        pa.decimal128(9, 2)),
        "d": pa.array([datetime.date(2024, 1, 2), None, datetime.date(1970, 1, 1)]),
        "ts_utc": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)] * n,
                           pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)] * n, pa.timestamp("ms")),
        "bin": pa.array([b"\x00", None, b"zz"], pa.binary()),
        "lst": pa.array([[1, 2], None, []], pa.list_(pa.int64())),
        "st": pa.array([{"a": 1, "b": "x"}, None, {"a": None, "b": None}],
                       pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "mp": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int64())),
        "dict": pa.array(["p", "q", "p"]).dictionary_encode(),
        "f32": pa.array([1.5, None, -0.0], pa.float32()),
        "b": pa.array([True, False, None]),
        "nul": pa.nulls(n),
    })


@pytest.fixture
def typed_file(tmp_path):
    path = str(tmp_path / "typed.parquet")
    pq.write_table(_typed_table(), path)
    return path


def test_schema_parity_pyarrow_types(spark, typed_file):
    _assert_same_schema(spark, typed_file)


@pytest.mark.parametrize("key,value", [
    ("spark.sql.parquet.binaryAsString", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
])
def test_schema_parity_follows_session_parquet_settings(spark, typed_file, key, value):
    with _conf(spark, key, value):
        _assert_same_schema(spark, typed_file)


def test_schema_parity_int96(spark, tmp_path):
    path = str(tmp_path / "int96.parquet")
    t = pa.table({"ts": pa.array([datetime.datetime(2020, 5, 6, 7, 8, 9)], pa.timestamp("us"))})
    pq.write_table(t, path, use_deprecated_int96_timestamps=True)
    _assert_same_schema(spark, path)


def test_schema_parity_spark_written_directory(spark, tmp_path):
    path = str(tmp_path / "spark_dir")
    spark.range(20).selectExpr("id", "cast(id as string) s", "id * 1.5 x") \
        .repartition(3).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    _assert_same_schema(spark, path)


def test_schema_parity_partitioned_directories(spark, tmp_path):
    part = str(tmp_path / "part")
    spark.range(12).selectExpr("id", "id % 3 as k", "cast(id as string) s") \
        .write.partitionBy("k").parquet(part)
    _assert_same_schema(spark, part)
    assert load_parquet(spark, part).columns == ["id", "s", "k"]

    cat = Catalog(spark, root=str(tmp_path / "lake"))
    cat.merge_upsert("p.d.snap", spark.range(10).selectExpr("id as k", "id * 2 as v"),
                     keys=["k"], order_col="v", num_buckets=4)
    bucketed = cat.path_for("p.d.snap")
    assert any(n.startswith("__bucket=") for n in os.listdir(bucketed))
    _assert_same_schema(spark, bucketed)


def test_footer_file_follows_sparks_choice(spark, tmp_path):
    """Spark reads ``_common_metadata`` before any data file, and
    otherwise the first data file by path; the footers here disagree, so
    a different choice would show as a different schema."""
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"b": [1], "a": ["x"]}), str(d / "part-1.parquet"))
    pq.write_table(pa.table({"a": ["y"]}), str(d / "part-0.parquet"))
    _assert_same_schema(spark, str(d))
    assert load_parquet(spark, str(d)).columns == ["a"]
    _assert_same_schema(spark, str(d / "part-1.parquet"), str(d / "part-0.parquet"))

    pq.write_metadata(pa.schema([("a", pa.string()), ("c", pa.float64())]),
                      str(d / "_common_metadata"))
    _assert_same_schema(spark, str(d))
    assert load_parquet(spark, str(d)).columns == ["a", "c"]


def _error(fn):
    with pytest.raises(Exception) as info:
        fn().schema
    return type(info.value), str(info.value)


def test_unreadable_inputs_raise_sparks_own_error(spark, tmp_path):
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"t": pa.array([1], pa.timestamp("ns"))}), nanos, version="2.6")
    empty = tmp_path / "empty"
    empty.mkdir()
    missing = str(tmp_path / "missing")
    # other tests' queries turn nanosAsLong on for the session
    with _conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "false"):
        for path, condition in ((nanos, "PARQUET_TYPE_ILLEGAL"),
                                (str(empty), "UNABLE_TO_INFER_SCHEMA"),
                                (missing, "PATH_NOT_FOUND")):
            got = _error(lambda: load_parquet(spark, path))
            assert got == _error(lambda: spark.read.parquet(path)), path
            assert got[0].__name__ == "AnalysisException" and condition in got[1], got


@pytest.mark.parametrize("width", [101, 1050])
def test_catalog_read_submits_no_job(spark, tmp_path, spark_jobs, width):
    cat = Catalog(spark, root=str(tmp_path / "lake"))
    path = cat.path_for("p.d.wide")
    os.makedirs(os.path.dirname(path))
    cols = ["Connect_ID"] + [f"D_{100000000 + i}" for i in range(width - 1)]
    pq.write_table(pa.table({c: pa.array(["1", None], pa.string()) for c in cols}), path)

    assert spark_jobs(cat.read, "p.d.wide") == 0
    assert spark_jobs(cat.column_names, "p.d.wide") == 0
    assert cat.column_names("p.d.wide") == cols
    assert cat.read("p.d.wide").schema == spark.read.parquet(path).schema


#: Py4J round trips of one ``load_parquet``: each Java class is named in
#: full, so resolving it costs none per package segment
LOAD_PARQUET_ROUND_TRIPS = 22


def test_load_parquet_round_trips_do_not_grow_with_width(spark, tmp_path, py4j_calls):
    counts = []
    for width in (10, 10, 1000):
        path = str(tmp_path / f"w{width}.parquet")
        pq.write_table(pa.table({f"c{i}": pa.array(["x"]) for i in range(width)}), path)
        counts.append(py4j_calls(load_parquet, spark, path))
    assert counts[1:] == [LOAD_PARQUET_ROUND_TRIPS] * 2, counts
