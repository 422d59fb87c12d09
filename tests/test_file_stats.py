"""sources/file_stats.py: the one min/max-statistics rule every lake
pruning path asks, the footer extractor, and the MERGE candidate-file
probe behind its >32-file gate."""

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pr2_transformation_spark.sources import delta as delta_mod
from pr2_transformation_spark.sources import iceberg as iceberg_mod
from pr2_transformation_spark.sources.delta import DeltaTable
from pr2_transformation_spark.sources.file_stats import may_contain
from pr2_transformation_spark.sources.iceberg import IcebergTable


def test_may_contain_prunes_only_on_proof():
    assert may_contain(10, 20, "=", 15)
    assert not may_contain(10, 20, "=", 21)
    assert not may_contain(10, 20, "<", 10)
    assert may_contain(10, 20, "<=", 10)
    assert not may_contain(10, 20, ">", 20)
    assert may_contain(10, 20, ">=", 20)
    # a range [a, b] is ">= a" and "<= b"
    assert not (may_contain(10, 20, ">=", 21)
                and may_contain(10, 20, "<=", 30))
    # missing, NaN or incomparable bounds and unknown ops keep the file
    assert may_contain(None, 20, "=", 99)
    assert may_contain(float("nan"), 1.0, "=", 5.0)
    assert may_contain("2000-01-01", "2000-12-31", "=",
                       datetime.date(2001, 1, 1))
    assert may_contain(10, 20, "!=", 15)
    # an all-NULL column without bounds matches no comparison
    assert not may_contain(None, None, "=", 1, all_null=True)


def test_nan_bounds_keep_the_orc_stripe():
    """A stripe whose first double is NaN stays readable by a range
    probe around its finite value (the writer's bounds skip NaN; a NaN
    bound from another writer keeps the stripe, see
    ``test_may_contain_prunes_only_on_proof``)."""
    from pr2_transformation_spark.sources.orc import read_orc_bytes_pruned
    from pr2_transformation_spark.sources.orc_write import write_orc_bytes

    buf = write_orc_bytes([("x", "double", [float("nan"), 1.0])])
    _, cols, acc = read_orc_bytes_pruned(buf, "x", 0.5, 1.5)
    assert cols["x"] == [1.0] and acc["stripes_read"] == 1


def test_decimal_column_writes_without_stats(spark, tmp_path):
    """pyarrow cannot extract DECIMAL footer stats; the column is left
    out of the stats, so Delta writes it (and keeps every file for a
    predicate on it) and Iceberg reaches its own type-seam error."""
    df = spark.range(10).select(
        (F.col("id") / 7.0).cast("decimal(18,6)").alias("d"), "id")
    t = DeltaTable(str(tmp_path / "delta"))
    t.write(df)
    assert sorted(t.read(spark).collect()) == sorted(df.collect())
    kept, total = t.files_matching([("d", "=", Decimal("0.142857"))])
    assert total >= 1 and kept == total
    with pytest.raises(NotImplementedError,
                       match="outside this table format seam"):
        IcebergTable(str(tmp_path / "ice")).write(df)


@pytest.fixture
def los_angeles(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", prev)


_KEYS = {
    "long": "id",
    "string": "lpad(CAST(id AS STRING), 6, '0')",
    "date": "date_add(DATE '2000-01-01', CAST(id AS INT))",
    "timestamp": "timestamp_micros(946684800000000 + id * 3600000000)",
    "double": "CAST(id AS DOUBLE) / 4",
}


def _merge(fmt, spark, path, target, source):
    if fmt == "delta":
        t = DeltaTable(path)
        t.write(target)
        r = t.merge(spark, source, on=["k"])
    else:
        t = IcebergTable(path)
        t.write(target)
        r = t.merge(spark, source, on="k")
    return t, r


@pytest.mark.parametrize("key_type", ["date", "timestamp"])
def test_iceberg_merge_on_date_and_timestamp_keys(spark, tmp_path,
                                                  los_angeles, key_type):
    """The delete IN list renders date and timestamp keys as typed
    literals (a bare 2000-01-21 parses as arithmetic)."""
    base = spark.range(20).selectExpr(f"{_KEYS[key_type]} AS k",
                                      "id AS v")
    t, r = _merge("iceberg", spark, str(tmp_path / "t"),
                  base.coalesce(2),
                  base.filter("v % 5 = 0").withColumn("v", F.lit(-1)))
    assert r["rows_updated"] == 4
    out = t.read(spark)
    assert out.filter("v = -1").count() == 4 and out.count() == 20


@pytest.mark.parametrize("key_type", list(_KEYS))
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_probe_key_type_matrix(spark, tmp_path, los_angeles,
                                     monkeypatch, fmt, key_type):
    """40 range-partitioned files open the candidate-file probe; every
    10th key is updated and the result must be exact for each key type
    (a probe false negative would miss updates and insert duplicates)."""
    mod = delta_mod if fmt == "delta" else iceberg_mod
    probed = []

    def spy(keys_df, key, bounds):
        probed.append(len(bounds))
        return real(keys_df, key, bounds)

    real = mod.candidate_files
    monkeypatch.setattr(mod, "candidate_files", spy)
    base = spark.range(1000).selectExpr(f"{_KEYS[key_type]} AS k",
                                        "id AS v")
    t, r = _merge(fmt, spark, str(tmp_path / "t"),
                  base.repartitionByRange(40, "k"),
                  base.filter("v % 10 = 0").withColumn("v", F.lit(-1)))
    assert probed == [40]
    assert r["rows_updated"] == 100 and r["rows_inserted"] == 0
    out = t.read(spark)
    assert out.filter("v = -1").count() == 100
    assert out.count() == 1000
