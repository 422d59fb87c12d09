"""Iceberg v1 source (sources/iceberg.py): snapshot commits, manifest
layout, time travel."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pr2_transformation_spark.sources.avro import avro_read
from pr2_transformation_spark.sources.iceberg import IcebergTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_commits_and_time_travel(spark, tmp_path):
    t = IcebergTable(str(tmp_path / "tbl"))
    assert t.write(_df(spark, 0, 5), mode="overwrite", now_ms=1_000) == 1
    assert t.write(_df(spark, 5, 8), mode="append", now_ms=2_000) == 2
    assert t.write(_df(spark, 50, 52), mode="overwrite", now_ms=3_000) == 3
    assert sorted(r["k"] for r in t.read(spark, snapshot_id=1).collect()) == [0, 1, 2, 3, 4]
    assert sorted(r["k"] for r in t.read(spark, snapshot_id=2).collect()) == list(range(8))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [50, 51]
    assert t.current_snapshot_id() == 3
    assert [s["operation"] for s in t.snapshots()] == [
        "overwrite", "append", "overwrite",
    ]
    with pytest.raises(ValueError, match="snapshot 9"):
        t.read(spark, snapshot_id=9)


def test_metadata_layout_is_spec_shaped(spark, tmp_path):
    """version-hint + vN.metadata.json + snap-*.avro manifest lists +
    m-*.avro manifests, with the spec's field names — the layout any
    Iceberg reader walks."""
    t = IcebergTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 4), mode="overwrite", now_ms=1_000)
    t.write(_df(spark, 4, 6), mode="append", now_ms=2_000)
    md = str(tmp_path / "tbl" / "metadata")
    assert open(os.path.join(md, "version-hint.text")).read() == "2"
    meta = json.load(open(os.path.join(md, "v2.metadata.json")))
    assert meta["format-version"] == 1
    assert meta["current-snapshot-id"] == 2
    assert [f["name"] for f in meta["schema"]["fields"]] == ["k", "v"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == 2)
    _, manifests = avro_read(
        open(str(tmp_path / "tbl" / snap["manifest-list"]), "rb").read()
    )
    # append carries the first snapshot's manifest forward
    assert len(manifests) == 2
    assert {m["added_snapshot_id"] for m in manifests} == {1, 2}
    assert all(m["manifest_path"].startswith("metadata/m-") for m in manifests)
    _, entries = avro_read(
        open(str(tmp_path / "tbl" / manifests[0]["manifest_path"]), "rb").read()
    )
    e = entries[0]
    assert e["status"] == 1 and e["data_file"]["file_format"] == "PARQUET"
    assert e["data_file"]["file_path"].startswith("data/part-")
    assert e["data_file"]["file_size_in_bytes"] > 0


def test_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="not an Iceberg table"):
        IcebergTable(str(tmp_path / "nope")).read(spark)
    t = IcebergTable(str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="mode"):
        t.write(_df(spark, 0, 1), mode="merge")


def test_positional_deletes_merge_on_read(spark, tmp_path):
    """v2 delete_where: tombstoned rows vanish from the new snapshot,
    prior snapshots are untouched, deletes compose, appends after a
    delete keep the tombstones, and format-version bumps to 2."""
    t = IcebergTable(str(tmp_path / "tbl"))
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    s1 = t.write(df.filter("k < 60"), mode="overwrite", now_ms=1000)
    s2 = t.write(df.filter("k >= 60"), mode="append", now_ms=2000)
    s3 = t.delete_where(spark, "k % 10 = 3", now_ms=3000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(100) if k % 10 != 3]
    # time travel: the pre-delete snapshot still has every row
    assert len(t.read(spark, snapshot_id=s2).collect()) == 100
    # a second delete composes with the first
    t.delete_where(spark, "k % 10 = 7", now_ms=4000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(100) if k % 10 not in (3, 7)]
    # append after deletes: tombstones still apply to the old files
    t.write(df.filter("k < 5").select((F.col("k") + 1000).alias("k")),
            mode="append", now_ms=5000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(100) if k % 10 not in (3, 7)] + [
        1000, 1001, 1002, 1003, 1004]
    meta = t._load_metadata()
    assert meta["format-version"] == 2
    assert t._delete_files()  # content=1 manifests present


def test_positional_delete_skips_rows_already_deleted(spark, tmp_path):
    """A second delete_where tombstones only rows still live: its delete
    file and its manifest counts hold the 2 new positions, not the 5
    rows the first delete already removed."""
    import pyarrow.parquet as pq

    t = IcebergTable(str(tmp_path / "tbl"))
    t.write(spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1),
            mode="overwrite", now_ms=1000)
    t.delete_where(spark, "k < 5", now_ms=2000)
    first = set(t._delete_files())
    t.delete_where(spark, "k < 7", now_ms=3000)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [7, 8, 9]

    (second,) = set(t._delete_files()) - first
    rows = pq.read_table(os.path.join(t.path, second)).to_pylist()
    assert [r["pos"] for r in rows] == [5, 6]
    meta = t._load_metadata()
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    _, manifests = avro_read(open(os.path.join(t.path, snap["manifest-list"]), "rb").read())
    (newest,) = [m for m in manifests if m["added_snapshot_id"] == snap["snapshot-id"]]
    assert newest["added_rows_count"] == 2
    _, entries = avro_read(open(os.path.join(t.path, newest["manifest_path"]), "rb").read())
    assert [e["data_file"]["record_count"] for e in entries] == [2]


def test_equality_deletes_sequence_scoped(spark, tmp_path):
    """Equality deletes tombstone by column value but ONLY against data
    files older than the delete: later appends matching the values
    survive — the spec's sequence semantics."""
    t = IcebergTable(str(tmp_path / "tbl"))
    df = spark.range(0, 40).select(F.col("id").alias("k"),
                                   (F.col("id") % 4).alias("g"))
    t.write(df, mode="overwrite", now_ms=1000)
    t.delete_where_equality(spark, "g = 1", ["g"], now_ms=2000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(40) if k % 4 != 1]
    # append rows with the SAME deleted value g=1: they must survive
    t.write(spark.range(100, 104).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("g")),
        mode="append", now_ms=3000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(40) if k % 4 != 1] + [100, 101, 102, 103]
    # composes with a positional delete
    t.delete_where(spark, "k = 102", now_ms=4000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(40) if k % 4 != 1] + [100, 101, 103]
    # a second equality delete catches the survivors it postdates
    t.delete_where_equality(spark, "g = 1", ["g"], now_ms=5000)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [k for k in range(40) if k % 4 != 1]


def test_manifest_stats_written(spark, tmp_path):
    """Round-8: every data_file entry carries record_count plus
    lower/upper bounds + null counts computed from the parquet footer."""
    t = IcebergTable(str(tmp_path / "tbl"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("id") * 10).alias("v"),
    ).coalesce(1)
    t.write(df, mode="overwrite", now_ms=1_000)
    [entry] = t._data_file_entries()
    assert entry["record_count"] == 100
    lo = json.loads(entry["lower_bounds_json"])
    hi = json.loads(entry["upper_bounds_json"])
    nulls = json.loads(entry["null_counts_json"])
    assert lo["k"] == 0 and hi["k"] == 99
    assert lo["v"] == 10 and hi["v"] == 990
    assert nulls["v"] == 10 and nulls.get("k", 0) == 0


def test_manifest_stats_prune_scan(spark, tmp_path):
    """files_matching prunes from manifest bounds alone; a skipped read
    plus the residual filter equals the full-scan answer."""
    t = IcebergTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).coalesce(1), mode="overwrite", now_ms=1_000)
    for lo, hi in ((100, 200), (200, 300), (300, 400)):
        t.write(_df(spark, lo, hi).coalesce(1), mode="append", now_ms=2_000)
    band = [("k", ">=", 120), ("k", "<", 180)]
    assert t.files_matching(band) == (1, 4)
    got = sorted(r["k"] for r in t.read(spark, skipping=band)
                 .filter("k >= 120 AND k < 180").collect())
    assert got == list(range(120, 180))
    # equality point lookup: one file of four
    assert t.files_matching([("k", "=", 250)]) == (1, 4)
    # all pruned -> empty frame with the pinned schema, not an error
    empty = t.read(spark, skipping=[("k", ">", 10_000)])
    assert empty.columns == ["k", "v"] and empty.count() == 0
    # missing-stats entries are kept (conservative)
    from pr2_transformation_spark.sources.iceberg import _bounds_may_match
    assert _bounds_may_match({"file_path": "x"}, "k", "=", 5)
    assert _bounds_may_match(
        {"lower_bounds_json": "", "upper_bounds_json": ""}, "k", "<", 5)
    # all-NULL column: provably can't match a comparison
    assert not _bounds_may_match(
        {"lower_bounds_json": "{}", "upper_bounds_json": "{}",
         "null_counts_json": '{"k": 7}', "record_count": 7}, "k", "=", 5)


def test_two_writer_conflict_append_rebases_overwrite_raises(spark, tmp_path):
    """Optimistic concurrency (round-8, delta.py's rules): metadata
    versions are minted create-exclusive.  Simulate the race by letting
    a competing commit land between the writer's snapshot read and its
    publish: a blind append rebases and retries (union visible); an
    overwrite raises ConcurrentCommitError."""
    from pr2_transformation_spark.sources.iceberg import (
        ConcurrentCommitError,
    )

    t = IcebergTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 5), mode="overwrite", now_ms=1_000)

    t2 = IcebergTable(t.path)
    t2.write(_df(spark, 100, 103), mode="append", now_ms=2_000)  # the winner
    real_cv = IcebergTable._current_version
    calls = {"n": 0}

    def stale_once(self):
        calls["n"] += 1
        return 1 if calls["n"] <= 2 else real_cv(self)

    # two stale reads: write() calls _current_version for read_version
    # and again for the attempt's base_version
    IcebergTable._current_version = stale_once
    try:
        sid = t.write(_df(spark, 5, 8), mode="append", now_ms=3_000)
    finally:
        IcebergTable._current_version = real_cv
    assert sid == 3  # rebased past the winner
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 102]
    # nothing clobbered: the winner's v2 and the rebased v3 both present
    md = os.path.join(t.path, "metadata")
    for v in (1, 2, 3):
        assert os.path.exists(os.path.join(md, f"v{v}.metadata.json"))
    v2 = json.load(open(os.path.join(md, "v2.metadata.json")))
    assert v2["current-snapshot-id"] == 2  # the winner's commit survived

    # overwrite racing a commit it did not read must refuse
    t3 = IcebergTable(t.path)
    t3.write(_df(spark, 200, 202), mode="append", now_ms=4_000)
    calls["n"] = 0
    stale_head = real_cv(t3) - 1  # pretend we read before the last commit

    def stale_once2(self):
        calls["n"] += 1
        return stale_head if calls["n"] <= 2 else real_cv(self)

    IcebergTable._current_version = stale_once2
    try:
        with pytest.raises(ConcurrentCommitError, match="overwrite read"):
            t3.write(_df(spark, 300, 302), mode="overwrite", now_ms=5_000)
    finally:
        IcebergTable._current_version = real_cv
    # the winner's snapshot is intact
    assert sorted(r["k"] for r in t3.read(spark).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 102, 200, 201]


def test_delete_conflict_raises(spark, tmp_path):
    """A positional delete whose read snapshot was overtaken by a
    concurrent commit must raise, not silently tombstone against a
    stale file set."""
    from pr2_transformation_spark.sources.iceberg import (
        ConcurrentCommitError,
    )

    t = IcebergTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 10), mode="overwrite", now_ms=1_000)
    real_cv = IcebergTable._current_version
    calls = {"n": 0}

    def race(self):
        # the delete reads version 1; a competing append lands before
        # its publish by minting v2 behind its back
        calls["n"] += 1
        if calls["n"] == 1:
            return real_cv(self)
        if calls["n"] == 2:
            IcebergTable._current_version = real_cv
            t_other = IcebergTable(t.path)
            t_other.write(_df(spark, 50, 52), mode="append", now_ms=2_000)
            IcebergTable._current_version = race_holder[0]
            return 1
        return real_cv(self)

    race_holder = [race]
    IcebergTable._current_version = race
    try:
        with pytest.raises(ConcurrentCommitError, match="delete read"):
            t.delete_where(spark, "k < 3", now_ms=3_000)
    finally:
        IcebergTable._current_version = real_cv
    # winner intact, no tombstones applied
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 50, 51]


# ---- hidden partitioning -------------------------------------------------

def test_murmur3_and_transform_spec_vectors():
    """Iceberg spec Appendix B pins these exact hash values."""
    import datetime

    from pr2_transformation_spark.sources.iceberg import (
        _iceberg_hash, apply_transform, murmur3_x86_32)

    assert _iceberg_hash(34) == 2017239379          # int and long agree
    assert _iceberg_hash("iceberg") == 1210000089
    assert _iceberg_hash(datetime.date(2017, 11, 16)) == -653330422
    assert _iceberg_hash(
        datetime.datetime(2017, 11, 16, 22, 31, 8)) == -2047944441
    assert murmur3_x86_32(b"") == 0
    d = datetime.date(2017, 11, 16)
    assert apply_transform("bucket[16]", 34) == (2017239379 & 0x7FFFFFFF) % 16
    assert apply_transform("truncate[10]", -1) == -10   # floored, per spec
    assert apply_transform("truncate[3]", "iceberg") == "ice"
    assert apply_transform("year", d) == 47
    assert apply_transform("month", d) == 574  # (2017-1970)*12 + 10
    assert apply_transform("identity", None) is None
    with pytest.raises(NotImplementedError):
        apply_transform("void", 1)


def test_murmur3_int64_bucket_vec_matches_scalar():
    """The r10 vectorized integer bucket path (numpy murmur3 over the
    8-byte little-endian form) must agree with the scalar Appendix-B
    path on every value class: spec vector, negatives, zero, int64
    extremes, and a pseudo-random spread."""
    import numpy as np

    from pr2_transformation_spark.sources.iceberg import (
        _iceberg_hash, murmur3_int64_bucket_vec)

    vals = [34, 0, -1, 1, -34, 2**63 - 1, -2**63, 123456789012345,
            -987654321098765] + [((i * 2654435761) % 2**63) * (-1) ** i
                                 for i in range(200)]
    for n in (4, 16, 101):
        got = murmur3_int64_bucket_vec(np.array(vals, np.int64), n)
        want = [(_iceberg_hash(v) & 0x7FFFFFFF) % n for v in vals]
        assert got.tolist() == want


def test_hidden_partitioning_write_prune_read(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    t = IcebergTable(str(tmp_path / "part"))
    df = spark.range(2000).selectExpr(
        "id as k",
        "timestamp'2023-01-15 10:00:00' + make_interval(0,0,0,"
        "cast(id % 120 as int),0,0,0) as ts",
        "cast(id % 40 as long) as ck")
    t.write(df, mode="overwrite",
            partition_by=[("ts", "month"), ("ck", "bucket[4]")])
    spec = t._partition_spec()
    assert [f["transform"] for f in spec] == ["month", "bucket[4]"]
    entries = t._data_file_entries()
    assert all(json.loads(e["partition_json"]).keys()
               == {"ts_month", "ck_bucket"} for e in entries)
    # hidden pruning: predicates on SOURCE columns, not partition fields
    kept, total = t.files_matching([("ts", ">=",
                                     datetime.datetime(2023, 3, 1))])
    assert kept < total
    kept_eq, _ = t.files_matching([("ck", "=", 7)])
    assert kept_eq < total
    # pruned read is LOSSLESS vs full scan + residual
    full = t.read(spark).filter(F.col("ck") == 7).count()
    pruned = t.read(spark, skipping=[("ck", "=", 7)]) \
        .filter(F.col("ck") == 7).count()
    assert full == pruned > 0
    full_ts = t.read(spark).filter(
        F.col("ts") >= "2023-03-01").count()
    pruned_ts = t.read(
        spark, skipping=[("ts", ">=", datetime.datetime(2023, 3, 1))]
    ).filter(F.col("ts") >= "2023-03-01").count()
    assert full_ts == pruned_ts > 0
    # identity columns stay IN the data files (partition cols are the
    # derived __-free transform names, dropped by partitionBy)
    assert sorted(t.read(spark).columns) == ["ck", "k", "ts"]


def test_partition_spec_is_sticky_and_mismatch_raises(spark, tmp_path):
    t = IcebergTable(str(tmp_path / "sticky"))
    df = _df(spark, 0, 100)
    t.write(df, mode="overwrite", partition_by=[("k", "truncate[25]")])
    # append without re-stating the spec reuses it
    t.write(_df(spark, 100, 120), mode="append")
    entries = t._data_file_entries()
    assert all(e["partition_json"] for e in entries)
    parts = {json.loads(e["partition_json"])["k_truncate"] for e in entries}
    assert parts == {0, 25, 50, 75, 100}
    with pytest.raises(ValueError, match="cannot change the spec"):
        t.write(df, mode="append", partition_by=[("k", "bucket[2]")])
    # truncate range pruning
    kept, total = t.files_matching([("k", ">=", 80)])
    assert kept < total
    assert sorted(r["k"] for r in t.read(
        spark, skipping=[("k", ">=", 80)]).collect()
        if r["k"] >= 80) == list(range(80, 120))


def test_expire_snapshots_and_remove_orphans(spark, tmp_path):
    t = IcebergTable(str(tmp_path / "maint"))
    t.write(_df(spark, 0, 50), mode="overwrite", now_ms=1_000)
    t.write(_df(spark, 50, 80), mode="append", now_ms=2_000)
    t.write(_df(spark, 100, 120), mode="overwrite", now_ms=3_000)
    all_data_before = set(os.listdir(t.data_dir))
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    # retained snapshot reads fine; expired ids fail loudly
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(
        range(100, 120))
    with pytest.raises(ValueError, match="snapshot 1"):
        t.read(spark, snapshot_id=1)
    # default retention horizon (3 days) protects just-written files —
    # an in-flight writer's staged data must survive the sweep
    assert t.remove_orphan_files() == []
    gone = t.remove_orphan_files(older_than_ms=0)
    assert gone  # snapshots 1-2's data + manifests were orphaned
    remaining = set(os.listdir(t.data_dir))
    assert remaining < all_data_before
    # the live snapshot is untouched
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(
        range(100, 120))
    # a fresh append on the maintained table still works (OCC path)
    t.write(_df(spark, 200, 205), mode="append", now_ms=4_000)
    assert t.read(spark).count() == 25


def test_transform_prunes_coerces_roundtripped_partition_values():
    """Partition tuples round-trip through hive dir names + manifest
    JSON, so identity dates arrive as strings and numeric-looking
    string truncates arrive as ints; _transform_prunes must coerce to
    the typed transform output before comparing — a type mismatch must
    NEVER prove exclusion (silent row loss)."""
    import datetime

    from pr2_transformation_spark.sources.iceberg import _transform_prunes

    d = datetime.date(2023, 3, 1)
    # identity date stored as its string form: equal -> keep, other -> prune
    assert not _transform_prunes("identity", "2023-03-01", "=", d)
    assert _transform_prunes("identity", "2023-02-01", "=", d)
    assert _transform_prunes("identity", "2023-02-01", ">=", d)
    ts = datetime.datetime(2023, 3, 1, 12, 30)
    assert not _transform_prunes("identity", "2023-03-01T12:30:00", "=", ts)
    # numeric-looking STRING identity values parsed back as ints
    assert not _transform_prunes("identity", 123, "=", "123")
    assert _transform_prunes("identity", 124, "=", "123")
    # truncate[2] on a string: stored "12" was int()ed to 12 by the parser
    assert not _transform_prunes("truncate[2]", 12, "=", "123456")
    # un-coercible combos keep the file (conservative)
    assert not _transform_prunes("identity", "not-a-date", "=", d)
    assert not _transform_prunes("identity", "abc", "=", 5)
    # nulls never prune
    assert not _transform_prunes("identity", None, "=", 5)


def test_identity_date_partition_prunes_losslessly(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    t = IcebergTable(str(tmp_path / "datepart"))
    df = spark.range(300).selectExpr(
        "id as k",
        "date_add(date'2023-01-01', cast(id % 6 as int) * 31) as d")
    t.write(df, mode="overwrite", partition_by=[("d", "identity")])
    target = datetime.date(2023, 3, 4)  # one of the 6 distinct dates
    kept, total = t.files_matching([("d", "=", target)])
    assert 0 < kept < total
    full = t.read(spark).filter(F.col("d") == F.lit(target)).count()
    pruned = t.read(spark, skipping=[("d", "=", target)]) \
        .filter(F.col("d") == F.lit(target)).count()
    assert full == pruned == 50


def test_bucket_partition_write_with_nulls(spark, tmp_path):
    """Spec: bucket[N](null) is null — a nullable int column (nulls
    surface as float NaN in pandas) must write, not crash."""
    t = IcebergTable(str(tmp_path / "nullbucket"))
    df = spark.range(100).selectExpr(
        "id as k",
        "case when id % 10 = 0 then cast(null as long) else id end as ck")
    t.write(df, mode="overwrite", partition_by=[("ck", "bucket[4]")])
    got = t.read(spark)
    assert got.count() == 100
    assert got.filter("ck is null").count() == 10
    # null rows landed in the null partition tuple
    entries = t._data_file_entries()
    nulls = [e for e in entries
             if json.loads(e["partition_json"]).get("ck_bucket") is None]
    assert nulls


def test_schema_evolution_field_id_resolution(spark, tmp_path):
    """Metadata-only evolution: renames resolve old files by FIELD ID,
    added columns read NULL from old generations, dropped-then-re-added
    names never resurrect, appends must use the current shape, and
    skipping resolves predicates through the historical names."""
    t = IcebergTable(str(tmp_path / "evo"))
    t.write(_df(spark, 0, 10).coalesce(1), mode="overwrite", now_ms=1000)
    sid = t.evolve_schema(renames={"v": "value"}, adds=[("tag", "string")])
    assert sid == 1
    got = t.read(spark).orderBy("k").collect()
    assert [r["value"] for r in got] == [i * 10 for i in range(10)]
    assert all(r["tag"] is None for r in got)
    # field ids persisted: 'value' kept v's id, 'tag' got a fresh one
    meta = t._load_metadata()
    by_name = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    assert by_name["value"] == 2 and by_name["tag"] == 3
    assert meta["last-column-id"] == 3
    # append in the current shape; old shape rejected
    df2 = spark.range(10, 15).selectExpr(
        "id as k", "id * 10 as value", "'new' as tag")
    t.write(df2.coalesce(1), mode="append", now_ms=2000)
    got = t.read(spark).orderBy("k").collect()
    assert len(got) == 15 and got[14]["tag"] == "new"
    with pytest.raises(ValueError, match="current schema"):
        t.write(_df(spark, 0, 1), mode="append")
    # drop + re-add: fresh field id, no resurrection
    t.evolve_schema(drops=["tag"])
    t.evolve_schema(adds=[("tag", "string")])
    assert all(r["tag"] is None for r in t.read(spark).collect())
    # skipping on the renamed column resolves to old stats keys
    kept, total = t.files_matching([("value", ">=", 100)])
    assert 0 < kept < total
    assert t.read(spark, skipping=[("value", ">=", 100)]) \
        .filter("value >= 100").count() == 5
    # positional delete still merges across generations
    t.delete_where(spark, "value = 30", now_ms=3000)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        i for i in range(15) if i != 3]
    # pre-evolution snapshot time-travels with the CURRENT schema
    # resolved by field id (Iceberg reads are always current-schema)
    assert t.read(spark, snapshot_id=1).count() == 10


def test_schema_evolution_occ_and_partition_guard(spark, tmp_path):
    """Concurrent evolution loses the metadata publish race loudly;
    partition source columns cannot be renamed or dropped."""
    from pr2_transformation_spark.sources.iceberg import (
        ConcurrentCommitError,
    )

    t = IcebergTable(str(tmp_path / "race"))
    t.write(_df(spark, 0, 5), mode="overwrite", now_ms=1000)
    # simulate: another writer publishes v2 between our read and publish
    real = IcebergTable._current_version
    IcebergTable._current_version = lambda self: 1
    IcebergTable(t.path).write(_df(spark, 5, 8), mode="append",
                               now_ms=2000)  # consumes v2? no — patched!
    IcebergTable._current_version = real
    t.write(_df(spark, 5, 8), mode="append", now_ms=2000)  # real v2
    IcebergTable._current_version = lambda self: 1
    try:
        with pytest.raises(ConcurrentCommitError, match="schema evolution"):
            t.evolve_schema(renames={"v": "value"})
    finally:
        IcebergTable._current_version = real
    assert t.evolve_schema(renames={"v": "value"}) >= 1
    # partition source guard
    t2 = IcebergTable(str(tmp_path / "part"))
    df = spark.range(40).selectExpr("id as k", "cast(id % 4 as long) as g")
    t2.write(df, mode="overwrite", partition_by=[("g", "bucket[4]")],
             now_ms=1000)
    with pytest.raises(ValueError, match="partition source"):
        t2.evolve_schema(renames={"g": "grp"})
    with pytest.raises(ValueError, match="partition source"):
        t2.evolve_schema(drops=["g"])
    # non-source columns still evolve on a partitioned table
    t2.evolve_schema(renames={"k": "key"})
    assert sorted(t2.read(spark).columns) == ["g", "key"]
    assert t2.read(spark).count() == 40


def test_incremental_changelog(spark, tmp_path):
    """changes(): append fast path, positional-delete rows, net-diff
    overwrites, exclusive start, bad ranges raise."""
    t = IcebergTable(str(tmp_path / "cdc"))
    df = spark.range(100).selectExpr("id as k", "id * 10 as v")
    s1 = t.write(df.filter("k < 60"), mode="overwrite", now_ms=1000)
    s2 = t.write(df.filter("k >= 60"), mode="append", now_ms=2000)
    s3 = t.delete_where(spark, "k % 10 = 3", now_ms=3000)
    s4 = t.write(df.filter("k % 5 = 0"), mode="overwrite", now_ms=4000)
    ch = t.changes(spark, s1, s4)
    counts = {(r["_snapshot_id"], r["_change_type"]): r["n"]
              for r in ch.groupBy("_snapshot_id", "_change_type")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts[(s2, "insert")] == 40
    assert counts[(s3, "delete")] == 10 and (s3, "insert") not in counts
    # net diff: the k%5==0 rows already live are NOT churned
    live_before = [k for k in range(100) if k % 10 != 3]
    kept = [k for k in live_before if k % 5 == 0]
    assert counts[(s4, "delete")] == len(live_before) - len(kept)
    # rows deleted at s3 then re-overwritten in: none here (k%10==3 and
    # k%5==0 disjoint in 0..99 except none) -> no insert row at s4
    assert (s4, "insert") not in counts
    assert sorted(r["k"] for r in ch.filter(
        f"_snapshot_id = {s3}").collect()) == [
        k for k in range(100) if k % 10 == 3]
    # exclusive start: s1's own inserts are not in the feed
    assert not any(v == s1 for v, _ in counts)
    # single-hop slice
    assert t.changes(spark, s2, s3).count() == 10
    with pytest.raises(ValueError, match="not in log"):
        t.changes(spark, 99, 100)


def test_partition_spec_evolution(spark, tmp_path):
    """Partition evolution: metadata-only; old files prune under their
    write-time spec, new files under the new default; omitted
    partition_by reuses the default; old spec rejected after evolve;
    OCC race raises."""
    import datetime

    from pr2_transformation_spark.sources.iceberg import (
        ConcurrentCommitError,
    )

    t = IcebergTable(str(tmp_path / "pspec"))
    df = spark.range(2000).selectExpr(
        "id as k",
        "timestamp'2023-01-15 10:00:00' + make_interval(0,0,0,"
        "cast(id % 120 as int),0,0,0) as ts",
        "cast(id % 40 as long) as ck")
    t.write(df, mode="overwrite", partition_by=[("ts", "month")],
            now_ms=1000)
    files_pre = set(t._data_files())
    assert t.evolve_partition_spec([("ck", "bucket[4]")]) == 1
    assert set(t._data_files()) == files_pre  # zero data files touched
    df2 = spark.range(2000, 2500).selectExpr(
        "id as k",
        "timestamp'2023-08-01 00:00:00' + make_interval(0,0,0,"
        "cast(id % 50 as int),0,0,0) as ts",
        "cast(id % 40 as long) as ck")
    t.write(df2, mode="append", partition_by=[("ck", "bucket[4]")],
            now_ms=2000)
    t.write(df2.selectExpr("k + 1000 as k", "ts", "ck"), mode="append",
            now_ms=3000)  # omitted spec -> new default
    assert t.read(spark).count() == 3000
    k_ts, total = t.files_matching(
        [("ts", ">=", datetime.datetime(2023, 3, 1))])
    k_ck, _ = t.files_matching([("ck", "=", 7)])
    assert k_ts < total and k_ck < total
    full = t.read(spark).filter("ck = 7").count()
    assert t.read(spark, skipping=[("ck", "=", 7)]) \
        .filter("ck = 7").count() == full > 0
    with pytest.raises(ValueError, match="cannot.*change the spec"):
        t.write(df2, mode="append", partition_by=[("ts", "month")])
    with pytest.raises(ValueError, match="not in schema"):
        t.evolve_partition_spec([("nope", "identity")])
    real = IcebergTable._current_version
    IcebergTable._current_version = lambda self: 1
    try:
        with pytest.raises(ConcurrentCommitError,
                           match="partition evolution"):
            t.evolve_partition_spec([("k", "truncate[100]")])
    finally:
        IcebergTable._current_version = real


def test_merge_upsert_merge_on_read(spark, tmp_path):
    """Iceberg MERGE: positional-delete + append composition — zero
    data files rewritten, modes, validation, bounded-keys guard."""
    t = IcebergTable(str(tmp_path / "mg"))
    df = spark.range(1000).selectExpr("id as k", "id * 10 as v")
    s0 = t.write(df, mode="overwrite", now_ms=1000)
    files0 = set(t._data_files())
    src = spark.range(5).selectExpr(
        "id + 100 as k", "cast(99999 as long) as v").union(
        spark.range(2000, 2005).selectExpr("id as k", "id as v"))
    res = t.merge(spark, src, on="k", now_ms=2000)
    assert res["rows_updated"] == 5 and res["rows_inserted"] == 5
    assert files0 <= set(t._data_files())   # merge-on-read: no rewrite
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 1005
    assert got[102] == 99999 and got[2003] == 2003 and got[99] == 990
    r2 = t.merge(spark, spark.range(3).selectExpr(
        "id as k", "cast(0 as long) as v"), on="k",
        when_matched="delete", when_not_matched="ignore", now_ms=3000)
    assert r2["rows_deleted"] == 3 and t.read(spark).count() == 1002
    assert t.read(spark, snapshot_id=s0).count() == 1000  # time travel
    with pytest.raises(ValueError, match="target schema"):
        t.merge(spark, spark.range(1).selectExpr("id as wrong"), on="k")
    with pytest.raises(NotImplementedError, match="composite"):
        t.merge(spark, src, on=["k", "v"])
    with pytest.raises(ValueError, match="max_keys"):
        t.merge(spark, df, on="k", max_keys=10)


def test_merge_upsert_appends_null_key_source_rows(spark, tmp_path):
    """An upsert appends every source row exactly once: matched keys as
    update images, new and NULL keys as inserts (a NULL key matches no
    target row), whatever the source's column order."""
    t = IcebergTable(str(tmp_path / "mg"))
    t.write(spark.range(10).selectExpr("id as k", "id * 10 as v"),
            mode="overwrite", now_ms=1000)
    src = spark.createDataFrame(
        [(300, 3), (-1, None), (-2, None), (2000, 20)], "v long, k long")
    res = t.merge(spark, src, on="k", now_ms=2000)
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 3
    got = sorted((r["k"] is None, r["k"] or 0, r["v"])
                 for r in t.read(spark).collect())
    want = sorted([(False, k, k * 10) for k in range(10) if k != 3]
                  + [(False, 3, 300), (True, 0, -1), (True, 0, -2),
                     (False, 20, 2000)])
    assert got == want


def test_refs_pin_snapshots(spark, tmp_path):
    """Tags pin snapshots through expire_snapshots; drop releases;
    duplicate/unknown refs raise."""
    t = IcebergTable(str(tmp_path / "refs"))
    s1 = t.write(_df(spark, 0, 30), mode="overwrite", now_ms=1000)
    assert t.create_ref("baseline") == s1
    t.write(_df(spark, 0, 60), mode="overwrite", now_ms=2000)
    t.write(_df(spark, 0, 90), mode="overwrite", now_ms=3000)
    expired = t.expire_snapshots(keep_last=1)
    assert s1 not in expired and expired  # s2 expired, s1 pinned
    assert t.read(spark,
                  snapshot_id=t.resolve_ref("baseline")).count() == 30
    with pytest.raises(ValueError, match="already exists"):
        t.create_ref("baseline")
    with pytest.raises(ValueError, match="no ref"):
        t.resolve_ref("nope")
    t.drop_ref("baseline")
    assert t.expire_snapshots(keep_last=1) == [s1]
    with pytest.raises(ValueError, match="snapshot 99"):
        t.create_ref("x", snapshot_id=99)


#: jobs an upsert plus a delete-mode merge submit on an 8-file table at
#: local[4] with AQE on: each merge is one discovery collect and, for the
#: upsert, one append (20 when the delete pass scanned the target again)
MERGE_JOB_BUDGET = 12


def _range_table(spark, path):
    t = IcebergTable(path)
    t.write(spark.range(1000).selectExpr("id as k", "id * 10 as v")
            .repartitionByRange(8, "k").sortWithinPartitions("k"),
            mode="overwrite", now_ms=1000)
    return t


def _delete_file_entries(t):
    """The current snapshot's delete-file manifest entries."""
    meta = t._load_metadata()
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    _, manifests = avro_read(open(os.path.join(
        t.path, snap["manifest-list"]), "rb").read())
    out = []
    for m in manifests:
        if m["content"] == 1:
            _, rows = avro_read(open(os.path.join(
                t.path, m["manifest_path"]), "rb").read())
            out += [r["data_file"] for r in rows]
    return out


def test_merge_job_budget(spark, tmp_path, spark_jobs):
    """An upsert then a delete-mode merge submit a fixed number of jobs,
    at most MERGE_JOB_BUDGET: the delete pass reuses the discovery
    scan's tombstones instead of scanning the target again."""
    def merges(rep):
        t = _range_table(spark, str(tmp_path / f"t{rep}"))
        t.merge(spark, spark.range(100, 110).selectExpr(
            "id as k", "id as v").union(spark.range(5000, 5003).selectExpr(
                "id as k", "id as v")), on="k", now_ms=2000)
        t.merge(spark, spark.range(500, 520).selectExpr(
            "id as k", "id as v"), on="k", when_matched="delete",
            when_not_matched="ignore", now_ms=4000)

    counts = [spark_jobs(merges, rep) for rep in range(2)]
    assert counts[0] == counts[1] and counts[0] <= MERGE_JOB_BUDGET, counts


def test_merge_tombstones_every_row_of_a_duplicate_target_key(spark,
                                                              tmp_path):
    """A target key held by two rows in two files: both rows are
    tombstoned and the one source row is appended as the update image."""
    t = IcebergTable(str(tmp_path / "dup"))
    t.write(spark.range(5).selectExpr("id as k", "id * 10 as v"),
            mode="overwrite", now_ms=1000)
    t.write(spark.createDataFrame([(2, 21)], "k long, v long"),
            mode="append", now_ms=2000)
    res = t.merge(spark, spark.createDataFrame([(2, 99)], "k long, v long"),
                  on="k", now_ms=3000)
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 0
    [entry] = _delete_file_entries(t)
    assert entry["record_count"] == 2
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(0, 0), (1, 10), (2, 99), (3, 30), (4, 40)]


def test_merge_delete_file_is_sorted_and_pinned(spark, tmp_path):
    """The merge's delete file is sorted by (file_path, pos), reads with
    the pinned schema ``file_path string, pos long``, and its manifest
    record_count is its row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = _range_table(spark, str(tmp_path / "t"))
    keys = [3, 130, 131, 520, 521, 522, 990]
    src = spark.createDataFrame([(k, -k) for k in reversed(keys)],
                                "k long, v long")
    t.merge(spark, src, on="k", now_ms=2000)
    [entry] = _delete_file_entries(t)
    path = os.path.join(t.path, entry["file_path"])
    table = pq.read_table(path)
    assert table.schema.names == ["file_path", "pos"]
    assert [f.type for f in table.schema] == [pa.string(), pa.int64()]
    rows = list(zip(table["file_path"].to_pylist(),
                    table["pos"].to_pylist()))
    assert rows == sorted(rows) and len(set(rows)) == len(keys)
    assert entry["record_count"] == table.num_rows == len(keys)
    pinned = spark.read.schema("file_path string, pos long").parquet(path)
    assert sorted(tuple(r) for r in pinned.collect()) == rows
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 1000 and all(got[k] == -k for k in keys)


def test_merge_insert_only_keeps_timestamp_keys_across_a_dst_fold(
        spark, tmp_path):
    """An insert-only merge sends the matched keys back to Spark as a
    local frame.  Two timestamp keys in the repeated hour of a DST
    fall-back read back as the same local wall time; each must still
    match its own target row, or its source row is appended again."""
    import time

    fold = 1636273800  # 2021-11-07 01:30 PDT; +3600 s is 01:30 PST
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        t = IcebergTable(str(tmp_path / "tz"))
        t.write(spark.createDataFrame(
            [(fold, 1), (fold + 3600, 2)], "s long, v long").selectExpr(
            "timestamp_seconds(s) AS k", "v"), now_ms=1000)
        src = spark.createDataFrame(
            [(fold, -1), (fold + 3600, -2), (fold + 7200, 3)],
            "s long, v long").selectExpr("timestamp_seconds(s) AS k", "v")
        res = t.merge(spark, src, on="k", when_matched="ignore",
                      now_ms=2000)
        got = sorted((r["s"], r["v"]) for r in t.read(spark).selectExpr(
            "unix_seconds(k) AS s", "v").collect())
    finally:
        if prev is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = prev
        time.tzset()
    assert res["rows_inserted"] == 1
    assert got == [(fold, 1), (fold + 3600, 2), (fold + 7200, 3)]
