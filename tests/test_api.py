"""End-to-end service tests: catalog read -> operator -> audit SQL -> write."""

import os

import pytest

from pr2_transformation_spark import api
from pr2_transformation_spark.sources.catalog import Catalog, parse_fq_table


def test_parse_fq_table():
    assert parse_fq_table("p.d.t") == ("p", "d", "t")
    for bad in ("p.d", "p.d.t.x", "", "p..t"):
        with pytest.raises(ValueError):
            parse_fq_table(bad)


def test_heartbeat():
    hb = api.heartbeat()
    assert hb["status"] == "healthy"  # reference envelope verbatim (core/endpoints.py:15)
    assert hb["service"] == "pr2-transformation-spark"


def test_request_validation(spark, tmp_path):
    cat = Catalog(spark, root=str(tmp_path))
    with pytest.raises(ValueError, match="source"):
        api.clean_rows(cat, "", "p.d.out")
    with pytest.raises(ValueError, match="destination"):
        api.clean_rows(cat, "p.d.in", "")


def test_clean_rows_end_to_end(spark, tmp_path):
    root = str(tmp_path / "lake")
    audit = str(tmp_path / "sql")
    cat = Catalog(spark, root=root)

    src = spark.createDataFrame(
        [("900000001", "1", "[]"), ("900000002", "0", "[123456789]")],
        "`Connect_ID` string, `d_820476880` string, `d_236590500_d_236590500` string",
    )
    cat.write(src, "proj.FlatConnect.module9")

    resp = api.clean_rows(cat, "proj.FlatConnect.module9", "proj.CleanConnect.module9", audit_dir=audit)
    assert "successfully created" in resp["status"]
    assert os.path.exists(resp["submitted_sql_path"])
    sql_text = open(resp["submitted_sql_path"]).read()
    assert "CREATE OR REPLACE TABLE" in sql_text and "CASE" in sql_text

    out = cat.read("proj.CleanConnect.module9")
    rows = {r["Connect_ID"]: r for r in out.collect()}
    assert rows["900000001"]["d_820476880"] == "353358909"
    assert rows["900000001"]["d_236590500_d_236590500"] is None
    assert rows["900000002"]["d_236590500_d_236590500"] == "123456789"


def test_merge_end_to_end(spark, tmp_path):
    cat = Catalog(spark, root=str(tmp_path / "lake"))
    v1 = spark.createDataFrame(
        [("1", "a")], "`Connect_ID` string, `d_100000001` string"
    )
    v2 = spark.createDataFrame(
        [("2", "b")], "`Connect_ID` string, `d_100000001` string"
    )
    cat.write(v1, "p.FlatConnect.m1_v1")
    cat.write(v2, "p.FlatConnect.m1_v2")
    resp = api.merge_table_versions(
        cat, ["p.FlatConnect.m1_v1", "p.FlatConnect.m1_v2"], "p.CleanConnect.m1",
        audit_dir=str(tmp_path / "sql"),
    )
    assert "successfully created" in resp["status"]
    out = cat.read("p.CleanConnect.m1")
    assert sorted(r["Connect_ID"] for r in out.collect()) == ["1", "2"]


def test_sensitive_tier_end_to_end(spark, tmp_path):
    from pr2_transformation_spark import config

    cat = Catalog(spark, root=str(tmp_path / "lake"))
    cols = config.SENSITIVE_TIER_COLUMNS + ["d_111111111"]
    schema = ", ".join(f"`{c}` string" for c in cols)
    df = spark.createDataFrame([tuple(str(i) for i in range(len(cols)))], schema)
    cat.write(df, "p.CleanConnect.module1")
    api.create_sensitive_tier(cat, "p.CleanConnect.module1", "p.Sensitive.module1")
    out = cat.read("p.Sensitive.module1")
    assert out.columns == config.SENSITIVE_TIER_COLUMNS


def _survey_source(spark):
    """All-STRING survey table exercising every clause kind: custom
    transforms, one-off rename + loop + substring COALESCE groups, binary
    and false-array recodes, and the sensitive-tier columns."""
    from pr2_transformation_spark import config

    cols = config.SENSITIVE_TIER_COLUMNS + [
        "D_317093647", "D_150352141_D_206625031", "d_150352141_d_623218391",
        "d_684926335_num", "state_d_684926335", "d_123456789_2_2",
        "d_123456789_2_2_2_2", "d_820476880", "d_236590500_d_236590500",
    ]
    values = [
        ["42", "a", None, "7", "8", None, "l2", "1", "[]"],
        ["1999", None, "b", None, "9", "l1", None, "0", "[178420302]"],
        ["x", "c", "d", None, None, None, None, "", None],
        [None, None, None, "5", None, "l3", "l4", None, "[958239616]"],
    ]
    rows = [
        tuple(f"{c}-{i}" for c in config.SENSITIVE_TIER_COLUMNS) + tuple(v)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in cols))


def _endpoint_sources(spark, endpoint):
    """{source table: DataFrame} for one endpoint's request."""
    if endpoint == "merge":
        return {
            "p.FlatConnect.m1_v1": spark.createDataFrame(
                [("1", "a", "x", "u"), ("2", "b", None, "v")],
                "`Connect_ID` string, `D_100000001` string, `d_100000002` string, `d_100000003` string",
            ),
            "p.FlatConnect.m1_v2": spark.createDataFrame(
                [("2", None, "y", "w"), ("3", "c", "z", None)],
                "`Connect_ID` string, `d_100000001` string, `d_100000002` string, `d_100000004` string",
            ),
        }
    return {"p.FlatConnect.module1_v2_JP": _survey_source(spark)}


def _call_endpoint(cat, endpoint, sources, dest, audit):
    fq = sources[0]
    if endpoint == "clean_columns":
        return api.clean_columns(cat, fq, dest, audit)
    if endpoint == "clean_rows":
        return api.clean_rows(cat, fq, dest, audit)
    if endpoint == "sensitive":
        return api.create_sensitive_tier(cat, fq, dest, audit)
    return api.merge_table_versions(cat, sources, dest, audit)


def _run_endpoint(spark, cat, endpoint, audit):
    """Write the endpoint's source tables, run it; return (response,
    {source table: DataFrame}, destination)."""
    dest = "p.CleanConnect.out"
    sources = _endpoint_sources(spark, endpoint)
    for fq, df in sources.items():
        cat.write(df, fq)
    sources = {fq: cat.read(fq) for fq in sources}
    return _call_endpoint(cat, endpoint, list(sources), dest, audit), sources, dest


#: Spark jobs per request on a tiny lake once the sources are written:
#: each endpoint's one write, plus clean_rows' two profiling jobs and the
#: merge's full outer join (its shuffle stages run as jobs of their own
#: under AQE).  Reading a source's schema submits none.
ENDPOINT_JOBS = {"clean_columns": 1, "clean_rows": 3, "merge": 3, "sensitive": 1}


@pytest.mark.parametrize("endpoint", sorted(ENDPOINT_JOBS))
def test_endpoint_job_counts(spark, tmp_path, spark_jobs, endpoint):
    cat = Catalog(spark, root=str(tmp_path / "lake"))
    sources = _endpoint_sources(spark, endpoint)
    for fq, df in sources.items():
        cat.write(df, fq)
    jobs = spark_jobs(_call_endpoint, cat, endpoint, list(sources),
                      "p.CleanConnect.out", str(tmp_path / "sql"))
    assert jobs == ENDPOINT_JOBS[endpoint]


@pytest.mark.parametrize("endpoint", ["clean_columns", "clean_rows", "merge", "sensitive"])
def test_audit_sql_replays_to_written_table(spark, tmp_path, endpoint):
    """The archived SQL is the plan that ran: its SELECT, replayed with
    every source table pointed at a temp view, returns exactly the rows,
    columns and types the endpoint wrote."""
    from collections import Counter

    cat = Catalog(spark, root=str(tmp_path / "lake"))
    resp, sources, dest = _run_endpoint(spark, cat, endpoint, str(tmp_path / "sql"))

    sql = open(resp["submitted_sql_path"]).read()
    assert sql.startswith(f"CREATE OR REPLACE TABLE `{dest}` USING PARQUET AS\nSELECT\n")
    select = sql[sql.index("\nSELECT\n") + 1:]
    for i, (fq, df) in enumerate(sources.items()):
        df.createOrReplaceTempView(f"audit_replay_{i}")
        select = select.replace(f"`{fq}`", f"audit_replay_{i}")
    replayed = spark.sql(select)
    written = cat.read(dest)

    assert replayed.columns == written.columns
    assert replayed.dtypes == written.dtypes
    got, want = Counter(replayed.collect()), Counter(written.collect())
    assert got == want and sum(want.values()) > 0


def test_catalog_partitioned_write(spark, tmp_path):
    """Catalog.write(partition_by=...) lays out hive-partitioned parquet and
    reads back with partition pruning available."""
    import os

    from pyspark.sql import functions as F

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.range(20).select(
        F.col("id").cast("string").alias("Connect_ID"),
        (F.col("id") % 3).cast("string").alias("version"),
        F.lit("x").alias("payload"),
    )
    dest = "proj.CleanConnect.module1"
    path = cat.write(df, dest, partition_by=["version"])
    subdirs = sorted(d for d in os.listdir(path) if d.startswith("version="))
    assert subdirs == ["version=0", "version=1", "version=2"]
    back = cat.read(dest)
    assert back.count() == 20
    assert back.filter(F.col("version") == "1").count() == 7


def test_write_sorted_shards_layout(spark, tmp_path):
    """Range-disjoint, locally sorted shard files: every file is sorted and
    file key-ranges don't overlap (a global total order across shards)."""
    import glob

    from pyspark.sql import functions as F

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    dest = str(tmp_path / "shards")
    cat.register_path("p.d.shards", dest)
    df = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 100_000).alias("key"), F.col("id").alias("payload")
    )
    plan_df = df.repartitionByRange(8, "key").sortWithinPartitions("key")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "rangepartitioning" in buf.getvalue()

    cat.write_sorted_shards(df, "p.d.shards", ["key"], 8)
    files = sorted(glob.glob(dest + "/part-*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        keys = [r["key"] for r in spark.read.parquet(f).collect()]
        assert keys == sorted(keys), f"shard {f} not locally sorted"
        ranges.append((min(keys), max(keys)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "shard key ranges overlap"


def test_register_csv_json_sources(spark, tmp_path):
    """Catalog reads non-parquet formats through the same FQ-name surface."""
    from pyspark.sql import functions as F

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 2).alias("dbl"), F.lit("x").alias("tag")
    )
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    orc_path = str(tmp_path / "o")
    df.write.option("header", True).csv(csv_path)
    df.write.json(json_path)
    df.write.orc(orc_path)
    cat.register_path("p.d.csvt", csv_path, format="csv")
    cat.register_path("p.d.jsont", json_path, format="json")
    cat.register_path("p.d.orct", orc_path, format="orc")

    got_csv = cat.read("p.d.csvt")
    got_json = cat.read("p.d.jsont")
    got_orc = cat.read("p.d.orct")
    assert got_csv.count() == got_json.count() == got_orc.count() == 10
    assert (
        set(got_csv.columns)
        == set(got_json.columns)
        == set(got_orc.columns)
        == {"id", "dbl", "tag"}
    )
    assert got_json.agg(F.sum("dbl")).collect()[0][0] == 90
    assert got_orc.agg(F.sum("dbl")).collect()[0][0] == 90


def test_build_session_configs(spark):
    """The tuned factory must apply the engine posture configs (checked on
    the running session via a fresh builder against the same JVM)."""
    from pr2_transformation_spark.session import ENGINE_CONFIGS, build_session

    s = build_session("cfg-probe", master="local[2]", shuffle_partitions=7)
    try:
        for key in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.parquet.filterPushdown",
            "spark.sql.execution.arrow.pyspark.enabled",
        ):
            assert s.conf.get(key) == ENGINE_CONFIGS[key], key
    finally:
        pass  # shared JVM: do not stop() the session-scoped fixture's context


def test_compact_small_files(spark, tmp_path):
    """Compaction rewrites a many-tiny-file table into the byte-sized
    file count, preserves every row, and leaves a readable table (the
    staged-swap never exposes a half-written directory)."""
    import glob

    from pyspark.sql import functions as F

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    dest = str(tmp_path / "frag")
    cat.register_path("p.d.frag", dest)
    df = spark.range(0, 20_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    df.repartition(64).write.parquet(dest)
    assert len(glob.glob(dest + "/part-*.parquet")) == 64

    before = sum(
        __import__("os").path.getsize(f) for f in glob.glob(dest + "/part-*.parquet")
    )
    # Target = total bytes → exactly 1 output file; a tiny target yields
    # ceil(total/target) files.
    n = cat.compact("p.d.frag", target_file_bytes=before + 1)
    assert n == 1
    files = glob.glob(dest + "/part-*.parquet")
    assert len(files) == 1
    out = spark.read.parquet(dest)
    assert out.count() == 20_000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_audit_sink_remote_writer_injection(tmp_path):
    """Object-store audit paths dispatch to the injected per-scheme writer
    (the reference passes a storage client into its saver the same way:
    /root/reference/core/utils.py:54-89); unregistered schemes fail loudly."""
    from pr2_transformation_spark.plans import audit

    with pytest.raises(RuntimeError, match="no writer registered"):
        audit.save_sql_string("SELECT 1", "gs://bucket/sql/t.sql")

    written = {}
    audit.register_remote_writer("gs://", lambda path, sql: written.update({path: sql}))
    try:
        p = audit.audit_path_for("dest_table", "gs://bucket/sql")
        assert p == "gs://bucket/sql/dest_table.sql"
        assert audit.save_sql_string("SELECT 1", p) == p
        assert written == {"gs://bucket/sql/dest_table.sql": "SELECT 1"}
    finally:
        audit.register_remote_writer("gs://", None)

    # unknown scheme rejected at registration
    with pytest.raises(ValueError, match="unknown remote scheme"):
        audit.register_remote_writer("ftp://", lambda p, s: None)

    # local path still writes through to disk
    local = audit.audit_path_for("t2", str(tmp_path / "sql"))
    audit.save_sql_string("SELECT 2", local)
    assert open(local).read() == "SELECT 2"


def test_catalog_text_format_reads_lines_with_provenance(spark, tmp_path):
    """Raw-text source: one row per line plus the originating file path —
    the crawl-ingestion shape feeding the dedup/quality operators."""
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.txt").write_text("first line\nsecond line\n")
    (d / "b.txt").write_text("third line\n")
    cat = Catalog(spark, root=str(tmp_path))
    cat.register_path("p.raw.crawl", str(d), format="text")
    rows = cat.read("p.raw.crawl").collect()
    assert sorted(r["value"] for r in rows) == ["first line", "second line", "third line"]
    assert all(r["source_file"].endswith((".txt",)) for r in rows)
    by_line = {r["value"]: r["source_file"] for r in rows}
    assert by_line["third line"].endswith("b.txt")


def test_export_jsonl_roundtrip_and_shard_sizing(spark, tmp_path):
    """JSONL export: rows round-trip through newline-delimited JSON, shard
    count derives from the byte-size estimate, and explicit num_shards is
    honored."""
    import glob
    import os

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"text body {i}", f"s{i % 3}") for i in range(500)],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "export")
    # rows ~30 bytes; tiny target forces multiple shards from the estimator
    shards = cat.export_jsonl(df, out, target_shard_bytes=4096, compression=None)
    assert shards > 1
    files = glob.glob(os.path.join(out, "part-*"))
    assert len(files) == shards
    back = spark.read.json(out)
    assert back.count() == 500
    got = {r["doc_id"]: (r["text"], r["source"]) for r in back.collect()}
    assert got[7] == ("text body 7", "s1")

    out2 = str(tmp_path / "export2")
    assert cat.export_jsonl(df, out2, num_shards=3, compression="gzip") == 3
    gz = glob.glob(os.path.join(out2, "part-*.gz"))
    assert len(gz) == 3
    assert spark.read.json(out2).count() == 500  # transparent gzip read-back


def test_write_with_bloom_filter_columns(spark, tmp_path):
    """bloom_filter_cols lands REAL per-column bloom filters in the
    parquet row groups — verified by reading them back with parquet-mr
    itself (the library Spark's scan consults for bloom-based row-group
    skipping) — and the table reads back identically."""
    import glob

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    df = spark.range(0, 5000).selectExpr(
        "id AS doc_id", "md5(CAST(id AS STRING)) AS content_hash", "id % 7 AS grp"
    )
    path = cat.write(
        df, "p.d.bloomed", bloom_filter_cols=["content_hash"], bloom_filter_ndv=5000
    )
    files = glob.glob(f"{path}/*.parquet")
    assert files
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    blooms = {}
    for f in files:
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            groups = reader.getRowGroups()
            for g in range(groups.size()):
                block = groups.get(g)
                bfr = reader.getBloomFilterDataReader(block)
                cols = block.getColumns()
                for i in range(cols.size()):
                    cc = cols.get(i)
                    name = cc.getPath().toDotString()
                    has = bfr.readBloomFilter(cc) is not None
                    blooms[name] = blooms.get(name, False) or has
        finally:
            reader.close()
    assert blooms.get("content_hash"), "content_hash column is missing bloom filters"
    assert not blooms.get("doc_id"), "unlisted columns must not pay for bloom filters"
    assert not blooms.get("grp"), "unlisted columns must not pay for bloom filters"
    assert cat.read("p.d.bloomed").count() == 5000


def test_merge_upsert_prunes_untouched_buckets(spark, tmp_path):
    """merge_upsert rewrites ONLY the bucket partitions the batch's keys
    hash into (other bucket dirs keep their exact files), applies
    latest-wins updates, CDC deletes, empties fully-deleted buckets, and
    replays idempotently."""
    import glob
    import os

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    base = spark.range(0, 200).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v", "0L AS ts", "false AS deleted"
    )
    table = "p.d.snapshot"
    cat.merge_upsert(table, base, ["k"], "ts", num_buckets=8)
    root = cat.path_for(table)
    files_before = {f: os.path.getmtime(f)
                    for f in glob.glob(f"{root}/__bucket=*/*.parquet")}

    updates = spark.createDataFrame(
        [(5, "five!", 1, False), (5, "stale", 0, False), (7, "gone", 1, True)],
        "k long, v string, ts long, deleted boolean",
    )
    affected = cat.merge_upsert(
        table, updates, ["k"], "ts", num_buckets=8, delete_col="deleted"
    )
    assert 1 <= len(affected) <= 2

    snap = spark.read.parquet(root)
    got = {r["k"]: r["v"] for r in snap.collect()}
    assert got[5] == "five!"          # latest ts wins, stale loses
    assert 7 not in got               # CDC delete applied
    assert len(got) == 199
    # untouched buckets kept their exact files
    touched_dirs = {f"{root}/__bucket={b}" for b in affected}
    for f, mtime in files_before.items():
        if os.path.dirname(f) not in touched_dirs:
            assert os.path.getmtime(f) == mtime and os.path.exists(f), f
    # replaying the same batch is a no-op on values
    cat.merge_upsert(table, updates, ["k"], "ts", num_buckets=8, delete_col="deleted")
    again = {r["k"]: r["v"] for r in spark.read.parquet(root).collect()}
    assert again == got


def test_merge_upsert_empties_fully_deleted_bucket(spark, tmp_path):
    """A bucket whose every key is deleted loses its partition directory
    (dynamic overwrite alone would leave the stale files)."""
    import glob

    from pr2_transformation_spark.sources.catalog import Catalog

    cat = Catalog(spark, root=str(tmp_path))
    one = spark.createDataFrame(
        [(42, "x", 0, False)], "k long, v string, ts long, deleted boolean"
    )
    cat.merge_upsert("p.d.tiny", one, ["k"], "ts", num_buckets=4)
    root = cat.path_for("p.d.tiny")
    assert glob.glob(f"{root}/__bucket=*/*.parquet")
    kill = spark.createDataFrame(
        [(42, "x", 1, True)], "k long, v string, ts long, deleted boolean"
    )
    cat.merge_upsert("p.d.tiny", kill, ["k"], "ts", num_buckets=4, delete_col="deleted")
    assert not glob.glob(f"{root}/__bucket=*/*.parquet")
