"""Avro Object Container File source: binary round trips, codec and
corruption behavior, schema translation, and the distributed
binaryFile -> mapInPandas read path."""

import json
import os
import re

import pytest

from pr2_transformation_spark.sources import avro as av

SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "title", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "ok", "type": "boolean"},
        {"name": "tag", "type": ["null", "string"]},
        {"name": "nums", "type": {"type": "array", "items": "int"}},
        {"name": "blob", "type": "bytes"},
    ],
}

ROWS = [
    {"id": 1, "title": "héllo", "score": 1.5, "ok": True, "tag": "x",
     "nums": [1, -2, 300000], "blob": b"\x00\xff"},
    {"id": -9876543210, "title": "", "score": -2.25, "ok": False,
     "tag": None, "nums": [], "blob": b""},
]


def test_avro_roundtrip_null_and_deflate_codecs():
    rows = ROWS * 700  # multiple blocks at block_rows=500
    for codec in ("null", "deflate"):
        data = av.avro_write(rows, SCHEMA, codec=codec, block_rows=500)
        schema_back, rows_back = av.avro_read(data)
        assert schema_back == SCHEMA and rows_back == rows
    # deflate actually compresses the repetitive corpus
    assert len(av.avro_write(rows, SCHEMA, codec="deflate")) < len(
        av.avro_write(rows, SCHEMA, codec="null")
    ) / 10
    # determinism: identical input -> identical bytes (fixed sync marker)
    assert av.avro_write(rows, SCHEMA) == av.avro_write(rows, SCHEMA)


def test_avro_rejects_corruption_and_unsupported():
    data = bytearray(av.avro_write(ROWS, SCHEMA))
    data[-3] ^= 1
    with pytest.raises(ValueError):
        av.avro_read(bytes(data))
    with pytest.raises(ValueError):
        av.avro_read(b"NotAvro" + bytes(20))
    with pytest.raises(ValueError):
        av.avro_write(ROWS, SCHEMA, codec="lzo")  # not in the spec set
    with pytest.raises(ValueError):
        av.avro_schema_to_spark({"type": "record", "name": "x", "fields": [
            {"name": "m", "type": {"type": "map", "values": "int"}}]})


def test_avro_zigzag_varint_boundaries():
    schema = {"type": "record", "name": "N", "fields": [
        {"name": "v", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -2**31,
            2**62, -2**62, 2**63 - 1, -2**63]
    rows = [{"v": v} for v in vals]
    _, back = av.avro_read(av.avro_write(rows, schema))
    assert [r["v"] for r in back] == vals


def test_avro_spark_read_path(spark, tmp_path):
    """read_avro: three files -> one typed DataFrame; schema sniffed
    from the files; nullable union surfaces as NULL."""
    d = tmp_path / "avro_src"
    d.mkdir()
    for i in range(3):
        rows = [
            {"id": i * 10 + j, "title": f"t{i}-{j}", "score": j * 0.25,
             "ok": j % 2 == 0, "tag": None if j % 3 == 0 else f"g{j}",
             "nums": list(range(j)), "blob": bytes([j])}
            for j in range(5)
        ]
        (d / f"part-{i}.avro").write_bytes(
            av.avro_write(rows, SCHEMA, codec="deflate")
        )
    df = av.read_avro(spark, str(d))
    assert df.schema == av.avro_schema_to_spark(SCHEMA)
    got = {r.id: r for r in df.collect()}
    assert len(got) == 15
    assert got[12].title == "t1-2" and got[12].score == 0.5
    assert got[10].tag is None and got[11].tag == "g1"
    assert got[13].nums == [0, 1, 2] and bytes(got[14].blob) == b"\x04"
    # schema pinning: a mismatched expected schema fails loudly
    other = json.loads(json.dumps(SCHEMA))
    other["fields"] = other["fields"][:2]
    with pytest.raises(Exception):
        av.read_avro(spark, str(d), schema=other).collect()


def test_avro_python_datasource(spark, tmp_path):
    """The Spark 4 Python DataSource surface: format('pyavro') yields
    the same typed rows as read_avro, and a schema-heterogeneous
    directory fails loudly on the executor."""
    d = tmp_path / "ds"
    d.mkdir()
    rows = [{"id": i, "title": f"r{i}", "score": i * 0.5, "ok": i % 2 == 0,
             "tag": None, "nums": [i], "blob": b"z"} for i in range(8)]
    (d / "a.avro").write_bytes(av.avro_write(rows[:4], SCHEMA))
    (d / "b.avro").write_bytes(av.avro_write(rows[4:], SCHEMA, codec="deflate"))
    spark.dataSource.register(av.AvroDataSource)
    df = spark.read.format("pyavro").load(str(d))
    assert df.schema == av.avro_schema_to_spark(SCHEMA)
    got = sorted((r.id, r.title, r.nums) for r in df.collect())
    assert got == [(i, f"r{i}", [i]) for i in range(8)]
    other = {"type": "record", "name": "Other", "fields": [
        {"name": "x", "type": "long"}]}
    (d / "c.avro").write_bytes(av.avro_write([{"x": 1}], other))
    with pytest.raises(Exception):
        spark.read.format("pyavro").load(str(d)).collect()


def test_avro_block_split_scan_and_read(spark, tmp_path):
    """blockSplit mode: the driver seek-scan indexes blocks without
    loading payloads, partitions group to targetBytes, and the union of
    block-range reads equals the whole-file read exactly."""
    d = tmp_path / "big"
    d.mkdir()
    rows = [{"id": i, "title": "x" * 50, "score": 0.5, "ok": True,
             "tag": None, "nums": [], "blob": b""} for i in range(2000)]
    path = d / "big.avro"
    path.write_bytes(av.avro_write(rows, SCHEMA, block_rows=100))  # 20 blocks
    schema, codec, sync, blocks = av.avro_scan_blocks(str(path))
    assert schema == SCHEMA and codec == "null" and len(blocks) == 20
    assert sum(b[1] for b in blocks) == 2000
    # contiguity: each block ends where the next starts
    assert all(blocks[i][2] == blocks[i + 1][0] for i in range(19))
    spark.dataSource.register(av.AvroDataSource)
    df = (
        spark.read.format("pyavro")
        .option("blockSplit", "true")
        .option("targetBytes", "4096")  # force many partitions
        .load(str(d))
    )
    assert df.rdd.getNumPartitions() > 4
    got = sorted(r.id for r in df.collect())
    assert got == list(range(2000))
    # deflate files split identically
    (d / "big.avro").write_bytes(
        av.avro_write(rows, SCHEMA, codec="deflate", block_rows=100)
    )
    got2 = sorted(
        r.id
        for r in spark.read.format("pyavro")
        .option("blockSplit", "true")
        .option("targetBytes", "2048")
        .load(str(d))
        .collect()
    )
    assert got2 == list(range(2000))


def test_avro_property_random_rows_roundtrip():
    """Hypothesis-style randomized round trip (driver-side, no Spark):
    random row batches across every supported field shape survive
    encode->decode bit-exactly under both codecs, at block sizes that
    force multi-block files."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": "string"},
            {"name": "y", "type": "bytes"},
            {"name": "ns", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
        ],
    }
    row_st = st.fixed_dictionaries(
        {
            "i": st.integers(-(2**31), 2**31 - 1),
            "l": st.integers(-(2**63), 2**63 - 1),
            "d": st.floats(allow_nan=False, width=64),
            "b": st.booleans(),
            "s": st.text(max_size=40),
            "y": st.binary(max_size=40),
            "ns": st.one_of(st.none(), st.integers(-(2**40), 2**40)),
            "arr": st.lists(st.integers(-(2**20), 2**20), max_size=8),
        }
    )

    @settings(max_examples=60, deadline=None)
    @given(
        rows=st.lists(row_st, max_size=25),
        codec=st.sampled_from(["null", "deflate"]),
        block_rows=st.sampled_from([1, 3, 1000]),
    )
    def check(rows, codec, block_rows):
        data = av.avro_write(rows, schema, codec=codec, block_rows=block_rows)
        got_schema, got = av.avro_read(data)
        assert got_schema == schema and got == rows

    check()


def test_avro_zigzag_varint_known_encodings():
    """The Avro spec's published zigzag-varint byte encodings — pins the
    wire format itself, which a symmetric read/write bug could fake."""
    cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
             63: b"\x7e", -64: b"\x7f", 64: b"\x80\x01", -65: b"\x81\x01"}
    for value, wire in cases.items():
        out = bytearray()
        av._write_long(out, value)
        assert bytes(out) == wire, value
        assert av._Reader(wire).read_long() == value


def test_avro_streaming_source_picks_up_new_files(spark, tmp_path):
    """The pyavro micro-batch stream: files present at start are batch 1;
    files dropped later arrive in a later batch exactly once (file-set
    offsets, same contract as the WARC stream source)."""
    import time

    d = tmp_path / "drops"
    d.mkdir()
    mk = lambda i: [{"id": i * 100 + j, "title": f"f{i}", "score": 0.0,
                     "ok": True, "tag": None, "nums": [], "blob": b""}
                    for j in range(3)]
    (d / "a.avro").write_bytes(av.avro_write(mk(0), SCHEMA))
    spark.dataSource.register(av.AvroDataSource)
    out_dir = tmp_path / "out"
    chk = tmp_path / "chk"
    stream = (
        spark.readStream.format("pyavro").load(str(d))
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(chk))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            got = set()
            try:
                got = {r.id for r in spark.read.parquet(str(out_dir)).collect()}
            except Exception:
                pass
            if {0, 1, 2} <= got:
                break
            time.sleep(1)
        assert {0, 1, 2} <= got
        (d / "b.avro").write_bytes(av.avro_write(mk(1), SCHEMA, codec="deflate"))
        deadline = time.time() + 60
        while time.time() < deadline:
            got = {r.id for r in spark.read.parquet(str(out_dir)).collect()}
            if {100, 101, 102} <= got:
                break
            time.sleep(1)
        rows = spark.read.parquet(str(out_dir)).collect()
        ids = sorted(r.id for r in rows)
        assert ids == [0, 1, 2, 100, 101, 102]  # exactly once, no dupes
    finally:
        stream.stop()


def test_snappy_codec_roundtrip_and_crc():
    """Avro snappy codec: raw snappy block + big-endian CRC32 of the
    uncompressed data; corrupting the CRC or the body is detected."""
    import pytest as _pytest

    from pr2_transformation_spark.sources.avro import avro_read, avro_write

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": "string"}]}
    rows = [{"k": i, "s": "value-%d" % (i % 7)} for i in range(500)]
    blob = avro_write(rows, schema, codec="snappy", block_rows=128)
    got_schema, got = avro_read(blob)
    assert got == rows
    # flip one byte inside the first block body -> CRC (or decode) trips
    bad = bytearray(blob)
    bad[len(blob) // 2] ^= 0xFF
    with _pytest.raises(ValueError):
        avro_read(bytes(bad))


def test_full_codec_set_roundtrip():
    """Every codec in the Avro spec round-trips; zstandard additionally
    proves the raw-block writer + RFC 8878 decoder pairing, and a
    libzstd-compressed block (pyarrow) reads too."""
    from pr2_transformation_spark.sources.avro import (
        AVRO_CODECS,
        avro_read,
        avro_write,
    )

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "long"}, {"name": "s", "type": "string"}]}
    rows = [{"k": i, "s": "padding-%d" % (i % 5)} for i in range(400)]
    for codec in AVRO_CODECS:
        blob = avro_write(rows, schema, codec=codec, block_rows=150)
        got_schema, got = avro_read(blob)
        assert got == rows, codec

    # a block libzstd compressed (not our raw-block writer) also decodes
    import pyarrow as pa

    from pr2_transformation_spark.sources import avro as av_mod
    orig = av_mod._codec_encode
    try:
        av_mod._codec_encode = lambda p, c: (
            pa.compress(p, codec="zstd", asbytes=True) if c == "zstandard"
            else orig(p, c))
        blob = avro_write(rows, schema, codec="zstandard", block_rows=150)
    finally:
        av_mod._codec_encode = orig
    _, got = avro_read(blob)
    assert got == rows


# ---------------------------------------------------- logical types (r8)

LOGICAL_SCHEMA = {
    "type": "record",
    "name": "L",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "price", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 12, "scale": 2}},
        {"name": "fx", "type": {"type": "fixed", "name": "d8", "size": 8,
                                "logicalType": "decimal",
                                "precision": 18, "scale": 4}},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
        {"name": "tu", "type": {"type": "long",
                                "logicalType": "time-micros"}},
        {"name": "tsm", "type": {"type": "long",
                                 "logicalType": "timestamp-millis"}},
        {"name": "tsu", "type": {"type": "long",
                                 "logicalType": "timestamp-micros"}},
        {"name": "ltsu", "type": {"type": "long",
                                  "logicalType": "local-timestamp-micros"}},
        {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "opt", "type": ["null", {"type": "bytes",
                                          "logicalType": "decimal",
                                          "precision": 6, "scale": 3}]},
    ],
}


def _logical_rows():
    import datetime
    import decimal

    utc = datetime.timezone.utc
    return [
        {"id": 1, "price": decimal.Decimal("123.45"),
         "fx": decimal.Decimal("-7.1000"),
         "d": datetime.date(2020, 2, 29),
         "tm": datetime.time(13, 45, 30, 123000),
         "tu": datetime.time(23, 59, 59, 999999),
         "tsm": datetime.datetime(2021, 6, 1, 12, 0, 0, 500000, tzinfo=utc),
         "tsu": datetime.datetime(1969, 12, 31, 23, 59, 59, 999999,
                                  tzinfo=utc),
         "ltsu": datetime.datetime(2000, 1, 2, 3, 4, 5, 6),
         "u": "00000000-0000-0000-0000-0000deadbeef", "opt": None},
        {"id": 2, "price": decimal.Decimal("-0.01"),
         "fx": decimal.Decimal("99999999999999.9999"),
         "d": datetime.date(1969, 12, 31),
         "tm": datetime.time(0, 0, 0),
         "tu": datetime.time(0, 0, 0, 1),
         "tsm": datetime.datetime(1970, 1, 1, tzinfo=utc),
         "tsu": datetime.datetime(1970, 1, 1, tzinfo=utc),
         "ltsu": datetime.datetime(1969, 1, 1),
         "u": "00000000-0000-0000-0000-000000000007",
         "opt": __import__("decimal").Decimal("1.500")},
    ]


def test_logical_types_roundtrip():
    rows = _logical_rows()
    schema_back, back = av.avro_read(av.avro_write(rows, LOGICAL_SCHEMA))
    assert schema_back == LOGICAL_SCHEMA
    assert back == rows


def test_logical_types_spec_vectors():
    """Byte-level pins from the Avro 1.11 spec: decimal-over-bytes is the
    MINIMAL big-endian two's-complement of the unscaled integer (Java
    BigInteger.toByteArray); date/time/timestamp are plain zigzag longs
    of the day/milli/micro ordinal."""
    import datetime
    import decimal

    dec = {"type": "bytes", "logicalType": "decimal",
           "precision": 12, "scale": 2}
    out = bytearray()
    av._write_value(out, dec, decimal.Decimal("123.45"))
    assert bytes(out) == bytes([0x04, 0x30, 0x39])  # len 2, 12345
    out = bytearray()
    av._write_value(out, dec, decimal.Decimal("-0.01"))
    assert bytes(out) == bytes([0x02, 0xFF])  # len 1, -1
    out = bytearray()
    av._write_value(out, dec, decimal.Decimal("-1.28"))
    assert bytes(out) == bytes([0x02, 0x80])  # -128 fits ONE byte
    out = bytearray()
    av._write_value(out, dec, decimal.Decimal("1.28"))
    assert bytes(out) == bytes([0x04, 0x00, 0x80])  # +128 needs sign byte
    # fixed decimal: sign-extended to exactly `size` bytes
    fx = {"type": "fixed", "name": "d4", "size": 4,
          "logicalType": "decimal", "precision": 9, "scale": 0}
    out = bytearray()
    av._write_value(out, fx, decimal.Decimal(-2))
    assert bytes(out) == b"\xff\xff\xff\xfe"
    # date: days since epoch as zigzag varint (2020-02-29 = day 18321)
    out = bytearray()
    av._write_value(out, {"type": "int", "logicalType": "date"},
                    datetime.date(2020, 2, 29))
    exp = bytearray()
    av._write_long(exp, 18321)
    assert out == exp
    # timestamp-micros: epoch micros
    out = bytearray()
    av._write_value(out, {"type": "long", "logicalType": "timestamp-micros"},
                    datetime.datetime(1970, 1, 1, 0, 0, 1,
                                      tzinfo=datetime.timezone.utc))
    exp = bytearray()
    av._write_long(exp, 1_000_000)
    assert out == exp


def test_logical_decimal_rejects_rounding_and_overflow():
    import decimal

    dec = {"type": "bytes", "logicalType": "decimal",
           "precision": 4, "scale": 2}
    with pytest.raises(ValueError, match="scale"):
        av._write_value(bytearray(), dec, decimal.Decimal("1.234"))
    with pytest.raises(ValueError, match="overflows"):
        av._write_value(bytearray(), dec, decimal.Decimal("123.45"))


def test_unknown_logical_type_falls_back_to_base():
    # spec: unrecognized logicalType annotations are ignored
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "x", "type": {"type": "long",
                               "logicalType": "duration-ish"}}]}
    data = av.avro_write([{"x": 42}], schema)
    _, back = av.avro_read(data)
    assert back == [{"x": 42}]
    assert av.avro_schema_to_spark(schema)["x"].dataType.simpleString() \
        == "bigint"


def test_logical_types_distributed_read(spark, tmp_path):
    """read_avro surfaces decimal/date/timestamp/uuid as proper Spark
    types (times as exact integer millis/micros — the documented TIME
    seam) and values survive an aggregate."""
    import datetime
    import decimal

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = _logical_rows() * 50
    (tmp_path / "a.avro").write_bytes(av.avro_write(rows, LOGICAL_SCHEMA))
    df = av.read_avro(spark, str(tmp_path), LOGICAL_SCHEMA)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "decimal(12,2)", "decimal(18,4)", "date", "int",
        "bigint", "timestamp", "timestamp", "timestamp_ntz", "string",
        "decimal(6,3)"]
    got = df.filter("id = 2").limit(1).collect()[0]
    assert got["price"] == decimal.Decimal("-0.01")
    assert got["fx"] == decimal.Decimal("99999999999999.9999")
    assert got["d"] == datetime.date(1969, 12, 31)
    assert got["tm"] == 0 and got["tu"] == 1
    assert got["u"].endswith("07")
    assert got["opt"] == decimal.Decimal("1.500")
    agg = df.groupBy().sum("price").collect()[0][0]
    assert agg == decimal.Decimal("123.44") * 50


def test_logical_types_property_roundtrip():
    """Hypothesis sweep: random decimals/dates/times/timestamps survive
    write->read exactly."""
    import datetime
    import decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    schema = {"type": "record", "name": "P", "fields": [
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                 "precision": 20, "scale": 5}},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "tu", "type": {"type": "long",
                                "logicalType": "time-micros"}},
        {"name": "tsu", "type": {"type": "long",
                                 "logicalType": "timestamp-micros"}},
    ]}

    utc = datetime.timezone.utc

    @settings(max_examples=60, deadline=None)
    @given(
        unscaled=st.integers(min_value=-(10 ** 20) + 1,
                             max_value=10 ** 20 - 1),
        days=st.integers(min_value=-100_000, max_value=100_000),
        us=st.integers(min_value=0, max_value=86_399_999_999),
        ets=st.integers(min_value=-62_135_596_800_000_000,
                        max_value=253_402_300_799_000_000),
    )
    def run(unscaled, days, us, ets):
        row = {
            "dec": decimal.Decimal(unscaled).scaleb(-5),
            "d": datetime.date(1970, 1, 1) + datetime.timedelta(days=days),
            "tu": (datetime.datetime(1970, 1, 1)
                   + datetime.timedelta(microseconds=us)).time(),
            "tsu": (datetime.datetime(1970, 1, 1, tzinfo=utc)
                    + datetime.timedelta(microseconds=ets)),
        }
        _, back = av.avro_read(av.avro_write([row], schema))
        assert back == [row]

    run()


def test_q418_scratch_holds_only_committed_shards(spark):
    """q418's shard writers write a per-attempt temp file and rename it
    into place, so once the query has run its scratch directory holds
    only the committed ``part-NNNNN.avro`` shards the read unions."""
    import __spark_entry__ as entrymod

    df = entrymod.q418_avro_schema_resolution(spark, entrymod.DEFAULT_SF_DIR)
    assert df.count() > 0
    names = sorted(os.listdir(entrymod._Q418_SCRATCH))
    assert names and all(
        re.fullmatch(r"part-\d{5}\.avro", n) for n in names), names


def test_schema_resolution_matrix():
    """Spec "Schema Resolution": renames via reader aliases, defaults
    for reader-only fields, promotions (incl. through nullable
    unions), dropped writer fields, recursion into arrays/maps, loud
    failure when neither source nor default exists."""
    from pr2_transformation_spark.sources.avro import (
        avro_read_resolved,
        avro_write,
    )

    w = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "int"},
        {"name": "v", "type": "long"},
        {"name": "old_name", "type": "string"},
        {"name": "gone", "type": "string"},
        {"name": "opt", "type": ["null", "int"]},
        {"name": "tags", "type": {"type": "array", "items": "int"}},
        {"name": "s", "type": "string"},
    ]}
    rows = [
        {"k": 1, "v": 10, "old_name": "a", "gone": "x", "opt": None,
         "tags": [1, 2], "s": "hi"},
        {"k": 2, "v": 20, "old_name": "b", "gone": "y", "opt": 7,
         "tags": [], "s": "yo"},
    ]
    buf = avro_write(rows, w, codec="deflate")
    r = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "double"},
        {"name": "v", "type": "long"},
        {"name": "new_name", "type": "string", "aliases": ["old_name"]},
        {"name": "added", "type": "string", "default": "dflt"},
        {"name": "opt", "type": ["null", "double"]},
        {"name": "tags", "type": {"type": "array", "items": "long"}},
        {"name": "s", "type": "bytes"},      # string -> bytes
    ]}
    _, got = avro_read_resolved(buf, r)
    assert got[0] == {"k": 1.0, "v": 10, "new_name": "a",
                      "added": "dflt", "opt": None, "tags": [1, 2],
                      "s": b"hi"}
    assert got[1]["opt"] == 7.0 and got[1]["s"] == b"yo"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no default"):
        avro_read_resolved(buf, {"type": "record", "name": "r",
                                 "fields": [{"name": "nope",
                                             "type": "int"}]})
    with _pytest.raises(ValueError, match="no promotion"):
        avro_read_resolved(buf, {"type": "record", "name": "r",
                                 "fields": [{"name": "v",
                                             "type": "string"}]})
