"""From-scratch ORC writer (sources/orc_write.py): engine-written files
must be read byte-exact by THREE independent decoders — Spark's Java
ORC reader, pyarrow's C++ libORC, and this repo's own from-scratch
reader — across every codec, RLE v2 sub-encoding the encoder emits,
null weaving, and multi-stripe layouts."""

from __future__ import annotations

import datetime
import io
import math
import random

import pyarrow.orc as po
import pytest

from pr2_transformation_spark.sources.orc import read_orc_bytes
from pr2_transformation_spark.sources.orc_write import (
    _rle_v2_encode,
    write_orc,
    write_orc_bytes,
    write_orc_distributed,
)
from pr2_transformation_spark.sources.orc import _rle_v2


def _cols(n=5000):
    return [
        ("id", "long", list(range(n))),
        ("neg", "long", [i * -37 + 11 for i in range(n)]),
        ("s", "string", [f"value-{i % 97}" for i in range(n)]),
        ("opt", "int", [None if i % 7 == 0 else i % 1000
                        for i in range(n)]),
        ("d", "double", [i * 0.625 for i in range(n)]),
        ("flag", "boolean", [i % 3 == 0 for i in range(n)]),
        ("dt", "date", [datetime.date(2020, 1, 1)
                        + datetime.timedelta(days=i % 500)
                        for i in range(n)]),
        ("rep", "long", [42] * (n // 2) + [7] * (n - n // 2)),
    ]


@pytest.mark.parametrize("comp", ["none", "zlib", "snappy", "zstd", "lz4"])
def test_pyarrow_and_own_reader(comp):
    cols = _cols()
    buf = write_orc_bytes(cols, compression=comp, stripe_rows=1500)
    names, data = read_orc_bytes(buf)
    for n, k, v in cols:
        assert data[n] == v, (comp, n)
    t = po.ORCFile(io.BytesIO(buf)).read()
    assert t.num_rows == 5000
    for n, k, v in cols:
        if k != "float":
            assert t.column(n).to_pylist() == v, (comp, n)


@pytest.mark.parametrize("comp", ["zlib", "zstd"])
def test_spark_java_reader(spark, tmp_path, comp):
    cols = _cols(3000)
    d = tmp_path / comp
    d.mkdir()
    write_orc(str(d / "x.orc"), cols, compression=comp, stripe_rows=800)
    rows = sorted(spark.read.orc(str(d)).collect(), key=lambda r: r["id"])
    assert len(rows) == 3000
    for n, k, v in cols:
        got = [r[n] for r in rows]
        if k == "double":
            assert all(abs(a - b) < 1e-9 for a, b in zip(got, v))
        else:
            assert got == v, (comp, n)


def test_rle_v2_encoder_roundtrip_property():
    """Encoder-chosen sub-encodings (short-repeat / delta / direct)
    all decode through the reader's RLE v2 across hostile shapes."""
    rng = random.Random(5)
    shapes = [
        [0] * 1000,
        list(range(2000)),
        list(range(0, -3000, -3)),
        [rng.randrange(-2 ** 50, 2 ** 50) for _ in range(1500)],
        [5] * 9 + [6, 7] + [5] * 200 + [2 ** 40] + [5] * 9,
        [rng.choice([1, 2]) for _ in range(997)],
        [],
        [123456789],
    ]
    for vals in shapes:
        enc = _rle_v2_encode(vals, True)
        assert _rle_v2(enc, True) == vals
    for vals in shapes:
        u = [abs(v) for v in vals]
        assert _rle_v2(_rle_v2_encode(u, False), False) == u


def test_deterministic_bytes():
    cols = _cols(500)
    assert write_orc_bytes(cols) == write_orc_bytes(cols)


def test_empty_and_single_row():
    buf = write_orc_bytes([("a", "long", []), ("b", "string", [])])
    names, data = read_orc_bytes(buf)
    assert data == {"a": [], "b": []}
    buf = write_orc_bytes([("a", "long", [7]), ("b", "string", ["x"])])
    names, data = read_orc_bytes(buf)
    assert data == {"a": [7], "b": ["x"]}
    assert po.ORCFile(io.BytesIO(buf)).read().num_rows == 1


def test_all_null_column():
    buf = write_orc_bytes([("a", "long", [None] * 100),
                           ("b", "string", ["x"] * 100)])
    names, data = read_orc_bytes(buf)
    assert data["a"] == [None] * 100
    assert po.ORCFile(io.BytesIO(buf)).read().column(
        "a").null_count == 100


def test_unsupported_kind_raises():
    with pytest.raises(NotImplementedError, match="seam"):
        write_orc_bytes([("a", "decimal", [1])])


def test_distributed_sink_spark_reads_back(spark, tmp_path):
    src = spark.range(20000).selectExpr(
        "id", "concat('t-', id % 31) as t",
        "case when id % 5 = 0 then null else cast(id * 0.5 as double) end "
        "as sc")
    n = write_orc_distributed(
        src.repartition(4), str(tmp_path / "dist"), compression="zstd")
    assert n == 4
    back = spark.read.orc(str(tmp_path / "dist"))
    assert back.count() == 20000
    assert back.filter("sc is null").count() == 4000


@pytest.mark.parametrize("comp", ["zstd", "zlib"])
def test_list_and_map_write(spark, tmp_path, comp):
    """list<primitive> / map<primitive,primitive> columns: parent
    LENGTH streams + pre-order child ids, decoded by all three
    readers (own, pyarrow libORC, Spark Java)."""
    cols = [
        ("id", "long", list(range(3000))),
        ("arr", "list<long>", [[i, i + 1, i * 2] if i % 4 else None
                               for i in range(3000)]),
        ("sarr", "list<string>", [[f"s{i % 5}"] * (i % 3)
                                  for i in range(3000)]),
        ("m", "map<string,long>", [{f"k{i % 4}": i, "fixed": i * 2}
                                   for i in range(3000)]),
    ]
    buf = write_orc_bytes(cols, compression=comp, stripe_rows=800)
    names, data = read_orc_bytes(buf)
    for n, k, v in cols:
        assert data[n] == v, (comp, n)
    t = po.ORCFile(io.BytesIO(buf)).read()
    assert t.column("arr").to_pylist() == cols[1][2]
    assert dict(t.column("m").to_pylist()[5]) == cols[3][2][5]
    d = tmp_path / comp
    d.mkdir()
    (d / "x.orc").write_bytes(buf)
    rows = sorted(spark.read.orc(str(d)).collect(), key=lambda r: r["id"])
    assert [r["arr"] for r in rows] == cols[1][2]
    assert [dict(r["m"]) for r in rows] == cols[3][2]


def test_write_side_stripe_statistics_prune(spark, tmp_path):
    """Round-9 write-side prune plane: our writer emits the Metadata
    section + footer file stats; our pruned reader skips stripes of our
    own files from tail bytes; Spark's Java ORC reader still accepts
    the file (stats sections are spec-shaped, not just self-consistent)."""
    import datetime

    from pr2_transformation_spark.sources.orc import (
        orc_stripe_statistics,
        read_orc_bytes_pruned,
    )
    from pr2_transformation_spark.sources.orc_write import write_orc_bytes

    n = 20000
    buf = write_orc_bytes(
        [("k", "long", list(range(n))),
         ("s", "string",
          [None if i % 50 == 0 else f"id{i:07d}" for i in range(n)]),
         ("d", "double", [i * 0.5 for i in range(n)]),
         ("dt", "date",
          [datetime.date(2023, 1, 1) + datetime.timedelta(days=i % 300)
           for i in range(n)])],
        compression="zlib", stripe_rows=4000)
    ss = orc_stripe_statistics(buf)
    assert len(ss) == 5
    assert ss[0]["k"] == {"n": 4000, "min": 0, "max": 3999,
                          "has_null": False}
    assert ss[4]["k"]["min"] == 16000 and ss[4]["k"]["max"] == 19999
    assert ss[1]["s"]["has_null"] and ss[1]["s"]["min"] == "id0004001"
    assert ss[2]["d"]["max"] == 11999 * 0.5
    assert ss[3]["dt"]["min"] == datetime.date(2023, 1, 1)
    _, cols, acc = read_orc_bytes_pruned(buf, "k", 9000, 9999)
    assert cols["k"] == list(range(9000, 10000))
    assert acc["stripes_read"] == 1 and acc["stripes_total"] == 5
    # string-range prune on our own file
    _, cols2, acc2 = read_orc_bytes_pruned(
        buf, "s", "id0004100", "id0004199")
    assert len(cols2["k"]) == 98  # 2 nulls at %50 in the id range
    assert acc2["stripes_read"] == 1
    # Spark's independent Java ORC reader accepts the stats sections
    p = str(tmp_path / "own.orc")
    open(p, "wb").write(buf)
    got = spark.read.orc(p)
    assert got.count() == n
    assert got.agg({"k": "max"}).collect()[0][0] == n - 1


def test_double_stripe_statistics_skip_nan():
    """Double stripe bounds come from the non-NaN values: a stripe
    holding [nan, 1.0] records min = max = 1.0 (Python's min()/max()
    answer NaN when NaN comes first), a range probe still finds the
    1.0 row and a range beyond it prunes the stripe; an all-NaN stripe
    records no bounds and is always read."""
    from pr2_transformation_spark.sources.orc import (
        orc_stripe_statistics,
        read_orc_bytes_pruned,
    )

    nan = float("nan")
    buf = write_orc_bytes([("x", "double", [nan, 1.0])])
    [stripe] = orc_stripe_statistics(buf)
    assert (stripe["x"]["min"], stripe["x"]["max"]) == (1.0, 1.0)
    _, cols, acc = read_orc_bytes_pruned(buf, "x", 0.5, 1.5)
    assert cols["x"] == [1.0] and acc["stripes_read"] == 1
    _, cols, acc = read_orc_bytes_pruned(buf, "x", 2.0, 3.0)
    assert cols["x"] == [] and acc["stripes_read"] == 0

    all_nan = write_orc_bytes([("x", "double", [nan, nan])])
    [stripe] = orc_stripe_statistics(all_nan)
    assert stripe["x"]["min"] is None and stripe["x"]["max"] is None
    _, _, acc = read_orc_bytes_pruned(all_nan, "x", 2.0, 3.0)
    assert acc["stripes_read"] == 1
    assert [math.isnan(v) for v in read_orc_bytes(all_nan)[1]["x"]] == [True, True]
