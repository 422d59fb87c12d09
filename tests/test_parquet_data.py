"""Parquet DATA-plane reader (sources/parquet_data.py) vs pyarrow's
independent C++ implementation: page decode across the full
codec x page-version x encoding matrix, the Snappy and LZ4 codecs
(in-repo encoders, library decoders) against pyarrow's compressors,
malformed input rejected as ValueError by every decoder, RLE/bit-packed
hybrid semantics, and the distributed Spark ingestion path."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pr2_transformation_spark.sources.parquet_data import (
    lz4_block_decompress,
    read_parquet,
    read_parquet_distributed,
    rle_bp_hybrid,
    snappy_decompress,
)


def _mixed_table(n=4000, seed=11):
    rng = random.Random(seed)
    return pa.table({
        "i32": pa.array(
            [rng.randint(-2**31, 2**31 - 1) if rng.random() > 0.1 else None
             for _ in range(n)], pa.int32()),
        "i64": pa.array([rng.randint(-2**62, 2**62) for _ in range(n)],
                        pa.int64()),
        "f32": pa.array(
            [rng.random() if rng.random() > 0.2 else None for _ in range(n)],
            pa.float32()),
        "f64": pa.array([rng.gauss(0, 1) for _ in range(n)], pa.float64()),
        "s": pa.array(
            [rng.choice(["alpha", "beta", None, f"v{rng.randint(0, 40)}"])
             for _ in range(n)], pa.string()),
        "b": pa.array(
            [rng.random() > 0.5 if rng.random() > 0.15 else None
             for _ in range(n)], pa.bool_()),
        "const": pa.array([42] * n, pa.int32()),
    })


def _assert_matches(tbl, path):
    names, cols = read_parquet(path)
    assert names == tbl.column_names
    for name in names:
        exp = tbl.column(name).to_pylist()
        got = cols[name]
        if name == "s":
            got = [v.decode() if isinstance(v, bytes) else v for v in got]
        if name == "f32":  # float32 round-trips through float64 repr
            assert all(
                (a is None) == (b is None) and (a is None or abs(a - b) < 1e-6)
                for a, b in zip(exp, got))
        else:
            assert got == exp, name


@pytest.mark.parametrize("codec", ["none", "snappy", "gzip", "lz4", "zstd"])
@pytest.mark.parametrize("dpv", ["1.0", "2.0"])
@pytest.mark.parametrize("use_dict", [True, False])
def test_codec_pageversion_encoding_matrix(tmp_path, codec, dpv, use_dict):
    tbl = _mixed_table()
    path = str(tmp_path / "m.parquet")
    pq.write_table(tbl, path, compression=codec, row_group_size=1700,
                   data_page_version=dpv, use_dictionary=use_dict)
    _assert_matches(tbl, path)


def test_dictionary_fallback_mid_chunk(tmp_path):
    """pyarrow abandons the dictionary when it outgrows the page limit:
    the chunk then mixes dictionary-encoded and PLAIN data pages."""
    rng = random.Random(3)
    n = 20000
    tbl = pa.table(
        {"s": [f"unique-{i}-{rng.randint(0, 10**9)}" for i in range(n)]})
    path = str(tmp_path / "fb.parquet")
    pq.write_table(tbl, path, compression="snappy",
                   dictionary_pagesize_limit=4096, row_group_size=n)
    names, cols = read_parquet(path)
    assert [v.decode() for v in cols["s"]] == tbl.column("s").to_pylist()


def test_snappy_against_pyarrow_compressor():
    rng = random.Random(7)
    for trial in range(40):
        n = rng.randint(0, 5000)
        if trial % 3 == 0:  # compressible
            raw = bytes(rng.choice(b"abcd") for _ in range(n)) * 3
        elif trial % 3 == 1:  # incompressible
            raw = bytes(rng.randint(0, 255) for _ in range(n))
        else:  # long runs -> overlapping copies
            raw = b"x" * n + bytes(rng.randint(0, 255) for _ in range(n % 97))
        comp = pa.compress(raw, codec="snappy", asbytes=True)
        assert snappy_decompress(comp) == raw


def test_lz4_against_pyarrow_compressor():
    rng = random.Random(9)
    for trial in range(40):
        n = rng.randint(0, 5000)
        if trial % 2:
            raw = bytes(rng.choice(b"wxyz") for _ in range(n)) * 2
        else:
            raw = bytes(rng.randint(0, 255) for _ in range(n))
        comp = pa.compress(raw, codec="lz4_raw", asbytes=True)
        assert lz4_block_decompress(comp, len(raw)) == raw


def test_snappy_rejects_bad_offset():
    # literal "ab" then a copy reaching before the start of output
    bad = bytes([2, (1 << 2) | 0, ord("a"), ord("b"), 0b001_001_01, 200])
    with pytest.raises(ValueError):
        snappy_decompress(bad)


def test_rle_bp_hybrid_runs():
    # RLE run: header = (count<<1), value in ceil(bw/8) bytes.
    # 100 copies of 5 at bit width 3: header varint(200) = 0xC8 0x01
    payload = bytes([0xC8, 0x01, 5])
    vals = rle_bp_hybrid(payload, 0, len(payload), 3, 100)
    assert vals == [5] * 100
    # bit-packed: header = (ngroups<<1)|1; 1 group of 8 values, bw=1,
    # byte 0b10110100 -> LSB-first values 0,0,1,0,1,1,0,1
    payload = bytes([(1 << 1) | 1, 0b10110100])
    assert rle_bp_hybrid(payload, 0, len(payload), 1, 8) == [0, 0, 1, 0, 1, 1, 0, 1]


def test_multi_row_group_nulls_weave(tmp_path):
    n = 3000
    tbl = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "v": pa.array([None if i % 5 == 0 else float(i) for i in range(n)],
                      pa.float64()),
    })
    path = str(tmp_path / "nw.parquet")
    pq.write_table(tbl, path, compression="snappy", row_group_size=700)
    names, cols = read_parquet(path)
    assert cols["v"] == tbl.column("v").to_pylist()


def test_real_testdata_files_roundtrip():
    """Every flat driver-generated table reads back value-exact."""
    import glob
    import os
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    for f in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        if os.path.basename(f) == "embeddings.parquet":
            continue  # nested list column: declared seam
        exp = pq.read_table(f)
        names, cols = read_parquet(f)
        assert names == exp.column_names
        k = names[0]
        got = cols[k]
        assert got == exp.column(k).to_pylist()


def test_embeddings_list_assembly_matches_pyarrow():
    """The real driver file: repeated FLOAT leaf, dictionary pages,
    repetition + multi-level definition levels."""
    import os
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    path = os.path.join(sf, "embeddings.parquet")
    names, cols = read_parquet(path)
    exp = pq.read_table(path)
    assert cols["vec_id"] == exp.column("vec_id").to_pylist()
    for a, b in zip(exp.column("embedding").to_pylist(), cols["embedding"]):
        assert len(a) == len(b)
        assert all(abs(x - y) < 1e-7 for x, y in zip(a, b))


@pytest.mark.parametrize("dpv", ["1.0", "2.0"])
@pytest.mark.parametrize("codec", ["snappy", "none"])
def test_list_null_empty_element_matrix(tmp_path, dpv, codec):
    """Dremel assembly corners: null list vs empty list vs null element
    vs value, across page versions, codecs, and row-group splits."""
    data = [None, [], [1.5, None, 3.0], [7.0], None, [],
            [None, None], [float(i) for i in range(40)]]
    tbl = pa.table({
        "k": pa.array(range(len(data)), pa.int64()),
        "v": pa.array(data, pa.list_(pa.float64())),
    })
    path = str(tmp_path / "l.parquet")
    pq.write_table(tbl, path, compression=codec, data_page_version=dpv,
                   row_group_size=3)
    _, cols = read_parquet(path)
    assert cols["v"] == tbl.column("v").to_pylist()


def test_string_lists_roundtrip(tmp_path):
    data = [["a", None, "bb"], [], None, ["zzz"] * 9]
    tbl = pa.table({"v": pa.array(data, pa.list_(pa.string()))})
    path = str(tmp_path / "sl.parquet")
    pq.write_table(tbl, path, compression="gzip")
    _, cols = read_parquet(path)
    got = [v if v is None else
           [e if e is None else e.decode() for e in v] for v in cols["v"]]
    assert got == data


def test_deeper_nesting_raises(tmp_path):
    tbl = pa.table({"v": pa.array([[[1]], [[2, 3]]],
                                  pa.list_(pa.list_(pa.int64())))})
    path = str(tmp_path / "nn.parquet")
    pq.write_table(tbl, path)
    with pytest.raises(NotImplementedError):
        read_parquet(path)


def test_distributed_read_matches_spark_reader(spark, tmp_path):
    tbl = pa.table({
        "k": pa.array(range(2500), pa.int64()),
        "s": pa.array([f"row-{i % 37}" for i in range(2500)]),
        "v": pa.array([None if i % 4 == 0 else i / 3 for i in range(2500)],
                      pa.float64()),
    })
    for i in range(3):
        pq.write_table(tbl.slice(i * 800, 800 if i < 2 else 900),
                       str(tmp_path / f"p{i}.parquet"),
                       compression=["snappy", "gzip", "lz4"][i],
                       row_group_size=300)
    mine = read_parquet_distributed(
        spark, str(tmp_path), "k long, s string, v double")
    native = spark.read.parquet(str(tmp_path))
    a = sorted(tuple(r) for r in mine.collect())
    b = sorted(tuple(r) for r in native.select("k", "s", "v").collect())
    assert a == b


def test_snappy_compress_roundtrips_both_decoders():
    """The from-scratch snappy ENCODER against both the in-repo decoder
    and pyarrow's independent C++ snappy."""
    import random
    rng = random.Random(5)
    from pr2_transformation_spark.sources.parquet_data import snappy_compress
    for trial in range(30):
        n = rng.randint(0, 8000)
        raw = (b"pattern-%d " % (trial % 3)) * (n // 10) + bytes(
            rng.randint(0, 255) for _ in range(n % 97))
        c = snappy_compress(raw)
        assert snappy_decompress(c) == raw
        assert pa.decompress(c, decompressed_size=len(raw),
                             codec="snappy", asbytes=True) == raw
    big = b"the quick brown fox jumps over the lazy dog " * 3000
    assert len(snappy_compress(big)) < len(big) // 10  # actually compresses


def test_lz4_frame_conformance_and_checksums():
    """LZ4 FRAME decode vs pyarrow's frame compressor (linked blocks),
    plus xxh32 header/content checksum verification."""
    import random

    from pr2_transformation_spark.functions.xxhash import xxh32
    from pr2_transformation_spark.sources.parquet_data import (
        lz4_frame_decompress,
    )

    rng = random.Random(4)
    for trial in range(12):
        n = rng.randint(0, 500000)
        raw = (b"body %d " % trial) * (n // 8)
        comp = pa.compress(raw, codec="lz4", asbytes=True)
        assert lz4_frame_decompress(comp, len(raw)) == raw
    # xxh32 known property: frame header checksum byte validates
    comp = bytearray(pa.compress(b"x" * 100, codec="lz4", asbytes=True))
    comp[4] ^= 0x01  # flip a descriptor bit -> header checksum must trip
    with pytest.raises(ValueError, match="header checksum"):
        lz4_frame_decompress(bytes(comp))
    # xxh32 self-check vectors (public reference values)
    assert xxh32(b"") == 0x02CC5D05


@pytest.mark.parametrize("dpv", ["1.0", "2.0"])
def test_delta_binary_packed_and_byte_stream_split(tmp_path, dpv):
    """The two modern non-dictionary encodings: delta-packed ints
    (incl. negative deltas and nulls) and byte-plane-split floats."""
    import random
    from pr2_transformation_spark.sources.parquet_data import (
        decode_delta_binary_packed,
    )

    rng = random.Random(17)
    n = 9000
    t = pa.table({
        "i": pa.array([rng.randint(-10**12, 10**12) for _ in range(n)],
                      pa.int64()),
        "i32": pa.array([rng.randint(-10**6, 10**6)
                         if rng.random() > .1 else None
                         for _ in range(n)], pa.int32()),
        "f": pa.array([rng.gauss(0, 1) for _ in range(n)], pa.float64()),
    })
    path = str(tmp_path / "enc.parquet")
    pq.write_table(t, path, use_dictionary=False, compression="zstd",
                   row_group_size=2500, data_page_version=dpv,
                   column_encoding={"i": "DELTA_BINARY_PACKED",
                                    "i32": "DELTA_BINARY_PACKED",
                                    "f": "BYTE_STREAM_SPLIT"})
    names, cols = read_parquet(path)
    assert cols["i"] == t.column("i").to_pylist()
    assert cols["i32"] == t.column("i32").to_pylist()
    assert cols["f"] == t.column("f").to_pylist()


def test_lz4_frame_compress_conformance_against_liblz4():
    """lz4_frame_compress pinned BOTH directions against pyarrow's
    bundled liblz4: our frames decode there, theirs decode here."""
    import random

    import pyarrow as pa

    from pr2_transformation_spark.sources.parquet_data import (
        lz4_frame_compress, lz4_frame_decompress)

    codec = pa.Codec("lz4")  # frame format
    rnd = random.Random(5)
    cases = [b"", b"x", b"abc" * 50000,
             bytes(rnd.randrange(256) for _ in range(100000)),
             open("/root/repo/SURVEY.md", "rb").read()]
    for raw in cases:
        frame = lz4_frame_compress(raw)
        assert lz4_frame_decompress(frame) == raw
        if raw:
            assert codec.decompress(
                frame, decompressed_size=len(raw)).to_pybytes() == raw
        assert lz4_frame_decompress(
            codec.compress(raw).to_pybytes()) == raw
        assert lz4_frame_compress(raw) == frame  # deterministic
    # multi-block path + stored-fallback for incompressible chunks
    big = bytes(rnd.randrange(256) for _ in range(150000))
    frame = lz4_frame_compress(big, block_max=1 << 16)
    assert lz4_frame_decompress(frame) == big
    assert codec.decompress(frame, decompressed_size=len(big)
                            ).to_pybytes() == big


_MALFORMED = [
    (codec, case)
    for codec in ("zstd", "snappy", "lz4_block", "lz4_frame")
    for case in ("empty", "cut_1", "cut_5", "cut_half", "cut_9", "cut_last",
                 "size_plus_1", "size_minus_1")
] + [("zstd", "checksum"), ("lz4_frame", "checksum"),
     ("lz4_frame", "header_checksum")]


@pytest.mark.parametrize("codec,case", _MALFORMED,
                         ids=[f"{c}-{k}" for c, k in _MALFORMED])
def test_malformed_input_raises_value_error(codec, case):
    """Every decoder rejects malformed input with ValueError — never
    IndexError, OSError or silently short output: empty input, input
    cut at several points, a flipped checksum byte, and a size off by
    one (``expected`` for zstd/LZ4, the varint preamble for snappy,
    whose signature carries no size)."""
    from pr2_transformation_spark.sources.parquet_data import (
        lz4_block_compress, lz4_frame_compress, lz4_frame_decompress,
        snappy_compress)
    from pr2_transformation_spark.sources.zstd import (
        zstd_compress, zstd_decompress)

    compress, decompress = {
        "zstd": (zstd_compress, zstd_decompress),
        "snappy": (snappy_compress, lambda b, n=None: snappy_decompress(b)),
        "lz4_block": (lz4_block_compress, lz4_block_decompress),
        "lz4_frame": (lz4_frame_compress, lz4_frame_decompress),
    }[codec]
    raw = b"".join(b"row %d: value-%d; " % (i, i % 7) for i in range(200))
    comp = compress(raw)
    assert decompress(comp, len(raw)) == raw
    expected = None
    if case == "empty":
        bad = b""
    elif case.startswith("cut_"):
        cut = {"1": 1, "5": 5, "half": len(comp) // 2, "9": len(comp) - 9,
               "last": len(comp) - 1}[case[4:]]
        bad = comp[:cut]
    elif case == "checksum":  # content checksum: the frame's last bytes
        bad = comp[:-1] + bytes([comp[-1] ^ 0xFF])
    elif case == "header_checksum":  # FLG, BD, 8-byte size, then HC
        bad = comp[:14] + bytes([comp[14] ^ 0xFF]) + comp[15:]
    else:
        delta = 1 if case == "size_plus_1" else -1
        if codec == "snappy":
            preamble = len(_varint(len(raw)))
            bad = _varint(len(raw) + delta) + comp[preamble:]
        else:
            bad, expected = comp, len(raw) + delta
    with pytest.raises(ValueError):
        decompress(bad, expected)


def _varint(n):
    out = bytearray()
    while True:
        b, n = n & 0x7F, n >> 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)
