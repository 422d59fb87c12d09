"""Zstandard (sources/zstd.py): `zstd_decompress` over libzstd-written
frames across content shapes, sizes and compression levels, skippable
frames and integrity rejects, the parquet integration, and the in-repo
compressor pinned against pyarrow's bundled libzstd."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pr2_transformation_spark.sources.parquet_data import read_parquet
from pr2_transformation_spark.sources.zstd import zstd_decompress


def _gen(rng, kind, n):
    if kind == "random":
        return bytes(rng.randint(0, 255) for _ in range(n))
    if kind == "binary_alphabet":
        return bytes(rng.choice(b"ab") for _ in range(n))
    if kind == "records":
        return b"".join(b"rec-%06d|field-%d|" % (i, i % 13)
                        for i in range(n // 20 + 1))[:n]
    if kind == "runs":
        return (b"X" * 1000 + bytes(rng.randint(0, 255)
                                    for _ in range(50))) * (n // 1050 + 1)
    return bytes(min(255, max(0, int(128 + 50 * (rng.random() - 0.5))))
                 for _ in range(n))


@pytest.mark.parametrize("level", [1, 3, 9, 19])
@pytest.mark.parametrize(
    "kind", ["random", "binary_alphabet", "records", "runs", "gaussian"])
def test_conformance_vs_libzstd(level, kind):
    """Every (level, shape) pair exercises a different mix of block
    types, literal modes (raw/RLE/huffman direct + FSE weights, 1- and
    4-stream) and sequence-table modes (predefined/RLE/FSE/repeat)."""
    rng = random.Random(hash((level, kind)) & 0xFFFF)
    codec = pa.Codec("zstd", compression_level=level)
    for n in [0, 10, 300, 5000, 70000, 400000]:
        raw = _gen(rng, kind, n)
        comp = codec.compress(raw, asbytes=True)
        assert zstd_decompress(comp, len(raw)) == raw


def test_multi_block_cross_block_matches():
    """> 128 KiB forces multiple blocks; matches reach back across block
    boundaries into the shared window."""
    raw = (b"the quick brown fox jumps over the lazy dog! " * 9000)
    comp = pa.Codec("zstd", compression_level=3).compress(raw, asbytes=True)
    assert zstd_decompress(comp, len(raw)) == raw


def test_frame_content_size_mismatch_rejected():
    raw = b"payload " * 50
    comp = bytearray(pa.compress(raw, codec="zstd", asbytes=True))
    with pytest.raises(ValueError):
        zstd_decompress(bytes(comp), len(raw) + 1)


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x01\x02\x03rest")


def test_skippable_frame_is_skipped():
    raw = b"real payload " * 20
    comp = pa.compress(raw, codec="zstd", asbytes=True)
    skippable = (0x184D2A50).to_bytes(4, "little") + (5).to_bytes(4, "little") + b"JUNK!"
    assert zstd_decompress(skippable + comp, len(raw)) == raw


def test_parquet_zstd_end_to_end(tmp_path):
    """The integration the decoder exists for: zstd parquet pages read
    by the from-scratch data plane, dictionary + nulls + both page
    versions."""
    t = pa.table({
        "k": list(range(6000)),
        "s": ["val-%d" % (i % 91) for i in range(6000)],
        "f": [None if i % 9 == 0 else i / 7 for i in range(6000)],
    })
    for dpv in ["1.0", "2.0"]:
        path = str(tmp_path / f"z{dpv}.parquet")
        pq.write_table(t, path, compression="zstd", row_group_size=1300,
                       data_page_version=dpv)
        names, cols = read_parquet(path)
        assert cols["k"] == t.column("k").to_pylist()
        assert [v.decode() for v in cols["s"]] == t.column("s").to_pylist()
        assert cols["f"] == t.column("f").to_pylist()


def test_xxh64_spark_conformance(spark):
    """functions/xxhash.py vs the JVM: Spark's xxhash64 expression is
    XXH64(bytes, seed 42)."""
    import random

    from pyspark.sql import functions as F

    from pr2_transformation_spark.functions.xxhash import xxh64

    rng = random.Random(3)
    blobs = [bytes(rng.randint(0, 255) for _ in range(n))
             for n in [0, 1, 3, 4, 7, 8, 15, 16, 31, 32, 33, 63, 100, 4096]]
    df = spark.createDataFrame(list(enumerate(blobs)), ["i", "b"])
    got = {r["i"]: r["h"] % (1 << 64)
           for r in df.select("i", F.xxhash64("b").alias("h")).collect()}
    assert got == {i: xxh64(b, 42) for i, b in enumerate(blobs)}


def test_content_checksum_verified():
    """A checksummed frame decodes; a corrupted checksum trips."""
    from pr2_transformation_spark.functions.xxhash import xxh64
    from pr2_transformation_spark.sources.zstd import zstd_compress

    raw = b"checksummed payload " * 40
    f = bytearray(zstd_compress(raw, checksum=True))
    assert f[4] & (1 << 2)  # content-checksum flag
    assert f[-4:] == (xxh64(raw) & 0xFFFFFFFF).to_bytes(4, "little")
    # libzstd accepts the frame too
    assert pa.decompress(bytes(f), decompressed_size=len(raw),
                         codec="zstd", asbytes=True) == raw
    assert zstd_decompress(bytes(f), len(raw)) == raw
    bad = bytearray(f)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad), len(raw))


def test_property_random_roundtrips():
    """Hypothesis: arbitrary bytes at arbitrary levels decode bit-exact
    against libzstd's compressor."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.binary(max_size=4000), st.sampled_from([1, 3, 9, 19]))
    def roundtrip(raw, level):
        comp = pa.Codec("zstd", compression_level=level).compress(
            raw, asbytes=True)
        assert zstd_decompress(comp, len(raw)) == raw

    roundtrip()


# ------------------------------------------------- compressor (round 7)


@pytest.mark.parametrize(
    "kind", ["random", "binary_alphabet", "records", "runs", "gaussian"])
@pytest.mark.parametrize("n", [0, 1, 17, 4095, 50_000, 300_000])
def test_compressor_conformance_vs_libzstd(kind, n):
    """zstd_compress output must decode byte-exact through libzstd (the
    INDEPENDENT reference — a shared encoder/decoder typo cannot pass
    this) and through the from-scratch decoder."""
    from pr2_transformation_spark.sources.zstd import zstd_compress

    rng = random.Random(hash((kind, n)) & 0xFFFF)
    raw = _gen(rng, kind, n)[:n]
    z = zstd_compress(raw)
    assert zstd_decompress(z) == raw
    got = pa.Codec("zstd").decompress(z, decompressed_size=len(raw))
    assert got.to_pybytes() == raw


def test_compressor_deterministic_and_compresses():
    from pr2_transformation_spark.sources.zstd import zstd_compress

    raw = open("/root/repo/SURVEY.md", "rb").read()
    z1 = zstd_compress(raw)
    z2 = zstd_compress(raw)
    assert z1 == z2  # no salted hashes anywhere
    assert len(z1) < len(raw) * 0.7  # real compression, not stored blocks


def test_compressor_checksum_flag_and_corruption():
    from pr2_transformation_spark.sources.zstd import zstd_compress

    raw = b"abcabcabcabc" * 100
    z = bytearray(zstd_compress(raw, checksum=True))
    z[-1] ^= 0xFF  # flip checksum byte
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(z))
    assert zstd_decompress(zstd_compress(raw, checksum=False)) == raw


def test_compressor_multiblock_cross_block_matches():
    """> 128 KB inputs split into several blocks; matches may reach back
    into earlier blocks (the window is the whole frame)."""
    from pr2_transformation_spark.sources.zstd import zstd_compress

    unit = b"the quick brown fox jumps over the lazy dog %d. "
    raw = b"".join(unit % (i % 97) for i in range(12_000))  # ~560 KB
    z = zstd_compress(raw)
    assert len(z) < len(raw) // 4
    assert zstd_decompress(z) == raw
    assert pa.Codec("zstd").decompress(
        z, decompressed_size=len(raw)).to_pybytes() == raw


def test_parquet_writer_zstd_codec_via_real_encoder(tmp_path):
    """parquet_write's zstd codec now routes through zstd_compress;
    pyarrow must read the file and see compressed pages."""
    from pr2_transformation_spark.sources.parquet_write import (
        write_parquet_bytes)

    rows = {"s": [f"value-{i % 50}-padding-padding" for i in range(2000)],
            "i": list(range(2000))}
    path = tmp_path / "z.parquet"
    data = write_parquet_bytes(
        [("s", "BYTE_ARRAY", rows["s"]), ("i", "INT64", rows["i"])],
        codec="zstd")
    path.write_bytes(data)
    t = pq.read_table(path)
    assert t.column("s").to_pylist() == rows["s"]
    assert t.column("i").to_pylist() == rows["i"]
    meta = pq.ParquetFile(path).metadata.row_group(0)
    assert meta.column(0).compression == "ZSTD"


def test_compressor_huffman_and_fse_weight_paths():
    """Force every literals form: RLE literals, direct-weight Huffman
    (small alphabet), FSE-weight Huffman (UTF-8ish > 128 symbols), and
    raw (incompressible) — each must decode through libzstd AND the
    from-scratch decoder."""
    from pr2_transformation_spark.sources.zstd import zstd_compress

    rng = random.Random(99)
    shapes = {
        "rle_lits": bytes([66] * 5000),
        "direct_weights": bytes(
            rng.choice(b"abcdefgh") for _ in range(8000)),
        "fse_weights": ("το ελληνικό κείμενο εδώ επαναλαμβάνεται "
                        "συχνά με σπάνιες λέξεις ").encode() * 300
        + bytes(rng.randrange(256) for _ in range(400)),
        "skewed": bytes((0 if rng.random() < 0.9
                         else rng.randrange(256)) for _ in range(20000)),
        "all_bytes": bytes(range(256)) * 50,
    }
    for name, raw in shapes.items():
        z = zstd_compress(raw)
        assert zstd_decompress(z) == raw, name
        got = pa.Codec("zstd").decompress(z, decompressed_size=len(raw))
        assert got.to_pybytes() == raw, name


def test_compressor_property_random_vs_libzstd():
    """Randomized shapes: alphabet size x length x skew sweep, every
    frame decoded by libzstd."""
    from pr2_transformation_spark.sources.zstd import zstd_compress

    rng = random.Random(1234)
    for trial in range(40):
        alpha = rng.choice([1, 2, 3, 17, 120, 200, 256])
        n = rng.choice([0, 1, 5, 63, 64, 1023, 1024, 5000, 20000])
        if rng.random() < 0.5:
            raw = bytes(rng.randrange(alpha) for _ in range(n))
        else:  # repetitive with noise
            unit = bytes(rng.randrange(alpha) for _ in range(17))
            raw = (unit * (n // 17 + 1))[:n]
        z = zstd_compress(raw)
        assert zstd_decompress(z) == raw, (trial, alpha, n)
        got = pa.Codec("zstd").decompress(z, decompressed_size=len(raw))
        assert got.to_pybytes() == raw, (trial, alpha, n)
