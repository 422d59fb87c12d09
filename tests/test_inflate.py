"""DEFLATE/zlib/gzip codec (sources/inflate.py): the decode names
against stdlib-produced streams across block types, levels and
container wrappers, the failure contract (every corrupt or truncated
stream raises ValueError), and the encoders, read back by stdlib zlib
and the in-repo decoders."""

from __future__ import annotations

import gzip
import random
import zlib

import pytest

from pr2_transformation_spark.sources.inflate import (
    gunzip,
    inflate,
    zlib_decompress,
)


@pytest.mark.parametrize("level", [0, 1, 6, 9])
@pytest.mark.parametrize("kind", ["random", "text", "ternary", "zeros"])
def test_inflate_matches_zlib(level, kind):
    """level 0 = stored blocks, 1 = mostly fixed Huffman, 6/9 = dynamic
    Huffman with long matches — all three block types covered."""
    rng = random.Random(hash((level, kind)) & 0xFFFF)
    for n in [0, 1, 100, 5000, 120000]:
        if kind == "random":
            raw = bytes(rng.randint(0, 255) for _ in range(n))
        elif kind == "text":
            raw = (b"deflate dynamic huffman " * (n // 24 + 1))[:n]
        elif kind == "ternary":
            raw = bytes(rng.choice(b"abc") for _ in range(n))
        else:
            raw = b"\x00" * n
        assert zlib_decompress(zlib.compress(raw, level)) == raw
        c = zlib.compressobj(level, wbits=-15)
        s = c.compress(raw) + c.flush()
        got, end = inflate(s)
        assert got == raw and end == len(s)


def test_gzip_wrappers_and_multimember():
    raw = b"gzip payload " * 500
    assert gunzip(gzip.compress(raw)) == raw
    members = gzip.compress(b"one") + gzip.compress(b"two")
    assert gunzip(members) == b"onetwo"
    # warc.gz members decode through the from-scratch path too
    from pr2_transformation_spark.sources import warc
    gz = warc.build_warc_gz([("response", "u", "id-0", b"payload")])
    assert gunzip(gz) == warc.build_warc([("response", "u", "id-0", b"payload")])


def test_corruption_trips():
    raw = b"check me " * 100
    z = bytearray(zlib.compress(raw))
    z[-2] ^= 0xFF
    with pytest.raises(ValueError, match="Adler"):
        zlib_decompress(bytes(z))
    g = bytearray(gzip.compress(raw))
    g[len(g) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        gunzip(bytes(g))


def test_truncated_streams_raise_value_error():
    """A cut stream is a decode failure, never partial output or an
    IndexError: raw deflate, zlib and gzip all raise ValueError at
    every cut point (inside the header, the blocks and the trailer)."""
    raw = b"truncate me " * 400 + bytes(range(256))
    c = zlib.compressobj(6, wbits=-15)
    cases = [
        (inflate, c.compress(raw) + c.flush()),
        (zlib_decompress, zlib.compress(raw)),
        (gunzip, gzip.compress(raw)),
        (gunzip, gzip.compress(b"one") + gzip.compress(raw)),
    ]
    for decode, full in cases:
        for cut in (1, 5, 11, len(full) // 2, len(full) - 5, len(full) - 1):
            with pytest.raises(ValueError):
                decode(full[:cut])


def test_corrupt_zip_member_and_orc_chunk_raise_value_error(tmp_path):
    """An invalid DEFLATE stream inside a container surfaces as the
    codec's ValueError, not ``zlib.error``: first byte 0xFF makes the
    first block's BTYPE the reserved value 3."""
    import io
    import struct
    import zipfile

    import pyarrow as pa
    import pyarrow.orc as po

    from pr2_transformation_spark.sources import orc
    from pr2_transformation_spark.sources.zip_archive import (
        zip_entries,
        zip_extract,
    )

    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("m.txt", b"zip member payload " * 200)
    buf = bytearray(bio.getvalue())
    entry = zip_entries(bytes(buf))[0]
    nlen, elen = struct.unpack_from("<HH", buf, entry["offset"] + 26)
    buf[entry["offset"] + 30 + nlen + elen] = 0xFF
    with pytest.raises(ValueError, match="inflate"):
        zip_extract(bytes(buf), entry)

    path = str(tmp_path / "z.orc")
    po.write_table(pa.table({"s": [f"orc row {i % 97} " * 3
                                   for i in range(3000)]}),
                   path, compression="ZLIB")
    buf = bytearray(open(path, "rb").read())
    footer, compression = orc._read_tail(bytes(buf))
    assert compression == "zlib"
    streams, _, _ = orc._stripe_layout(
        bytes(buf), orc._pb_decode(footer[3][0]), compression)
    # first compressed chunk (header bit 0 clear) of a stream the column
    # reader decodes: DATA / LENGTH / DICTIONARY_DATA of column 1
    spos = next(p for kind, col, p, n in streams
                if col == 1 and kind in (1, 2, 3) and n > 3
                and not buf[p] & 1)
    buf[spos + 3] = 0xFF
    with pytest.raises(ValueError, match="inflate"):
        orc.read_orc_bytes(bytes(buf))


def test_parquet_gzip_page_through_from_scratch_inflate(tmp_path):
    """A gzip parquet page body decodes identically via stdlib zlib and
    the repo's gunzip wrapper."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pr2_transformation_spark.sources import parquet_data as P
    from pr2_transformation_spark.sources.parquet_meta import read_footer

    path = str(tmp_path / "g.parquet")
    pq.write_table(pa.table({"v": list(range(4000))}), path,
                   compression="gzip", use_dictionary=False,
                   row_group_size=4000)
    footer = read_footer(path)
    chunk = footer["row_groups"][0]["columns"][0]
    buf = open(path, "rb").read()
    header, pos = P._read_page_header(buf, chunk["data_page_offset"])
    body = buf[pos:pos + header[3]]
    assert gunzip(body) == zlib.decompress(body, 16 + zlib.MAX_WBITS)


def test_property_random_roundtrips():
    """Hypothesis: arbitrary bytes at arbitrary levels round-trip through
    the from-scratch inflate/zlib/gzip paths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.binary(max_size=4000), st.integers(min_value=0, max_value=9))
    def roundtrip(raw, level):
        assert zlib_decompress(zlib.compress(raw, level)) == raw
        assert gunzip(gzip.compress(raw, compresslevel=level)) == raw

    roundtrip()


def test_deflate_encoder_both_directions():
    """deflate_encode / zlib_compress / gzip_compress are accepted by
    stdlib zlib AND the in-repo inflater, with real compression."""
    import random

    from pr2_transformation_spark.sources.inflate import (
        deflate_encode,
        gzip_compress,
        zlib_compress,
    )

    rng = random.Random(13)
    for trial in range(12):
        n = rng.randint(0, 50000)
        raw = ((b"encoder " * (n // 8 + 1))[:n] if trial % 2
               else bytes(rng.randint(0, 255) for _ in range(n)))
        assert zlib.decompress(deflate_encode(raw), -15) == raw
        assert inflate(deflate_encode(raw))[0] == raw
        assert zlib.decompress(zlib_compress(raw)) == raw
        assert gzip.decompress(gzip_compress(raw)) == raw
        assert zlib_decompress(zlib_compress(raw)) == raw
        assert gunzip(gzip_compress(raw)) == raw
    big = b"the quick brown fox " * 3000
    assert len(deflate_encode(big)) < len(big) // 20


def test_dynamic_huffman_encoder_conformance():
    """deflate_encode round-trips through stdlib zlib AND the repo's own
    inflater on empty, tiny, repetitive, incompressible, text,
    tiny-alphabet and skewed inputs, deterministically, and compresses
    skewed text."""
    import random
    import zlib
    from pathlib import Path

    from pr2_transformation_spark.sources.inflate import (
        deflate_encode, inflate)

    rnd = random.Random(7)
    cases = [
        b"",
        b"x",
        b"abcabcabc" * 5000,
        b"a" * 40000 + b"b" * 100 + bytes(range(256)),
        bytes(rnd.randrange(256) for _ in range(50000)),  # incompressible
        (Path(__file__).parents[1] / "SURVEY.md").read_bytes()[:100000],
        bytes(rnd.randrange(4) for _ in range(30000)),  # tiny alphabet
        # exponential byte skew: long dynamic-Huffman codes
        bytes(min(255, int(rnd.expovariate(0.03))) for _ in range(40000)),
    ]
    for raw in cases:
        enc = deflate_encode(raw)
        assert zlib.decompressobj(-15).decompress(enc) == raw
        assert inflate(enc)[0] == raw
        assert deflate_encode(raw) == enc  # deterministic
    text = cases[5]
    assert len(deflate_encode(text)) < 0.5 * len(text)
