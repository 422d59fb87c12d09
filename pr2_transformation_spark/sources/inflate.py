"""DEFLATE (RFC 1951) with the RFC 1950 zlib and RFC 1952 gzip wrappers.

Decoding goes through stdlib ``zlib`` (C speed) behind three names:
:func:`inflate` (raw stream -> payload and end offset, for containers
that frame DEFLATE themselves: ZIP members, ORC zlib chunks),
:func:`zlib_decompress` and :func:`gunzip` (multi-member, the .warc.gz
shape).  The wrapper headers, Adler-32, CRC32 and ISIZE are checked
here, and every decode failure — corrupt or truncated — raises
``ValueError`` (``zlib.error`` is mapped onto it), the corruption
contract callers such as ``zip_archive.zip_extract`` rely on.

Encoding goes through the same library: :func:`deflate_encode` (raw
stream), :func:`zlib_compress` and :func:`gzip_compress` are the one
DEFLATE writer the ZIP, ORC, Avro, parquet and WARC writers share.
"""

from __future__ import annotations

import gzip
import zlib


def inflate(buf: bytes, pos: int = 0) -> tuple[bytes, int]:
    """Raw DEFLATE stream starting at ``buf[pos]`` -> (payload, end
    position in buf).  Bytes after the final block are left unread, so
    ``end`` is where a container's trailer starts.  Corrupt or truncated
    streams raise ``ValueError``."""
    d = zlib.decompressobj(-15)
    try:
        out = d.decompress(memoryview(buf)[pos:])
    except zlib.error as e:
        raise ValueError(f"inflate: {e}") from None
    if not d.eof:
        # stdlib returns the partial output of a cut stream without error
        raise ValueError("inflate: truncated stream")
    return out, len(buf) - len(d.unused_data)


def zlib_decompress(buf: bytes) -> bytes:
    """RFC 1950 wrapper: CMF/FLG header + deflate + Adler-32."""
    if len(buf) < 2:
        raise ValueError("zlib: truncated header")
    cmf, flg = buf[0], buf[1]
    if cmf & 0x0F != 8:
        raise ValueError("zlib: method is not deflate")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("zlib: FCHECK failed")
    if flg & 0x20:
        raise ValueError("zlib: preset dictionaries unsupported")
    payload, end = inflate(buf, 2)
    stored = int.from_bytes(buf[end:end + 4], "big")
    if zlib.adler32(payload) != stored:
        raise ValueError("zlib: Adler-32 mismatch")
    return payload


def gunzip(buf: bytes) -> bytes:
    """RFC 1952 member(s): header (FLG-gated fields), deflate, CRC32 +
    ISIZE verified.  Concatenated members decode to the concatenation
    (the .warc.gz shape)."""
    out = bytearray()
    pos = 0
    while pos < len(buf):
        if len(buf) - pos < 10:
            raise ValueError("gzip: truncated header")
        if buf[pos:pos + 2] != b"\x1f\x8b":
            raise ValueError("gzip: bad magic")
        if buf[pos + 2] != 8:
            raise ValueError("gzip: method is not deflate")
        flg = buf[pos + 3]
        pos += 10
        if flg & 4:  # FEXTRA
            xlen = int.from_bytes(buf[pos:pos + 2], "little")
            pos += 2 + xlen
        if flg & 8:  # FNAME
            pos = buf.index(b"\x00", pos) + 1
        if flg & 16:  # FCOMMENT
            pos = buf.index(b"\x00", pos) + 1
        if flg & 2:  # FHCRC
            pos += 2
        payload, pos = inflate(buf, pos)
        if len(buf) - pos < 8:
            raise ValueError("gzip: truncated trailer")
        crc = int.from_bytes(buf[pos:pos + 4], "little")
        isize = int.from_bytes(buf[pos + 4:pos + 8], "little")
        pos += 8
        if zlib.crc32(payload) != crc:
            raise ValueError("gzip: CRC32 mismatch")
        if len(payload) % (1 << 32) != isize:
            raise ValueError("gzip: ISIZE mismatch")
        out += payload
    return bytes(out)


# ------------------------------------------------------------ encoders


def deflate_encode(raw: bytes) -> bytes:
    """Raw DEFLATE stream (no wrapper) at zlib's default level — the
    body ZIP members, ORC zlib chunks and Avro deflate blocks carry."""
    c = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
    return c.compress(raw) + c.flush()


def zlib_compress(raw: bytes) -> bytes:
    """RFC 1950 stream: CMF/FLG header, DEFLATE, Adler-32."""
    return zlib.compress(raw)


def gzip_compress(raw: bytes) -> bytes:
    """One RFC 1952 member with mtime 0, so equal inputs give equal
    bytes (the parquet GZIP codec, one ``.warc.gz`` record)."""
    return gzip.compress(raw, mtime=0)
