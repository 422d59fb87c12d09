"""Zstandard for the format layer, both directions through the libzstd
pyarrow bundles.

`zstd_decompress` is the one decoder the parquet, ORC, Avro and Arrow
IPC readers share.  libzstd skips skippable frames and verifies frame
content sizes and XXH64 content checksums; this module keeps the 4-byte
magic check and the caller's ``expected`` size, and any corrupt or cut
frame raises ``ValueError``.

`zstd_compress` is the one encoder their writers share: one libzstd
frame, with an optional content checksum.
"""

from __future__ import annotations

from .parquet_data import _native_decompress

ZSTD_MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50


def zstd_decompress(buf: bytes, expected: int | None = None) -> bytes:
    """Decode a complete zstd frame sequence (RFC 8878) with libzstd.

    Frames and skippable frames may follow one another; a truncated
    stream, a corrupt block, a content-size or content-checksum
    mismatch, or an output of other than ``expected`` bytes raises
    ``ValueError``."""
    magic = int.from_bytes(buf[:4], "little")
    if magic != ZSTD_MAGIC and not SKIPPABLE_LO <= magic <= SKIPPABLE_LO + 15:
        raise ValueError(f"zstd: bad magic {magic:#x}")
    out = _native_decompress("zstd", "zstd", buf)
    if expected is not None and len(out) != expected:
        raise ValueError(f"zstd: expected {expected} bytes, got {len(out)}")
    return out


def zstd_compress(raw: bytes, checksum: bool = True) -> bytes:
    """One libzstd frame (RFC 8878) holding ``raw``, with its content
    size in the header.  With ``checksum`` the header's
    Content_Checksum_flag is set and the low 32 bits of XXH64(raw) end
    the frame, which every decoder, libzstd included, verifies."""
    import pyarrow as pa

    frame = pa.Codec("zstd").compress(raw, asbytes=True)
    if not checksum:
        return frame
    from ..functions.xxhash import xxh64

    out = bytearray(frame)
    out[4] |= 1 << 2  # Frame_Header_Descriptor: Content_Checksum_flag
    out += (xxh64(raw) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)
