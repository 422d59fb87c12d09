"""From-scratch parquet WRITER — the write-side twin of
``parquet_meta`` (footer) and ``parquet_data`` (pages), round-6 VERDICT
item 3: Thrift Compact Protocol serialization, v1 data pages, PLAIN +
dictionary encodings, RLE/bit-packed definition levels, per-chunk
statistics, and page compression through the engine's one encoder per
codec (``parquet_data.snappy_compress``, ``inflate.gzip_compress``,
``zstd.zstd_compress``, ``parquet_data.lz4_block_compress``: stdlib
zlib and the C libraries pyarrow bundles).  The page, level and footer
layers need no parquet library.

Output is validated against INDEPENDENT readers (pyarrow, DuckDB,
Spark) as well as this repo's own reader; bytes are deterministic for a
given input (no timestamps, fixed created_by, no salted hashes).

Scale shape: this is the per-task serializer a distributed sink runs
inside ``mapInPandas`` — each task turns its partition's rows into one
file image (bytes), exactly how any engine's native writer is deployed.
Everything here is O(partition), state is per column chunk only.

Spec: https://github.com/apache/parquet-format (parquet.thrift,
Encodings.md) and the Thrift Compact Protocol spec.  Layout written:

    PAR1 [chunk: dict-page? data-page]... footer varint-free thrift
    <4-byte LE footer length> PAR1

Supported: flat OPTIONAL columns of BOOLEAN / INT32 / INT64 / FLOAT /
DOUBLE / BYTE_ARRAY(UTF8), one data page per column chunk per row
group, PLAIN or PLAIN_DICTIONARY values, RLE def levels; nested
one-level optional structs and 3-level Dremel LIST columns (RLE rep
levels) via :func:`write_parquet_nested_bytes`.  Deeper nesting stays
read-side only (``parquet_data`` decodes it); the seam raises loudly.
"""

from __future__ import annotations

import struct

from .inflate import gzip_compress
from .parquet_data import lz4_block_compress, snappy_compress
from .zstd import zstd_compress

# thrift compact type codes (write side)
_CT_TRUE, _CT_FALSE, _CT_BYTE, _CT_I16, _CT_I32, _CT_I64 = 1, 2, 3, 4, 5, 6
_CT_DOUBLE, _CT_BINARY, _CT_LIST, _CT_STRUCT = 7, 8, 9, 12

_PHYS = {"BOOLEAN": 0, "INT32": 1, "INT64": 2, "FLOAT": 4, "DOUBLE": 5,
         "BYTE_ARRAY": 6, "FIXED_LEN_BYTE_ARRAY": 7}
_CODECS = {"none": 0, "uncompressed": 0, "snappy": 1, "gzip": 2, "zstd": 6,
           "lz4_raw": 7}
_ENC_PLAIN, _ENC_PLAIN_DICT, _ENC_RLE = 0, 2, 3
_PAGE_DATA, _PAGE_DICT = 0, 2
_CONVERTED_UTF8 = 0


class _TWriter:
    """Thrift Compact Protocol serializer — just enough of the wire
    format (varints, zigzag, field-id deltas, nested structs, lists)
    to emit parquet's PageHeader and FileMetaData."""

    def __init__(self):
        self.out = bytearray()
        self._last_fid = [0]

    # -- primitives ---------------------------------------------------
    def varint(self, v: int) -> None:
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.out.append(b | 0x80)
            else:
                self.out.append(b)
                return

    def zigzag(self, v: int) -> None:
        self.varint((v << 1) ^ (v >> 63) if v < 0 else v << 1)

    # -- fields -------------------------------------------------------
    def _field_header(self, fid: int, ctype: int) -> None:
        delta = fid - self._last_fid[-1]
        if 0 < delta < 16:
            self.out.append((delta << 4) | ctype)
        else:
            self.out.append(ctype)
            z = (fid << 1) ^ (fid >> 15) if fid < 0 else fid << 1
            self.varint(z)
        self._last_fid[-1] = fid

    def field_bool(self, fid: int, v: bool) -> None:
        self._field_header(fid, _CT_TRUE if v else _CT_FALSE)

    def field_i32(self, fid: int, v: int) -> None:
        self._field_header(fid, _CT_I32)
        self.zigzag(v)

    def field_i64(self, fid: int, v: int) -> None:
        self._field_header(fid, _CT_I64)
        self.zigzag(v)

    def field_binary(self, fid: int, v: bytes) -> None:
        self._field_header(fid, _CT_BINARY)
        self.varint(len(v))
        self.out += v

    def field_string(self, fid: int, v: str) -> None:
        self.field_binary(fid, v.encode("utf-8"))

    def begin_struct(self, fid: int) -> None:
        self._field_header(fid, _CT_STRUCT)
        self._last_fid.append(0)

    def end_struct(self) -> None:
        self.out.append(0)  # STOP
        self._last_fid.pop()

    def begin_list(self, fid: int, etype: int, size: int) -> None:
        self._field_header(fid, _CT_LIST)
        if size < 15:
            self.out.append((size << 4) | etype)
        else:
            self.out.append(0xF0 | etype)
            self.varint(size)

    def stop(self) -> bytes:
        self.out.append(0)
        return bytes(self.out)


def rle_bp_encode(vals: list[int], bit_width: int) -> bytes:
    """Parquet's RLE/bit-packed hybrid ENCODER (Encodings.md twin of
    ``parquet_data.rle_bp_hybrid``): runs of >= 8 identical values
    become RLE runs (varint(run << 1) + fixed-width LE value); the rest
    packs LSB-first in groups of 8 under a varint((groups << 1) | 1)
    header.  Greedy and deterministic."""
    out = bytearray()
    vbytes = (bit_width + 7) // 8
    n = len(vals)

    def put_varint(v: int) -> None:
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    def flush_packed(buf: list[int], *, final: bool) -> None:
        # Padding to a multiple of 8 is only legal at END-OF-CHUNK (the
        # decoder truncates to the total value count); a mid-stream pad
        # would inject phantom level values and shift every later one.
        if not buf:
            return
        if final:
            while len(buf) % 8:
                buf.append(0)
        assert len(buf) % 8 == 0
        groups = len(buf) // 8
        put_varint((groups << 1) | 1)
        acc = 0
        for i, v in enumerate(buf):
            acc |= (v & ((1 << bit_width) - 1)) << (i * bit_width)
        out.extend(acc.to_bytes(groups * bit_width, "little"))
        buf.clear()

    i = 0
    packed: list[int] = []
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        run = j - i
        v = vals[i]
        # top the bit-pack buffer up to an 8-boundary before an RLE run
        # can start; short runs just join the buffer
        pad = (-len(packed)) % 8
        if run >= 8 + pad:
            if pad:
                packed.extend([v] * pad)
                run -= pad
            flush_packed(packed, final=False)
            put_varint(run << 1)
            out += (v & ((1 << max(bit_width, 1)) - 1)).to_bytes(
                vbytes, "little")
        else:
            packed.extend([v] * run)
        i = j
    flush_packed(packed, final=True)
    return bytes(out)


import re as _re

_DECIMAL_RE = _re.compile(r"DECIMAL\((\d+),\s*(\d+)\)")


def _decimal_width(precision: int) -> int:
    """Smallest byte width whose signed range covers 10^precision - 1."""
    w = 1
    while (1 << (8 * w - 1)) <= 10 ** precision:
        w += 1
    return w


def _decimal_to_flba(value, scale: int, width: int) -> bytes:
    """One decimal value -> big-endian two's complement unscaled int of
    the fixed width (LogicalTypes.md DECIMAL on FLBA)."""
    import decimal

    d = value if isinstance(value, decimal.Decimal) \
        else decimal.Decimal(str(value))
    unscaled = int(d.scaleb(scale).to_integral_value(
        rounding=decimal.ROUND_HALF_UP))
    return unscaled.to_bytes(width, "big", signed=True)


def _plain_encode(vals: list, ptype: str) -> bytes:
    """PLAIN encoding of non-null values (Encodings.md)."""
    if ptype == "INT32":
        return struct.pack(f"<{len(vals)}i", *[int(v) for v in vals])
    if ptype == "INT64":
        return struct.pack(f"<{len(vals)}q", *[int(v) for v in vals])
    if ptype == "FLOAT":
        return struct.pack(f"<{len(vals)}f", *[float(v) for v in vals])
    if ptype == "DOUBLE":
        return struct.pack(f"<{len(vals)}d", *[float(v) for v in vals])
    if ptype == "BOOLEAN":
        out = bytearray((len(vals) + 7) // 8)
        for i, v in enumerate(vals):
            if v:
                out[i // 8] |= 1 << (i % 8)
        return bytes(out)
    if ptype == "BYTE_ARRAY":
        out = bytearray()
        for v in vals:
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            out += len(b).to_bytes(4, "little") + b
        return bytes(out)
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        widths = {len(v) for v in vals}
        if len(widths) > 1:
            raise ValueError(f"FLBA values differ in width: {widths}")
        return b"".join(bytes(v) for v in vals)
    raise NotImplementedError(
        f"physical type {ptype!r} is outside this writer seam "
        f"(supported: {sorted(_PHYS)})")


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_varint(v: int) -> bytes:
    return _uvarint((v << 1) ^ (v >> 63) if v < 0 else v << 1)


def delta_binary_packed_encode(vals: "list[int]") -> bytes:
    """DELTA_BINARY_PACKED ENCODER (Encodings.md twin of
    ``parquet_data.decode_delta_binary_packed``): blocks of 128 deltas
    in 4 miniblocks of 32, per-block zigzag min-delta, per-miniblock
    bit widths, LSB-first packing; trailing empty miniblocks carry
    width 0 and no bytes."""
    out = bytearray()
    block, n_mini, per_mini = 128, 4, 32
    out += _uvarint(block) + _uvarint(n_mini) + _uvarint(len(vals))
    if not vals:
        out += _zigzag_varint(0)
        return bytes(out)
    out += _zigzag_varint(vals[0])
    deltas = [b - a for a, b in zip(vals, vals[1:])]
    for bstart in range(0, len(deltas), block):
        chunk = deltas[bstart:bstart + block]
        mind = min(chunk)
        out += _zigzag_varint(mind)
        adj = [d - mind for d in chunk]
        widths = []
        bodies = []
        for m in range(n_mini):
            part = adj[m * per_mini:(m + 1) * per_mini]
            if not part:
                widths.append(0)
                bodies.append(b"")
                continue
            bw = max(v.bit_length() for v in part) if any(part) else 0
            widths.append(bw)
            if bw == 0:
                bodies.append(b"")
                continue
            part = part + [0] * (per_mini - len(part))
            acc = 0
            for i, v in enumerate(part):
                acc |= v << (i * bw)
            bodies.append(acc.to_bytes(per_mini * bw // 8, "little"))
        out += bytes(widths)
        for b in bodies:
            out += b
    return bytes(out)


def byte_stream_split_encode(raw_plain: bytes, width: int) -> bytes:
    """BYTE_STREAM_SPLIT ENCODER: scatter each value's byte i into
    plane i (the decoder's exact inverse)."""
    count = len(raw_plain) // width
    return bytes(raw_plain[j * width + i]
                 for i in range(width) for j in range(count))


def _as_bytes(v) -> bytes:
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def delta_length_byte_array_encode(vals: list) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY ENCODER (Encodings.md twin of
    ``parquet_data.decode_delta_length_byte_array``): one
    DELTA_BINARY_PACKED run of lengths, then the value bytes
    concatenated."""
    bs = [_as_bytes(v) for v in vals]
    return delta_binary_packed_encode([len(b) for b in bs]) + b"".join(bs)


def delta_byte_array_encode(vals: list) -> bytes:
    """DELTA_BYTE_ARRAY ENCODER (front coding): shared-prefix lengths
    as DELTA_BINARY_PACKED, suffixes as DELTA_LENGTH_BYTE_ARRAY — the
    encoding parquet-java emits for strings on dictionary fallback."""
    prefixes: list[int] = []
    suffixes: list[bytes] = []
    prev = b""
    for v in vals:
        b = _as_bytes(v)
        pl, limit = 0, min(len(prev), len(b))
        while pl < limit and prev[pl] == b[pl]:
            pl += 1
        prefixes.append(pl)
        suffixes.append(b[pl:])
        prev = b
    return (delta_binary_packed_encode(prefixes)
            + delta_length_byte_array_encode(suffixes))


def _stat_bytes(v, ptype: str) -> bytes:
    """A single value's statistics encoding (plain value bytes; BYTE_ARRAY
    stats carry the bytes WITHOUT the length prefix)."""
    if ptype == "BYTE_ARRAY":
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)
    if ptype == "BOOLEAN":
        return b"\x01" if v else b"\x00"
    return _plain_encode([v], ptype)


def _compress(raw: bytes, codec: str) -> bytes:
    if codec in ("none", "uncompressed"):
        return raw
    if codec == "snappy":
        return snappy_compress(raw)
    if codec == "gzip":
        return gzip_compress(raw)
    if codec == "zstd":
        return zstd_compress(raw)
    if codec == "lz4_raw":
        return lz4_block_compress(raw)
    raise NotImplementedError(
        f"codec {codec!r} is outside this writer seam "
        f"(supported: {sorted(_CODECS)})")


def _page_header_v2(unc: int, comp: int, *, num_values: int,
                    num_nulls: int, num_rows: int, encoding: int,
                    dl_len: int, rl_len: int, is_compressed: bool,
                    stats: "tuple | None" = None) -> bytes:
    """PageHeader for a DATA_PAGE_V2 (type 3): levels live OUTSIDE the
    compressed region and their byte lengths ride the header."""
    w = _TWriter()
    w.field_i32(1, 3)  # DATA_PAGE_V2
    w.field_i32(2, unc)
    w.field_i32(3, comp)
    w.begin_struct(8)  # DataPageHeaderV2
    w.field_i32(1, num_values)
    w.field_i32(2, num_nulls)
    w.field_i32(3, num_rows)
    w.field_i32(4, encoding)
    w.field_i32(5, dl_len)
    w.field_i32(6, rl_len)
    w.field_bool(7, is_compressed)
    if stats is not None:
        null_count, mn, mx, ptype = stats
        w.begin_struct(8)  # Statistics
        w.field_i64(3, null_count)
        if mn is not None:
            w.field_binary(5, _stat_bytes(mx, ptype))
            w.field_binary(6, _stat_bytes(mn, ptype))
        w.end_struct()
    w.end_struct()
    return w.stop()


def _page_header(page_type: int, unc: int, comp: int, *,
                 num_values: int, encoding: int,
                 stats: "tuple | None" = None) -> bytes:
    w = _TWriter()
    w.field_i32(1, page_type)
    w.field_i32(2, unc)
    w.field_i32(3, comp)
    if page_type == _PAGE_DATA:
        w.begin_struct(5)  # DataPageHeader
        w.field_i32(1, num_values)
        w.field_i32(2, encoding)
        w.field_i32(3, _ENC_RLE)  # definition levels
        w.field_i32(4, _ENC_RLE)  # repetition levels (none written)
        if stats is not None:
            null_count, mn, mx, ptype = stats
            w.begin_struct(5)  # Statistics
            w.field_i64(3, null_count)
            if mn is not None:
                w.field_binary(5, _stat_bytes(mx, ptype))  # max_value
                w.field_binary(6, _stat_bytes(mn, ptype))  # min_value
            w.end_struct()
        w.end_struct()
    else:  # dictionary page
        w.begin_struct(7)  # DictionaryPageHeader
        w.field_i32(1, num_values)
        w.field_i32(2, _ENC_PLAIN_DICT)
        w.end_struct()
    return w.stop()


def _write_chunk(body_out: bytearray, name: str, ptype: str, vals: list,
                 codec: str, use_dictionary: bool,
                 encoding_override: "str | None" = None,
                 pre_levels: "tuple | None" = None,
                 page_rows: "int | None" = None,
                 page_version: int = 1) -> dict:
    """Serialize one column chunk (dict page? + one v1 data page) into
    ``body_out``; returns the ColumnMetaData ingredients.
    ``encoding_override``: "delta" (DELTA_BINARY_PACKED, INT32/INT64)
    or "byte_stream_split" (FLOAT/DOUBLE) replaces PLAIN/dictionary.
    ``pre_levels``: (def_levels, max_def) for NESTED columns — vals
    must then hold only the defined (max-level) values — or
    (def_levels, max_def, rep_levels, max_rep) for REPEATED (LIST)
    columns, where the v1 data page carries RLE rep levels before the
    def levels per the spec."""
    reps = b""
    if pre_levels is not None:
        def_levels, max_def = pre_levels[0], pre_levels[1]
        nvals = len(def_levels)
        nonnull = list(vals)
        null_count = nvals - len(nonnull)
        bw = max(1, (max_def).bit_length())
        defs = rle_bp_encode(def_levels, bw)
        if len(pre_levels) == 4:
            rep_levels, max_rep = pre_levels[2], pre_levels[3]
            bw_r = max(1, (max_rep).bit_length())
            reps = rle_bp_encode(rep_levels, bw_r)
    else:
        nvals = len(vals)
        nonnull = [v for v in vals if v is not None]
        null_count = nvals - len(nonnull)
        defs = rle_bp_encode([0 if v is None else 1 for v in vals], 1)

    # min/max (None when no non-null values); BYTE_ARRAY compares as
    # unsigned bytes per the UTF8 logical order
    if nonnull and ptype != "FIXED_LEN_BYTE_ARRAY":
        # FLBA (decimal) bytes don't sort like their values (two's
        # complement big-endian); omit stats rather than emit wrong ones
        if ptype == "BYTE_ARRAY":
            keyed = [v.encode("utf-8") if isinstance(v, str) else bytes(v)
                     for v in nonnull]
            mn, mx = min(keyed), max(keyed)
        else:
            mn, mx = min(nonnull), max(nonnull)
    else:
        mn = mx = None

    distinct = list(dict.fromkeys(nonnull))
    dict_offset = None
    encodings = [_ENC_RLE, _ENC_PLAIN]
    start_offset = None
    total_unc = 0
    total_comp = 0

    # BOOLEAN never dictionary-encodes (PLAIN is already 1 bit/value and
    # mainstream readers reject bool dictionaries)
    if encoding_override == "delta":
        if ptype not in ("INT32", "INT64"):
            raise NotImplementedError(
                f"delta encoding needs INT32/INT64, got {ptype}")
        use_dictionary = False
    elif encoding_override == "byte_stream_split":
        if ptype not in ("FLOAT", "DOUBLE"):
            raise NotImplementedError(
                f"byte_stream_split needs FLOAT/DOUBLE, got {ptype}")
        use_dictionary = False
    elif encoding_override in ("delta_byte_array",
                               "delta_length_byte_array"):
        if ptype != "BYTE_ARRAY":
            raise NotImplementedError(
                f"{encoding_override} needs BYTE_ARRAY, got {ptype}")
        use_dictionary = False
    elif encoding_override is not None:
        raise NotImplementedError(
            f"encoding override {encoding_override!r} "
            f"(delta / byte_stream_split / delta_byte_array / "
            f"delta_length_byte_array)")
    use_dict = (use_dictionary and ptype != "BOOLEAN" and nonnull
                and len(distinct) <= 0xFFFF
                and len(distinct) * 2 <= len(nonnull))
    idx = None
    if use_dict:
        # the dictionary covers the WHOLE chunk (all pages share it)
        idx = {v: i for i, v in enumerate(distinct)}
        raw_dict = _plain_encode(distinct, ptype)
        comp_dict = _compress(raw_dict, codec)
        header = _page_header(_PAGE_DICT, len(raw_dict), len(comp_dict),
                              num_values=len(distinct),
                              encoding=_ENC_PLAIN_DICT)
        dict_offset = len(body_out)
        start_offset = dict_offset
        body_out += header + comp_dict
        total_unc += len(header) + len(raw_dict)
        total_comp += len(header) + len(comp_dict)
        encodings = [_ENC_RLE, _ENC_PLAIN, _ENC_PLAIN_DICT]
    elif encoding_override == "delta":
        encodings = [_ENC_RLE, 5]
    elif encoding_override == "byte_stream_split":
        encodings = [_ENC_RLE, 9]
    elif encoding_override == "delta_length_byte_array":
        encodings = [_ENC_RLE, 6]
    elif encoding_override == "delta_byte_array":
        encodings = [_ENC_RLE, 7]

    # page split: flat columns only (nested chunks stay one page —
    # row boundaries inside rep/def streams need record-aware cuts)
    if page_rows is not None and pre_levels is None and nvals:
        slices = [(lo, vals[lo:lo + page_rows])
                  for lo in range(0, nvals, page_rows)]
    else:
        slices = [(0, vals)]

    data_offset = None
    pages = []  # per data page: index ingredients
    for first_row, svals in slices:
        if pre_levels is not None:
            p_defs, p_nvals = defs, nvals
            p_nonnull, p_null_count = nonnull, null_count
            p_mn, p_mx = mn, mx
        else:
            p_nvals = len(svals)
            p_nonnull = [v for v in svals if v is not None]
            p_null_count = p_nvals - len(p_nonnull)
            p_defs = rle_bp_encode(
                [0 if v is None else 1 for v in svals], 1)
            if p_nonnull and ptype != "FIXED_LEN_BYTE_ARRAY":
                if ptype == "BYTE_ARRAY":
                    keyed = [v.encode("utf-8") if isinstance(v, str)
                             else bytes(v) for v in p_nonnull]
                    p_mn, p_mx = min(keyed), max(keyed)
                else:
                    p_mn, p_mx = min(p_nonnull), max(p_nonnull)
            else:
                p_mn = p_mx = None

        if use_dict:
            bw = max(1, (len(distinct) - 1).bit_length())
            payload = bytes([bw]) + rle_bp_encode(
                [idx[v] for v in p_nonnull], bw)
            encoding = _ENC_PLAIN_DICT
        elif encoding_override == "delta":
            payload = delta_binary_packed_encode(
                [int(v) for v in p_nonnull])
            encoding = 5  # DELTA_BINARY_PACKED
        elif encoding_override == "byte_stream_split":
            width = 4 if ptype == "FLOAT" else 8
            payload = byte_stream_split_encode(
                _plain_encode(p_nonnull, ptype), width)
            encoding = 9  # BYTE_STREAM_SPLIT
        elif encoding_override == "delta_length_byte_array":
            payload = delta_length_byte_array_encode(p_nonnull)
            encoding = 6  # DELTA_LENGTH_BYTE_ARRAY
        elif encoding_override == "delta_byte_array":
            payload = delta_byte_array_encode(p_nonnull)
            encoding = 7  # DELTA_BYTE_ARRAY
        else:
            payload = _plain_encode(p_nonnull, ptype)
            encoding = _ENC_PLAIN

        if page_version == 2:
            # v2: levels sit OUTSIDE the compressed region, raw RLE
            # runs with NO 4-byte prefix; only values compress
            if pre_levels is not None:
                raise NotImplementedError(
                    "DataPageV2 write is flat-column only")
            comp_vals = _compress(payload, codec)
            is_comp = codec not in ("none", "uncompressed")
            raw_page = p_defs + payload  # what "uncompressed" measures
            comp_page = p_defs + (comp_vals if is_comp else payload)
            header = _page_header_v2(
                len(raw_page), len(comp_page),
                num_values=p_nvals, num_nulls=p_null_count,
                num_rows=p_nvals, encoding=encoding,
                dl_len=len(p_defs), rl_len=0, is_compressed=is_comp,
                stats=(p_null_count, p_mn, p_mx, ptype))
        else:
            raw_page = len(p_defs).to_bytes(4, "little") + p_defs + payload
            if reps:  # repeated column: rep levels precede def levels
                raw_page = len(reps).to_bytes(4, "little") + reps + raw_page
            comp_page = _compress(raw_page, codec)
            header = _page_header(
                _PAGE_DATA, len(raw_page), len(comp_page),
                num_values=p_nvals, encoding=encoding,
                stats=(p_null_count, p_mn, p_mx, ptype))
        page_offset = len(body_out)
        if data_offset is None:
            data_offset = page_offset
        if start_offset is None:
            start_offset = page_offset
        body_out += header + comp_page
        total_unc += len(header) + len(raw_page)
        total_comp += len(header) + len(comp_page)
        pages.append({
            "offset": page_offset,
            "compressed_page_size": len(header) + len(comp_page),
            "first_row_index": first_row,
            "null_count": p_null_count,
            "min": p_mn, "max": p_mx,
            "null_page": p_mn is None,
            "num_values": p_nvals,
        })

    return {
        "name": name, "ptype": ptype, "encodings": encodings,
        "num_values": nvals, "null_count": null_count,
        "min": mn, "max": mx,
        "data_page_offset": data_offset,
        "dictionary_page_offset": dict_offset,
        "start_offset": start_offset,
        "total_uncompressed_size": total_unc,
        "total_compressed_size": total_comp,
        "pages": pages,
    }


def _column_index_bytes(c: dict) -> bytes:
    """One chunk's ColumnIndex (parquet.thrift): per-page null flags,
    min/max stat bytes (empty for null pages), boundary order derived
    from the page mins/maxes, and null counts."""
    pages, ptype = c["pages"], c["ptype"]
    mins = [b"" if p["null_page"] else _stat_bytes(p["min"], ptype)
            for p in pages]
    maxs = [b"" if p["null_page"] else _stat_bytes(p["max"], ptype)
            for p in pages]
    live = [(p["min"], p["max"]) for p in pages if not p["null_page"]]
    if all(a[1] <= b[0] for a, b in zip(live, live[1:])):
        boundary = 1  # ASCENDING
    elif all(a[0] >= b[1] for a, b in zip(live, live[1:])):
        boundary = 2  # DESCENDING
    else:
        boundary = 0  # UNORDERED
    w = _TWriter()
    w.begin_list(1, _CT_TRUE, len(pages))
    for p in pages:  # compact bool LIST elements: one byte, 1=T 2=F
        w.out.append(1 if p["null_page"] else 2)
    w.begin_list(2, _CT_BINARY, len(mins))
    for b in mins:
        w.varint(len(b))
        w.out += b
    w.begin_list(3, _CT_BINARY, len(maxs))
    for b in maxs:
        w.varint(len(b))
        w.out += b
    w.field_i32(4, boundary)
    w.begin_list(5, _CT_I64, len(pages))
    for p in pages:
        w.zigzag(p["null_count"])
    return w.stop()


def _offset_index_bytes(c: dict) -> bytes:
    """One chunk's OffsetIndex: PageLocation(offset, compressed size
    incl. header, first row index) per data page."""
    w = _TWriter()
    w.begin_list(1, _CT_STRUCT, len(c["pages"]))
    for p in c["pages"]:
        w._last_fid.append(0)
        w.field_i64(1, p["offset"])
        w.field_i32(2, p["compressed_page_size"])
        w.field_i64(3, p["first_row_index"])
        w.out.append(0)  # STOP
        w._last_fid.pop()
    return w.stop()


def write_parquet_bytes(
    columns: "list[tuple[str, str, list]]",
    codec: str = "snappy",
    row_group_rows: "int | None" = None,
    use_dictionary: bool = True,
    created_by: str = "pr2-transformation-spark parquet_write",
    column_encodings: "dict | None" = None,
    page_rows: "int | None" = None,
    page_index: bool = False,
    bloom_filters: "dict | None" = None,
    data_page_version: int = 1,
) -> bytes:
    """Serialize ``[(name, physical_type, values)...]`` (equal-length
    value lists, ``None`` = NULL, every column OPTIONAL) into a complete
    parquet file image.  ``row_group_rows`` splits rows into multiple
    row groups (default: one); ``page_rows`` splits each column chunk
    into multiple v1 data pages; ``page_index=True`` additionally
    serializes the PageIndex (one ColumnIndex + OffsetIndex per chunk,
    written between the last data page and the footer per
    parquet-format PageIndex.md) and wires ColumnChunk fields 4-7 so
    index-aware readers (this repo's ``parquet_data``, parquet-cpp) can
    prune pages without touching page headers.  ``bloom_filters`` maps
    column name -> numBytes (or ``None`` for parquet-java's fpp=0.01
    sizing from the chunk's distinct count): each chunk gets a
    split-block Bloom filter (``parquet_bloom``) written after the data
    and located by ColumnMetaData fields 14/15."""
    if not columns:
        raise ValueError("need at least one column")
    if codec not in _CODECS:
        raise NotImplementedError(
            f"codec {codec!r} is outside this writer seam "
            f"(supported: {sorted(_CODECS)})")
    # DECIMAL(p,s) pseudo-type: values encode as FIXED_LEN_BYTE_ARRAY
    # big-endian two's complement unscaled ints (LogicalTypes.md); the
    # schema element carries type_length + converted DECIMAL + scale +
    # precision so pyarrow/DuckDB/Spark read them as decimals
    decimals: dict[str, tuple[int, int, int]] = {}
    norm_columns = []
    for name, ptype, vals in columns:
        m = _DECIMAL_RE.fullmatch(ptype) if isinstance(ptype, str) else None
        if m:
            prec, scale = int(m.group(1)), int(m.group(2))
            width = _decimal_width(prec)
            decimals[name] = (prec, scale, width)
            vals = [None if v is None
                    else _decimal_to_flba(v, scale, width) for v in vals]
            ptype = "FIXED_LEN_BYTE_ARRAY"
        norm_columns.append((name, ptype, vals))
    columns = norm_columns
    nrows = len(columns[0][2])
    for name, ptype, vals in columns:
        if ptype not in _PHYS:
            raise NotImplementedError(
                f"physical type {ptype!r} is outside this writer seam "
                f"(supported: {sorted(_PHYS)})")
        if len(vals) != nrows:
            raise ValueError(f"column {name!r} length {len(vals)} != {nrows}")

    step = row_group_rows or max(nrows, 1)
    body = bytearray(b"PAR1")
    groups = []
    for lo in range(0, max(nrows, 1), step):
        rows_here = min(step, nrows - lo) if nrows else 0
        chunks = []
        for name, ptype, vals in columns:
            chunks.append(_write_chunk(
                body, name, ptype, vals[lo:lo + rows_here], codec,
                use_dictionary,
                (column_encodings or {}).get(name),
                page_rows=page_rows, page_version=data_page_version))
        groups.append((rows_here, chunks))

    if bloom_filters:
        from .parquet_bloom import bloom_filter_bytes
        col_vals = {name: vals for name, _, vals in columns}
        col_type = {name: ptype for name, ptype, _ in columns}
        for unknown in set(bloom_filters) - set(col_vals):
            raise ValueError(f"bloom_filters: no column {unknown!r}")
        for gi, (rows_here, chunks) in enumerate(groups):
            lo = gi * step
            for c in chunks:
                if c["name"] not in bloom_filters:
                    continue
                off = len(body)
                body += bloom_filter_bytes(
                    col_vals[c["name"]][lo:lo + rows_here],
                    col_type[c["name"]],
                    num_bytes=bloom_filters[c["name"]])
                c["bloom_filter_offset"] = off
                c["bloom_filter_length"] = len(body) - off

    if page_index:
        # PageIndex layout: all ColumnIndex structs first, then all
        # OffsetIndex structs, both between data and footer
        for _, chunks in groups:
            for c in chunks:
                off = len(body)
                body += _column_index_bytes(c)
                c["column_index_offset"] = off
                c["column_index_length"] = len(body) - off
        for _, chunks in groups:
            for c in chunks:
                off = len(body)
                body += _offset_index_bytes(c)
                c["offset_index_offset"] = off
                c["offset_index_length"] = len(body) - off

    # FileMetaData
    w = _TWriter()
    w.field_i32(1, 1)  # version
    w.begin_list(2, _CT_STRUCT, len(columns) + 1)
    # root SchemaElement: name + num_children only
    w._last_fid.append(0)
    w.field_string(4, "schema")
    w.field_i32(5, len(columns))
    w.out.append(0)
    w._last_fid.pop()
    for name, ptype, _ in columns:
        w._last_fid.append(0)
        w.field_i32(1, _PHYS[ptype])
        if name in decimals:
            w.field_i32(2, decimals[name][2])   # type_length
        w.field_i32(3, 1)  # OPTIONAL
        w.field_string(4, name)
        if ptype == "BYTE_ARRAY":
            w.field_i32(6, _CONVERTED_UTF8)
        elif name in decimals:
            prec, scale, _w = decimals[name]
            w.field_i32(6, 5)                   # converted DECIMAL
            w.field_i32(7, scale)
            w.field_i32(8, prec)
        w.out.append(0)
        w._last_fid.pop()
    w.field_i64(3, nrows)
    w.begin_list(4, _CT_STRUCT, len(groups))
    for rows_here, chunks in groups:
        w._last_fid.append(0)  # RowGroup
        w.begin_list(1, _CT_STRUCT, len(chunks))
        for c in chunks:
            w._last_fid.append(0)  # ColumnChunk
            w.field_i64(2, c["start_offset"])  # file_offset
            if "offset_index_offset" in c:
                w.field_i64(4, c["offset_index_offset"])
                w.field_i32(5, c["offset_index_length"])
                w.field_i64(6, c["column_index_offset"])
                w.field_i32(7, c["column_index_length"])
            w.begin_struct(3)  # ColumnMetaData
            w.field_i32(1, _PHYS[c["ptype"]])
            w.begin_list(2, _CT_I32, len(c["encodings"]))
            for e in c["encodings"]:
                w.zigzag(e)
            w.begin_list(3, _CT_BINARY, 1)
            nb = c["name"].encode("utf-8")
            w.varint(len(nb))
            w.out += nb
            w.field_i32(4, _CODECS[codec])
            w.field_i64(5, c["num_values"])
            w.field_i64(6, c["total_uncompressed_size"])
            w.field_i64(7, c["total_compressed_size"])
            w.field_i64(9, c["data_page_offset"])
            if c["dictionary_page_offset"] is not None:
                w.field_i64(11, c["dictionary_page_offset"])
            w.begin_struct(12)  # Statistics
            w.field_i64(3, c["null_count"])
            if c["min"] is not None:
                w.field_binary(5, _stat_bytes(c["max"], c["ptype"]))
                w.field_binary(6, _stat_bytes(c["min"], c["ptype"]))
            w.end_struct()
            if "bloom_filter_offset" in c:
                w.field_i64(14, c["bloom_filter_offset"])
                w.field_i32(15, c["bloom_filter_length"])
            w.end_struct()
            w.out.append(0)  # ColumnChunk STOP
            w._last_fid.pop()
        w.field_i64(2, sum(c["total_uncompressed_size"] for c in chunks))
        w.field_i64(3, rows_here)
        w.out.append(0)  # RowGroup STOP
        w._last_fid.pop()
    w.field_string(6, created_by)
    footer = w.stop()

    return bytes(body) + footer + struct.pack("<I", len(footer)) + b"PAR1"


def write_parquet(path: str, columns: "list[tuple[str, str, list]]",
                  **kw) -> int:
    """:func:`write_parquet_bytes` to a local file; returns bytes written."""
    data = write_parquet_bytes(columns, **kw)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


_SPARK_TO_PHYS = {"int": "INT32", "integer": "INT32", "bigint": "INT64",
                  "long": "INT64", "float": "FLOAT", "double": "DOUBLE",
                  "boolean": "BOOLEAN", "string": "BYTE_ARRAY"}


def write_parquet_distributed(df, out_dir: str, codec: str = "snappy",
                              **kw) -> int:
    """The sink shape: each partition serializes its rows with THIS
    writer inside one Arrow batch pass and lands one file in
    ``out_dir`` — how a from-scratch serializer rides a 1000-executor
    job.  Returns the number of files written."""
    import os
    import uuid

    cols = [(f.name, _SPARK_TO_PHYS.get(f.dataType.simpleString()),
             f.dataType.simpleString()) for f in df.schema.fields]
    for name, phys, simple in cols:
        if phys is None:
            raise NotImplementedError(
                f"column {name!r}: spark type {simple!r} is outside this "
                f"writer seam (supported: {sorted(_SPARK_TO_PHYS)})")
    os.makedirs(out_dir, exist_ok=True)
    names = [c[0] for c in cols]
    phys = {c[0]: c[1] for c in cols}

    def sink(batches):
        import pandas as pd
        rows = {n: [] for n in names}
        for pdf in batches:
            for n in names:
                rows[n].extend(
                    None if pd.isna(v) else v for v in pdf[n])
        if rows[names[0]]:
            data = write_parquet_bytes(
                [(n, phys[n], rows[n]) for n in names], codec=codec, **kw)
            fn = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.parquet")
            with open(fn, "wb") as f:
                f.write(data)
            yield pd.DataFrame({"files": [1]})
        else:
            yield pd.DataFrame({"files": [0]})

    out = df.mapInPandas(sink, "files int")
    from pyspark.sql import functions as F
    [row] = out.agg(F.sum("files").alias("n")).collect()
    return int(row["n"] or 0)


def _group_nrows(specs: list) -> int:
    for s in specs:
        if len(s) == 3 and isinstance(s[1], str):
            return len(s[2])
        return _group_nrows(s[1])
    raise ValueError("empty group")


def _subtree_nonnull(spec, i: int) -> bool:
    if len(spec) == 3 and isinstance(spec[1], str):
        return spec[2][i] is not None
    return any(_subtree_nonnull(s, i) for s in spec[1])


def _norm_group(path: "list[str]", specs: list, nrows: int,
                parent_def: "list[int]", depth: int,
                schema_elems: list, leaves: list) -> None:
    """Recursive OPTIONAL-GROUP normalization (round-8: groups nest to
    any depth — the Delta checkpoint's add.deletionVector shape).  A
    group counts as present on a row when every ancestor is present
    and ANY descendant leaf is non-None; ``parent_def[i]`` carries the
    count of defined optional levels so far (the Dremel definition
    level a truncated chain stops at)."""
    _OPT = 1
    present_def = [
        depth if (parent_def[i] == depth - 1
                  and any(_subtree_nonnull(s, i) for s in specs))
        else parent_def[i]
        for i in range(nrows)
    ]
    schema_elems.append((path[-1], None, len(specs), _OPT, None))
    for s in specs:
        if len(s) == 3 and isinstance(s[1], str):
            lname, ptype, vals = s
            leaf_depth = depth + 1
            defs = [
                leaf_depth if (present_def[i] == depth
                               and vals[i] is not None)
                else present_def[i]
                for i in range(nrows)
            ]
            schema_elems.append((lname, ptype, None, _OPT, None))
            leaves.append((path + [lname], ptype, defs,
                           [v for v in vals if v is not None],
                           leaf_depth))
        else:
            _norm_group(path + [s[0]], s[1], nrows, present_def,
                        depth + 1, schema_elems, leaves)


def write_parquet_nested_bytes(
    fields: list,
    codec: str = "snappy",
    created_by: str = "pr2-transformation-spark parquet_write",
) -> bytes:
    """OPTIONAL-STRUCT parquet writer (the Delta-checkpoint shape):
    ``fields`` mixes flat columns ``(name, ptype, values)`` with
    optional groups ``(group_name, [(leaf, ptype, values)...])`` —
    and, round-8, groups NEST to any depth (entries of a group's spec
    list may themselves be ``(subgroup, [...])``, the checkpoint's
    ``add.deletionVector`` shape).  A group counts as present on a row
    when every ancestor is present and ANY descendant leaf is
    non-None; definition levels count defined optional levels per
    Dremel (leaf max_def = nesting depth + 1).

    ROUND 8 — LIST columns (3-level Dremel WRITE, the write twin of
    parquet_data's q361 read assembly): ``("name", "LIST<PTYPE>",
    values)`` where each row is None (null list), [] (empty list) or a
    python list with optional None elements, emitted as the spec's

        optional group name (LIST) {
          repeated group list { optional PTYPE element; }
        }

    with max_def=3 / max_rep=1 and RLE rep levels ahead of the def
    levels in the v1 data page.  Deeper nesting (list-of-list,
    struct-in-list) stays on the read-side seam."""
    if codec not in _CODECS:
        raise NotImplementedError(f"codec {codec!r}")
    # normalize to leaf specs:
    # (path parts, ptype, def_levels, values, max_def[, reps, max_rep])
    nrows = None
    leaves = []
    # (name, ptype|None, n_children, repetition, converted_type|None)
    _OPT, _REP = 1, 2
    _CONVERTED_LIST = 3
    schema_elems = []
    for spec in fields:
        if (len(spec) == 3 and isinstance(spec[1], str)
                and spec[1].startswith("LIST<")):
            name, tspec, vals = spec
            ptype = tspec[5:-1]
            if ptype not in _PHYS:
                raise NotImplementedError(f"list element type {ptype!r}")
            if nrows is None:
                nrows = len(vals)
            defs: list = []
            reps: list = []
            flat: list = []
            for row in vals:
                if row is None:
                    defs.append(0)
                    reps.append(0)
                elif len(row) == 0:
                    defs.append(1)
                    reps.append(0)
                else:
                    for j, el in enumerate(row):
                        reps.append(0 if j == 0 else 1)
                        if el is None:
                            defs.append(2)
                        else:
                            defs.append(3)
                            flat.append(el)
            schema_elems.append((name, None, 1, _OPT, _CONVERTED_LIST))
            schema_elems.append(("list", None, 1, _REP, None))
            schema_elems.append(("element", ptype, None, _OPT, None))
            leaves.append(([name, "list", "element"], ptype, defs, flat,
                           3, reps, 1))
        elif len(spec) == 3 and isinstance(spec[1], str):
            name, ptype, vals = spec
            if nrows is None:
                nrows = len(vals)
            schema_elems.append((name, ptype, None, _OPT, None))
            leaves.append(([name], ptype,
                           [0 if v is None else 1 for v in vals],
                           [v for v in vals if v is not None], 1))
        else:
            gname, leaf_specs = spec
            if nrows is None:
                nrows = _group_nrows(leaf_specs)
            _norm_group([gname], leaf_specs, nrows,
                        [0] * nrows, 1, schema_elems, leaves)
    body = bytearray(b"PAR1")
    chunks = []
    for path, ptype, defs, nonnull, max_def, *rep_part in leaves:
        levels = ((defs, max_def, rep_part[0], rep_part[1])
                  if rep_part else (defs, max_def))
        c = _write_chunk(body, ".".join(path), ptype, nonnull, codec,
                         False, None, levels)
        c["path_parts"] = path
        chunks.append(c)

    w = _TWriter()
    w.field_i32(1, 1)
    w.begin_list(2, _CT_STRUCT, len(schema_elems) + 1)
    w._last_fid.append(0)
    w.field_string(4, "schema")
    w.field_i32(5, sum(1 for e in schema_elems
                       if True) - sum(e[2] or 0 for e in schema_elems))
    w.out.append(0)
    w._last_fid.pop()
    for name, ptype, n_children, repetition, converted in schema_elems:
        w._last_fid.append(0)
        if n_children is None:
            w.field_i32(1, _PHYS[ptype])
            w.field_i32(3, repetition)
            w.field_string(4, name)
            if ptype == "BYTE_ARRAY":
                w.field_i32(6, _CONVERTED_UTF8)
        else:
            w.field_i32(3, repetition)
            w.field_string(4, name)
            w.field_i32(5, n_children)
            if converted is not None:
                w.field_i32(6, converted)
        w.out.append(0)
        w._last_fid.pop()
    w.field_i64(3, nrows or 0)
    w.begin_list(4, _CT_STRUCT, 1)
    w._last_fid.append(0)  # RowGroup
    w.begin_list(1, _CT_STRUCT, len(chunks))
    for c in chunks:
        w._last_fid.append(0)
        w.field_i64(2, c["start_offset"])
        w.begin_struct(3)
        w.field_i32(1, _PHYS[c["ptype"]])
        w.begin_list(2, _CT_I32, len(c["encodings"]))
        for e in c["encodings"]:
            w.zigzag(e)
        w.begin_list(3, _CT_BINARY, len(c["path_parts"]))
        for part in c["path_parts"]:
            nb = part.encode("utf-8")
            w.varint(len(nb))
            w.out += nb
        w.field_i32(4, _CODECS[codec])
        w.field_i64(5, c["num_values"])
        w.field_i64(6, c["total_uncompressed_size"])
        w.field_i64(7, c["total_compressed_size"])
        w.field_i64(9, c["data_page_offset"])
        if c["dictionary_page_offset"] is not None:
            w.field_i64(11, c["dictionary_page_offset"])
        w.end_struct()
        w.out.append(0)
        w._last_fid.pop()
    w.field_i64(2, sum(c["total_uncompressed_size"] for c in chunks))
    w.field_i64(3, nrows or 0)
    w.out.append(0)
    w._last_fid.pop()
    w.field_string(6, created_by)
    footer = w.stop()
    return bytes(body) + footer + struct.pack("<I", len(footer)) + b"PAR1"
