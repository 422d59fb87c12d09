"""From-scratch Apache ORC WRITER — the write-side twin of
`sources/orc.py`, making the ORC pillar bidirectional the way parquet
(`parquet_write`) and the compression suite already are.  Everything
from the public ORCv1 spec (https://orc.apache.org/specification/ORCv1/):

* protobuf postscript / footer / stripe footers (local encoder with
  repeated-field support over the same wire rules as `protowire.py`),
* Byte-RLE + Boolean-RLE encoders (PRESENT bitmaps, bool/tinyint data),
* an integer RLE v2 ENCODER choosing per-run among SHORT_REPEAT,
  fixed-delta DELTA, and big-endian bit-packed DIRECT — the spec
  leaves sub-encoding choice to the writer; every choice emitted here
  is decoded by three independent readers in tests (Spark's Java ORC,
  pyarrow's C++ libORC, and this repo's own reader),
* DIRECT_V2 string/binary columns (LENGTH + concatenated DATA),
* stream compression framing (3-byte chunk headers with the
  isOriginal escape) over the engine's one encoder per codec: raw
  deflate (`inflate.deflate_encode`, stdlib zlib), Snappy
  (`parquet_data.snappy_compress`), LZ4
  (`parquet_data.lz4_block_compress`) and Zstandard
  (`zstd.zstd_compress`), the last three through the C libraries
  pyarrow bundles.

Scope (honest seam): root-STRUCT schemas of boolean / int / long /
float / double / string / binary / date, plus ONE nesting level —
``list<primitive>`` and ``map<primitive,primitive>`` columns (parent
LENGTH stream + pre-order child column ids); row indexes disabled
(``rowIndexStride=0``, a spec-sanctioned writer choice); dictionary
encoding left to the read side (DIRECT_V2 is always legal).  Deeper
nesting and timestamps raise with the missing piece named.

Determinism: no timestamps, no salted hashes — identical inputs
produce identical bytes (pinned in tests).

Scale shape: like `parquet_write.write_parquet_distributed`, the
serializer is per-partition state inside ``mapInPandas`` — one file
image per task, no coordination.
"""

from __future__ import annotations

import math
import struct

from .orc import _WIDTH_CODES, COMPRESSION

_KIND_IDS = {"boolean": 0, "byte": 1, "short": 2, "int": 3, "long": 4,
             "float": 5, "double": 6, "string": 7, "binary": 8,
             "date": 15}
_COMP_IDS = {v: k for k, v in COMPRESSION.items()}

_PRESENT, _DATA, _LENGTH = 0, 1, 2
_DIRECT, _DIRECT_V2 = 0, 2


# ------------------------------------------------------------- protobuf


def _pb(fields: dict) -> bytes:
    """{field: value | [values]} -> wire bytes.  int = varint; bytes/str
    length-delimited; dict = nested message; a LIST means the field
    repeats (each element encoded per the same dispatch); a
    ("packed", [ints]) tuple packs varints length-delimited."""
    def varint(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    out = bytearray()
    for field in sorted(fields):
        vals = fields[field]
        if not isinstance(vals, list):
            vals = [vals]
        for v in vals:
            if isinstance(v, tuple) and v[0] == "packed":
                raw = b"".join(varint(x) for x in v[1])
                out += varint((field << 3) | 2) + varint(len(raw)) + raw
            elif isinstance(v, dict):
                raw = _pb(v)
                out += varint((field << 3) | 2) + varint(len(raw)) + raw
            elif isinstance(v, str):
                raw = v.encode("utf-8")
                out += varint((field << 3) | 2) + varint(len(raw)) + raw
            elif isinstance(v, bytes):
                out += varint((field << 3) | 2) + varint(len(v)) + v
            elif isinstance(v, int):
                out += varint(field << 3) + varint(v)
            else:
                raise ValueError(f"orc_write: bad pb value {type(v)}")
    return bytes(out)


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


# ------------------------------------------------------------- RLE enc


def _byte_rle_encode(vals: "list[int] | bytes") -> bytes:
    out = bytearray()
    i, n = 0, len(vals)
    while i < n:
        j = i
        while j < n and vals[j] == vals[i] and j - i < 130:
            j += 1
        if j - i >= 3:
            out.append(j - i - 3)
            out.append(vals[i])
            i = j
        else:
            # literal run: extend until the next >=3 repeat or 128 cap
            k = i
            while k < n and k - i < 128:
                if (k + 2 < n and vals[k] == vals[k + 1] == vals[k + 2]):
                    break
                k += 1
            out.append(256 - (k - i))
            out.extend(vals[i:k])
            i = k
    return bytes(out)


def _bool_rle_encode(bits: list) -> bytes:
    by = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            by[i // 8] |= 1 << (7 - i % 8)
    return _byte_rle_encode(bytes(by))


def _closest_code(width: int) -> int:
    for code, w in enumerate(_WIDTH_CODES):
        if width <= w:
            return code
    raise ValueError(f"orc_write: width {width} > 64")


def _bitpack_be(vals: list, width: int) -> bytes:
    acc = 0
    nbits = 0
    out = bytearray()
    for v in vals:
        acc = (acc << width) | v
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rle_v2_encode(vals: list, signed: bool) -> bytes:
    """Integer RLE v2 encoder.  Greedy per-run choice: repeats of 3-10
    -> SHORT_REPEAT; constant-delta runs of >= 4 -> fixed-delta DELTA;
    everything else -> 512-value DIRECT chunks at the closest fixed
    width.  All three forms are spec-legal for any data; the reader
    side (ours and the two reference implementations) fixes semantics."""
    out = bytearray()
    i, n = 0, len(vals)
    while i < n:
        # repeat run?
        j = i
        while j < n and vals[j] == vals[i] and j - i < 10:
            j += 1
        rep = j - i
        if rep >= 3:
            v = _zigzag(vals[i]) if signed else vals[i]
            width = max(1, (v.bit_length() + 7) // 8)
            out.append((0 << 6) | ((width - 1) << 3) | (rep - 3))
            out += v.to_bytes(width, "big")
            i = j
            continue
        # constant-delta run?
        if i + 3 < n:
            d = vals[i + 1] - vals[i]
            k = i + 1
            while k + 1 < n and vals[k + 1] - vals[k] == d and k - i < 511:
                k += 1
            if k - i >= 3 and d != 0:
                length = k - i + 1
                out.append((3 << 6) | (0 << 1) | ((length - 1) >> 8))
                out.append((length - 1) & 0xFF)
                base = _zigzag(vals[i]) if signed else vals[i]
                out += _varint(base)
                out += _varint(_zigzag(d))
                i = k + 1
                continue
        # DIRECT chunk: up to 512 values, stop early at a long repeat
        # or constant-delta stretch so those get their cheaper form
        k = i
        while k < n and k - i < 512:
            if (k + 4 < n and vals[k] == vals[k + 1] == vals[k + 2]
                    == vals[k + 3]):
                break
            k += 1
        if k == i:
            k = min(i + 1, n)
        chunk = [(_zigzag(v) if signed else v) for v in vals[i:k]]
        width = max(1, max(v.bit_length() for v in chunk))
        code = _closest_code(width)
        width = _WIDTH_CODES[code]
        length = len(chunk)
        out.append((1 << 6) | (code << 1) | ((length - 1) >> 8))
        out.append((length - 1) & 0xFF)
        out += _bitpack_be(chunk, width)
        i = k
    return bytes(out)


# -------------------------------------------------------- stream framing


def _compress_chunk(raw: bytes, compression: str) -> bytes:
    if compression == "zlib":
        from .inflate import deflate_encode
        return deflate_encode(raw)
    if compression == "snappy":
        from .parquet_data import snappy_compress
        return snappy_compress(raw)
    if compression == "zstd":
        from .zstd import zstd_compress
        return zstd_compress(raw)
    if compression == "lz4":
        from .parquet_data import lz4_block_compress
        return lz4_block_compress(raw)
    raise NotImplementedError(
        f"orc_write: compression {compression!r} is outside this writer "
        f"seam (supported: none/zlib/snappy/zstd/lz4)")


_BLOCK = 65536


def _frame_stream(raw: bytes, compression: str) -> bytes:
    """ORC chunked framing; each chunk stores whichever of
    compressed/original is smaller (isOriginal escape bit)."""
    if compression == "none":
        return raw
    out = bytearray()
    for pos in range(0, len(raw), _BLOCK):
        chunk = raw[pos:pos + _BLOCK]
        comp = _compress_chunk(chunk, compression)
        if len(comp) < len(chunk):
            out += ((len(comp) << 1) | 0).to_bytes(3, "little")
            out += comp
        else:
            out += ((len(chunk) << 1) | 1).to_bytes(3, "little")
            out += chunk
    return bytes(out)


# ------------------------------------------------------------ the writer


def _column_streams(kind: str, values: list) -> "list[tuple[int, bytes]]":
    """Encode one column -> [(stream_kind, uncompressed bytes)...]."""
    has_nulls = any(v is None for v in values)
    streams: list[tuple[int, bytes]] = []
    present = [v is not None for v in values]
    if has_nulls:
        streams.append((_PRESENT, _bool_rle_encode(present)))
    vals = [v for v in values if v is not None]
    if kind in ("int", "long", "short"):
        streams.append((_DATA, _rle_v2_encode([int(v) for v in vals], True)))
    elif kind == "byte":
        streams.append((_DATA, _byte_rle_encode(
            [int(v) & 0xFF for v in vals])))
    elif kind == "boolean":
        streams.append((_DATA, _bool_rle_encode([bool(v) for v in vals])))
    elif kind == "float":
        streams.append((_DATA, struct.pack(f"<{len(vals)}f", *vals)))
    elif kind == "double":
        streams.append((_DATA, struct.pack(f"<{len(vals)}d", *vals)))
    elif kind in ("string", "binary"):
        blobs = [v.encode("utf-8") if isinstance(v, str) else bytes(v)
                 for v in vals]
        streams.append((_DATA, b"".join(blobs)))
        streams.append((_LENGTH, _rle_v2_encode(
            [len(b) for b in blobs], False)))
    elif kind == "date":
        import datetime as _dt
        epoch = _dt.date(1970, 1, 1)
        streams.append((_DATA, _rle_v2_encode(
            [(v - epoch).days for v in vals], True)))
    else:
        raise NotImplementedError(
            f"orc_write: column kind {kind!r} is outside this writer seam "
            f"(supported: {sorted(_KIND_IDS)})")
    return streams



def _parse_kind(kind: str):
    """'long' -> ("long",); 'list<string>' -> ("list", "string");
    'map<string,long>' -> ("map", "string", "long")."""
    if kind.startswith("list<") and kind.endswith(">"):
        return ("list", kind[5:-1].strip())
    if kind.startswith("map<") and kind.endswith(">"):
        k, v = kind[4:-1].split(",", 1)
        return ("map", k.strip(), v.strip())
    return (kind,)


def _nested_streams(parsed, values: list) -> "list[tuple]":
    """Streams for one (possibly nested) column as a list of
    (rel_column_offset, stream_kind, raw bytes): 0 = the column itself,
    1.. = its children in pre-order."""
    if len(parsed) == 1:
        return [(0, k, raw) for k, raw in _column_streams(parsed[0],
                                                          values)]
    streams: list = []
    present = [v is not None for v in values]
    if not all(present):
        streams.append((0, _PRESENT, _bool_rle_encode(present)))
    nn = [v for v in values if v is not None]
    streams.append((0, _LENGTH, _rle_v2_encode([len(v) for v in nn],
                                               False)))
    if parsed[0] == "list":
        elems: list = []
        for v in nn:
            elems.extend(v)
        for k, raw in _column_streams(parsed[1], elems):
            streams.append((1, k, raw))
    else:  # map
        keys: list = []
        vals: list = []
        for v in nn:
            for kk, vv in v.items():
                keys.append(kk)
                vals.append(vv)
        for k, raw in _column_streams(parsed[1], keys):
            streams.append((1, k, raw))
        for k, raw in _column_streams(parsed[2], vals):
            streams.append((2, k, raw))
    return streams


def _enc_for(kind: str) -> dict:
    return ({1: _DIRECT_V2} if kind in
            ("int", "long", "short", "string", "binary", "date",
             "list", "map")
            else {1: _DIRECT})


def _stats_pb(kind: str, vals: list) -> bytes:
    """One ColumnStatistics message for a slice of values — the
    write-side twin of ``orc._stats_from_pb`` (IntegerStatistics sint64
    zigzag, DoubleStatistics fixed64, StringStatistics utf-8,
    DateStatistics sint32 epoch days; other kinds carry counts only,
    which the reader treats as never-prunes)."""
    import datetime

    nonnull = [v for v in vals if v is not None]
    out = bytearray()
    out += _varint((1 << 3) | 0) + _varint(len(nonnull))  # numberOfValues
    sub = b""
    fid = None
    if nonnull:
        if kind in ("byte", "short", "int", "long"):
            fid = 2
            sub = (_varint((1 << 3) | 0) + _varint(_zigzag(min(nonnull)))
                   + _varint((2 << 3) | 0) + _varint(_zigzag(max(nonnull))))
        elif kind in ("float", "double"):
            # bounds over the non-NaN values (min()/max() over a list
            # holding NaN answer NaN whenever it comes first); an
            # all-NaN slice records no bounds, which never prunes
            finite = [v for v in nonnull if not math.isnan(v)]
            if finite:
                fid = 3
                sub = (_varint((1 << 3) | 1) + struct.pack("<d", min(finite))
                       + _varint((2 << 3) | 1) + struct.pack("<d", max(finite)))
        elif kind == "string":
            fid = 4
            lo = min(nonnull).encode("utf-8")
            hi = max(nonnull).encode("utf-8")
            sub = (_varint((1 << 3) | 2) + _varint(len(lo)) + lo
                   + _varint((2 << 3) | 2) + _varint(len(hi)) + hi)
        elif kind == "date":
            fid = 7
            epoch = datetime.date(1970, 1, 1)
            days = [(v - epoch).days if isinstance(v, datetime.date)
                    else int(v) for v in nonnull]
            sub = (_varint((1 << 3) | 0) + _varint(_zigzag(min(days)))
                   + _varint((2 << 3) | 0) + _varint(_zigzag(max(days))))
    if fid is not None and sub:
        out += _varint((fid << 3) | 2) + _varint(len(sub)) + sub
    has_null = len(nonnull) != len(vals)
    out += _varint((10 << 3) | 0) + _varint(1 if has_null else 0)
    return bytes(out)


def write_orc_bytes(columns: "list[tuple[str, str, list]]",
                    compression: str = "zlib",
                    stripe_rows: int = 100_000) -> bytes:
    """Serialize ``[(name, kind, values)...]`` (equal-length lists,
    ``None`` = NULL) into a complete ORC file image.

    Round 9: the WRITE side of the prune plane — per-stripe column
    statistics in the METADATA section (postscript metadataLength) and
    file-level statistics in the footer, so this repo's own
    ``read_orc_bytes_pruned`` (and any stats-aware reader) skips
    stripes of our files from tail bytes alone.  Row indexes remain
    disabled (rowIndexStride=0, a spec-sanctioned writer choice); the
    pruned reader degrades to stripe-granularity on our files."""
    if not columns:
        raise ValueError("orc_write: need at least one column")
    if compression not in _COMP_IDS:
        raise NotImplementedError(
            f"orc_write: unknown compression {compression!r}")
    n_rows = len(columns[0][2])
    parsed_cols = []
    for name, kind, vals in columns:
        if len(vals) != n_rows:
            raise ValueError(f"orc_write: column {name!r} length mismatch")
        parsed = _parse_kind(kind)
        for leaf in parsed[1:] if len(parsed) > 1 else parsed:
            if leaf not in _KIND_IDS:
                raise NotImplementedError(
                    f"orc_write: kind {leaf!r} is outside this writer seam")
        parsed_cols.append(parsed)
    # pre-order column ids: root=0, each field's id then its children
    col_ids = []
    next_id = 1
    for parsed in parsed_cols:
        col_ids.append(next_id)
        next_id += len(parsed) if len(parsed) > 1 else 1

    def _counts_only(n: int) -> bytes:
        return bytes(_varint((1 << 3) | 0) + _varint(n)
                     + _varint((10 << 3) | 0) + _varint(0))

    def _column_stats(lo: int, hi: int) -> "list[bytes]":
        cs: list[bytes] = [_counts_only(hi - lo)]   # root struct
        for parsed, (name, kind, vals) in zip(parsed_cols, columns):
            sl = vals[lo:hi]
            if len(parsed) == 1:
                cs.append(_stats_pb(parsed[0], sl))
            else:
                cs.append(_counts_only(
                    sum(1 for v in sl if v is not None)))
                flat = [e for v in sl if v is not None
                        for e in (v.items() if parsed[0] == "map" else v)]
                if parsed[0] == "map":
                    cs.append(_counts_only(len(flat)))   # keys
                    cs.append(_counts_only(len(flat)))   # values
                else:
                    cs.append(_counts_only(
                        sum(1 for e in flat if e is not None)))
        return cs

    out = bytearray(b"ORC")
    stripe_infos = []
    stripe_stats: list[list[bytes]] = []
    for start in range(0, max(n_rows, 1), stripe_rows):
        rows = min(stripe_rows, n_rows - start)
        if n_rows == 0:
            rows = 0
        stripe_stats.append(_column_stats(start, start + rows))
        stream_meta = []  # (kind, column_id, framed bytes)
        for parsed, base_id, (name, kind, vals) in zip(
                parsed_cols, col_ids, columns):
            for rel, skind, raw in _nested_streams(
                    parsed, vals[start:start + rows]):
                stream_meta.append(
                    (skind, base_id + rel,
                     _frame_stream(raw, compression)))
        offset = len(out)
        data_len = 0
        for _, _, framed in stream_meta:
            out += framed
            data_len += len(framed)
        encodings = [{1: _DIRECT}]  # root struct
        for parsed in parsed_cols:
            for leaf in parsed:
                encodings.append(_enc_for(leaf))
        sfooter = _pb({
            1: [{1: k, 2: c, 3: len(f)} for k, c, f in stream_meta],
            2: encodings,
        })
        sfooter_framed = _frame_stream(sfooter, compression)
        out += sfooter_framed
        stripe_infos.append({
            1: offset, 2: 0, 3: data_len, 4: len(sfooter_framed), 5: rows,
        })
        if n_rows == 0:
            break

    types = [{1: 12, 2: ("packed", col_ids),
              3: [name for name, _, _ in columns]}]
    for parsed, base_id in zip(parsed_cols, col_ids):
        if len(parsed) == 1:
            types.append({1: _KIND_IDS[parsed[0]]})
        elif parsed[0] == "list":
            types.append({1: 10, 2: ("packed", [base_id + 1])})
            types.append({1: _KIND_IDS[parsed[1]]})
        else:  # map
            types.append({1: 11, 2: ("packed",
                                     [base_id + 1, base_id + 2])})
            types.append({1: _KIND_IDS[parsed[1]]})
            types.append({1: _KIND_IDS[parsed[2]]})
    content_len = len(out) - 3
    # METADATA section: per-stripe ColumnStatistics, between the last
    # stripe and the footer, located by postscript metadataLength
    metadata = _pb({1: [{1: cs} for cs in stripe_stats]})
    metadata_framed = _frame_stream(metadata, compression)
    out += metadata_framed
    footer = _pb({
        1: 3,                    # headerLength (the magic)
        2: content_len,          # contentLength
        3: stripe_infos,
        4: types,
        6: n_rows,
        7: _column_stats(0, n_rows),  # file-level statistics
        8: 0,                    # rowIndexStride: indexes disabled
    })
    footer_framed = _frame_stream(footer, compression)
    out += footer_framed
    ps = _pb({
        1: len(footer_framed),
        2: _COMP_IDS[compression],
        3: _BLOCK,
        4: ("packed", [0, 12]),
        5: len(metadata_framed),  # metadataLength
        6: 1,                    # writerVersion
        8000: b"ORC",
    })
    if len(ps) > 255:
        raise ValueError("orc_write: postscript overflow")
    out += ps
    out.append(len(ps))
    return bytes(out)


def write_orc(path: str, columns, **kw) -> int:
    data = write_orc_bytes(columns, **kw)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


_SPARK_TO_KIND = {"int": "int", "integer": "int", "bigint": "long",
                  "long": "long", "smallint": "short", "tinyint": "byte",
                  "float": "float", "double": "double",
                  "boolean": "boolean", "string": "string",
                  "binary": "binary", "date": "date"}


def write_orc_distributed(df, out_dir: str, compression: str = "zlib",
                          **kw) -> int:
    """Per-partition ORC sink inside ``mapInPandas`` — one file image
    per task (the `parquet_write.write_parquet_distributed` shape).
    Returns the number of files written."""
    import os
    import uuid

    cols = [(f.name, _SPARK_TO_KIND.get(f.dataType.simpleString()),
             f.dataType.simpleString()) for f in df.schema.fields]
    for name, kind, simple in cols:
        if kind is None:
            raise NotImplementedError(
                f"orc_write: column {name!r}: spark type {simple!r} is "
                f"outside this writer seam")
    os.makedirs(out_dir, exist_ok=True)
    names = [c[0] for c in cols]
    kinds = {c[0]: c[1] for c in cols}

    def sink(batches):
        import pandas as pd
        rows = {n: [] for n in names}
        for pdf in batches:
            for n in names:
                rows[n].extend(None if pd.isna(v) else v for v in pdf[n])
        if rows[names[0]]:
            data = write_orc_bytes(
                [(n, kinds[n], rows[n]) for n in names],
                compression=compression, **kw)
            fn = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.orc")
            with open(fn, "wb") as f:
                f.write(data)
            yield pd.DataFrame({"files": [1]})
        else:
            yield pd.DataFrame({"files": [0]})

    out = df.mapInPandas(sink, "files int")
    from pyspark.sql import functions as F
    [row] = out.agg(F.sum("files").alias("n")).collect()
    return int(row["n"] or 0)
