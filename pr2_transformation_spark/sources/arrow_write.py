"""From-scratch Apache Arrow IPC (Feather v2) WRITER — the write-side
twin of `arrow_ipc.py`, closing format pillar four bidirectionally.

Carries a minimal from-scratch FLATBUFFER BUILDER (the public wire
rules: buffer grown downward, aligned scalar prepends, vtables with
field-id slots patched over a placeholder soffset, nul-terminated
strings, element vectors, inline struct vectors) plus the Arrow file
layer: Schema / RecordBatch messages in encapsulated framing, 8-byte
aligned body buffers, validity bitmaps, 32-bit offset strings, the
footer Block index, and optional ZSTD or LZ4 body compression through
`zstd.zstd_compress` and `parquet_data.lz4_frame_compress` (each buffer
carrying the spec's 8-byte uncompressed-length prefix).

Scope (honest seam): schemas of bool / int32 / int64 / float32 /
float64 / utf8 / binary / date32 plus arbitrarily nested
``list<child>`` vectors of those (round-8 — offsets buffer + recursive
depth-first child nodes, matching the reader); one batch per
``batch_rows`` rows.

Conformance: engine-written files are read by pyarrow (the C++
reference) AND the repo's own reader in tests; bytes are deterministic.
"""

from __future__ import annotations

import struct

ARROW_MAGIC = b"ARROW1"


class _FBB:
    """Minimal flatbuffer builder: prepend-only buffer, measured by
    'end offsets' (distance from buffer end), converted to forward
    uoffsets at reference time."""

    def __init__(self):
        self.buf = bytearray(64)
        self.head = len(self.buf)
        self.minalign = 4
        self.fields: "list[tuple[int, int]] | None" = None

    # -- low-level ----------------------------------------------------
    def _grow(self, need: int) -> None:
        while self.head < need:
            old = self.buf
            self.buf = bytearray(len(old)) + old
            self.head += len(old)

    def offset(self) -> int:
        return len(self.buf) - self.head

    def _pad(self, n: int) -> None:
        if n:
            self._grow(n)
            self.head -= n
            self.buf[self.head:self.head + n] = b"\0" * n

    def _align(self, size: int, extra_bytes: int = 0) -> None:
        if size > self.minalign:
            self.minalign = size
        total = self.offset() + extra_bytes
        self._pad((-total) % size)

    def _push(self, fmt: str, val, size: int) -> None:
        self._align(size)
        self._grow(size)
        self.head -= size
        struct.pack_into(fmt, self.buf, self.head, val)

    def push_bytes(self, raw: bytes) -> None:
        self._grow(len(raw))
        self.head -= len(raw)
        self.buf[self.head:self.head + len(raw)] = raw

    def ref(self, target_off: int) -> None:
        """Prepend a forward uoffset to an object's end-offset."""
        self._align(4)
        self._push("<I", self.offset() + 4 - target_off, 4)

    # -- strings / vectors -------------------------------------------
    def string(self, s: str) -> int:
        raw = s.encode("utf-8")
        self._align(4, 4 + len(raw) + 1)
        self.push_bytes(raw + b"\0")
        self._push("<I", len(raw), 4)
        return self.offset()

    def vector_of_tables(self, offs: "list[int]") -> int:
        self._align(4, 4 + 4 * len(offs))
        for o in reversed(offs):
            self.ref(o)
        self._push("<I", len(offs), 4)
        return self.offset()

    def vector_of_structs(self, raw: bytes, count: int,
                          align: int = 8) -> int:
        self._align(align, len(raw))
        self.push_bytes(raw)
        self._push("<I", count, 4)
        return self.offset()

    # -- tables -------------------------------------------------------
    def start(self) -> None:
        assert self.fields is None
        self.fields = []

    def slot_scalar(self, fid: int, fmt: str, val, size: int,
                    default=0) -> None:
        if val == default:
            return
        self._push(fmt, val, size)
        self.fields.append((fid, self.offset()))

    def slot_ref(self, fid: int, target_off: "int | None") -> None:
        if target_off is None:
            return
        self.ref(target_off)
        self.fields.append((fid, self.offset()))

    def end(self) -> int:
        fields = self.fields
        self.fields = None
        # placeholder soffset at the table start
        self._push("<i", 0, 4)
        table_pos = self.offset()
        max_fid = max((f for f, _ in fields), default=-1)
        vt_len = 4 + 2 * (max_fid + 1)
        slots = [0] * (max_fid + 1)
        for fid, foff in fields:
            slots[fid] = table_pos - foff
        self._align(2)
        for s in reversed(slots):
            self._push("<H", s, 2)
        # second vtable u16: table byte size (start through deepest
        # inline field; 8 covers the widest scalar conservatively)
        tsize = max(slots, default=0) + 8 if fields else 4
        self._push("<H", tsize, 2)
        self._push("<H", vt_len, 2)
        vt_pos = self.offset()
        # patch the placeholder with (vtable pos - table pos)
        abs_table = len(self.buf) - table_pos
        struct.pack_into("<i", self.buf, abs_table, vt_pos - table_pos)
        return table_pos

    def finish(self, root: int) -> bytes:
        # total size must be a multiple of the largest alignment used,
        # so end-relative alignment equals start-relative alignment
        self._pad((-(self.offset() + 4)) % self.minalign)
        self.ref(root)
        return bytes(self.buf[self.head:])


# ------------------------------------------------------- Arrow schema

_TYPES = {
    "bool": (6, lambda b: (b.start(), b.end())[1]),
    "int32": (2, lambda b: _int_type(b, 32)),
    "int64": (2, lambda b: _int_type(b, 64)),
    "float32": (3, lambda b: _fp_type(b, 1)),
    "float64": (3, lambda b: _fp_type(b, 2)),
    "utf8": (5, lambda b: (b.start(), b.end())[1]),
    "binary": (4, lambda b: (b.start(), b.end())[1]),
    "date32": (8, lambda b: _date_type(b)),
}


def _int_type(b: _FBB, bits: int) -> int:
    b.start()
    b.slot_scalar(0, "<i", bits, 4)
    b.slot_scalar(1, "<B", 1, 1)  # is_signed
    return b.end()


def _fp_type(b: _FBB, precision: int) -> int:
    b.start()
    b.slot_scalar(0, "<h", precision, 2)
    return b.end()


def _date_type(b: _FBB) -> int:
    b.start()
    # Date.unit default is MILLISECOND in Schema.fbs, so DAY (0) must
    # be written explicitly (a skipped slot would read back as date64)
    b.slot_scalar(0, "<h", 0, 2, default=None)
    return b.end()


def _build_field(b: _FBB, name: str, kind: str) -> int:
    """Field table offset for ``kind`` — primitives from _TYPES, or
    ``list<child>`` (round-8) with a one-entry children vector and the
    empty List type table (type discriminant 12)."""
    if kind.startswith("list<") and kind.endswith(">"):
        child_off = _build_field(b, "item", kind[5:-1])
        kvec = b.vector_of_tables([child_off])
        b.start()
        toff = b.end()  # List type table carries no fields
        noff = b.string(name)
        b.start()
        b.slot_ref(0, noff)
        b.slot_scalar(1, "<B", 1, 1)   # nullable
        b.slot_scalar(2, "<B", 12, 1)  # type discriminant: List
        b.slot_ref(3, toff)
        b.slot_ref(5, kvec)            # children
        return b.end()
    ttype, builder = _TYPES[kind]
    toff = builder(b)
    noff = b.string(name)
    b.start()
    b.slot_ref(0, noff)
    b.slot_scalar(1, "<B", 1, 1)      # nullable
    b.slot_scalar(2, "<B", ttype, 1)  # type discriminant
    b.slot_ref(3, toff)
    return b.end()


def _valid_kind(kind: str) -> bool:
    while kind.startswith("list<") and kind.endswith(">"):
        kind = kind[5:-1]
    return kind in _TYPES


def _schema_fb(cols: "list[tuple[str, str]]") -> bytes:
    """Schema message flatbuffer bytes."""
    b = _FBB()
    field_offs = [_build_field(b, name, kind) for name, kind in cols]
    fvec = b.vector_of_tables(field_offs)
    b.start()
    b.slot_ref(1, fvec)
    schema = b.end()
    # Message wrapper: version V5, header_type Schema(1), bodyLength 0
    b.start()
    b.slot_scalar(0, "<h", 4, 2)
    b.slot_scalar(1, "<B", 1, 1)
    b.slot_ref(2, schema)
    msg = b.end()
    return b.finish(msg)


def _batch_fb(n_rows: int, nodes: list, buffers: list, body_len: int,
              compressed: bool) -> bytes:
    """RecordBatch message flatbuffer bytes.  nodes = [(len, nulls)],
    buffers = [(offset, length)]."""
    b = _FBB()
    comp = None
    if compressed:  # codec enum: 0 = LZ4_FRAME (the default), 1 = ZSTD
        b.start()
        b.slot_scalar(0, "<b", 1 if compressed == "zstd" else 0, 1)
        comp = b.end()
    braw = b"".join(struct.pack("<qq", o, ln) for o, ln in buffers)
    bvec = b.vector_of_structs(braw, len(buffers))
    nraw = b"".join(struct.pack("<qq", ln, nc) for ln, nc in nodes)
    nvec = b.vector_of_structs(nraw, len(nodes))
    b.start()
    b.slot_scalar(0, "<q", n_rows, 8)
    b.slot_ref(1, nvec)
    b.slot_ref(2, bvec)
    b.slot_ref(3, comp)
    rb = b.end()
    b.start()
    b.slot_scalar(0, "<h", 4, 2)
    b.slot_scalar(1, "<B", 3, 1)  # header_type: RecordBatch
    b.slot_ref(2, rb)
    b.slot_scalar(3, "<q", body_len, 8)
    msg = b.end()
    return b.finish(msg)


def _footer_fb(cols, blocks: list) -> bytes:
    """File footer flatbuffer (NOT message-framed)."""
    b = _FBB()
    field_offs = [_build_field(b, name, kind) for name, kind in cols]
    fvec = b.vector_of_tables(field_offs)
    b.start()
    b.slot_ref(1, fvec)
    schema = b.end()
    braw = b"".join(struct.pack("<qiiq", off, mlen, 0, blen)
                    for off, mlen, blen in blocks)
    bvec = b.vector_of_structs(braw, len(blocks))
    b.start()
    b.slot_scalar(0, "<h", 4, 2)   # version V5
    b.slot_ref(1, schema)
    b.slot_ref(3, bvec)            # recordBatches
    footer = b.end()
    return b.finish(footer)


# --------------------------------------------------------- data layer


def _pad8(raw: bytes) -> bytes:
    return raw + b"\0" * ((-len(raw)) % 8)


def _encode_column(kind: str, values: list):
    """-> ([field nodes depth-first], [buffer bytes...]) for one column
    (a list column contributes its own node + offsets, then its child
    vector's nodes/buffers recursively)."""
    n = len(values)
    nulls = sum(1 for v in values if v is None)
    if nulls:
        bm = bytearray((n + 7) // 8)
        for i, v in enumerate(values):
            if v is not None:
                bm[i >> 3] |= 1 << (i & 7)
        validity = bytes(bm)
    else:
        validity = b""
    if kind.startswith("list<") and kind.endswith(">"):
        child_kind = kind[5:-1]
        offs = [0]
        flat: list = []
        for v in values:
            if v is None:
                offs.append(offs[-1])
            else:
                flat.extend(v)
                offs.append(offs[-1] + len(v))
        offsets = b"".join(struct.pack("<i", o) for o in offs)
        child_nodes, child_bufs = _encode_column(child_kind, flat)
        return [(n, nulls)] + child_nodes, [validity, offsets] + child_bufs
    if kind in ("int32", "int64", "float32", "float64", "date32"):
        fmt = {"int32": "<i", "int64": "<q", "float32": "<f",
               "float64": "<d", "date32": "<i"}[kind]
        if kind == "date32":
            import datetime as _dt
            epoch = _dt.date(1970, 1, 1)
            vals = [0 if v is None else (v - epoch).days for v in values]
        elif kind in ("float32", "float64"):
            vals = [0.0 if v is None else float(v) for v in values]
        else:
            vals = [0 if v is None else int(v) for v in values]
        data = b"".join(struct.pack(fmt, v) for v in vals)
        return [(n, nulls)], [validity, data]
    if kind == "bool":
        bm = bytearray((n + 7) // 8)
        for i, v in enumerate(values):
            if v:
                bm[i >> 3] |= 1 << (i & 7)
        return [(n, nulls)], [validity, bytes(bm)]
    if kind in ("utf8", "binary"):
        blobs = [b"" if v is None
                 else (v.encode("utf-8") if isinstance(v, str) else bytes(v))
                 for v in values]
        offs = [0]
        for bl in blobs:
            offs.append(offs[-1] + len(bl))
        offsets = b"".join(struct.pack("<i", o) for o in offs)
        return [(n, nulls)], [validity, offsets, b"".join(blobs)]
    raise NotImplementedError(
        f"arrow_write: kind {kind!r} is outside this writer seam "
        f"(supported: {sorted(_TYPES)})")


def _message_frame(fb: bytes) -> bytes:
    fb = _pad8(fb)
    return (0xFFFFFFFF).to_bytes(4, "little") \
        + len(fb).to_bytes(4, "little") + fb


def write_arrow_bytes(columns: "list[tuple[str, str, list]]",
                      batch_rows: int = 65536,
                      compression: "str | None" = None) -> bytes:
    """Serialize ``[(name, kind, values)...]`` into a complete Arrow
    IPC file image (``compression``: None, 'zstd' or 'lz4' — both body
    codecs the Arrow spec defines, through libzstd and liblz4)."""
    if not columns:
        raise ValueError("arrow_write: need at least one column")
    if compression not in (None, "zstd", "lz4"):
        raise NotImplementedError(
            f"arrow_write: compression {compression!r} "
            "(None/'zstd'/'lz4')")
    n_rows = len(columns[0][2])
    for name, kind, vals in columns:
        if not _valid_kind(kind):
            raise NotImplementedError(
                f"arrow_write: column {name!r} kind {kind!r} outside seam")
        if len(vals) != n_rows:
            raise ValueError(f"arrow_write: column {name!r} length")
    cols = [(name, kind) for name, kind, _ in columns]
    out = bytearray(ARROW_MAGIC + b"\0\0")
    out += _message_frame(_schema_fb(cols))
    blocks = []
    for start in range(0, max(n_rows, 1), batch_rows):
        rows = min(batch_rows, n_rows - start) if n_rows else 0
        nodes = []
        buf_entries = []
        body = bytearray()
        for name, kind, vals in columns:
            col_nodes, bufs = _encode_column(kind, vals[start:start + rows])
            nodes.extend(col_nodes)
            for raw in bufs:
                if compression == "zstd":
                    from .zstd import zstd_compress
                    comp = zstd_compress(raw, checksum=False)
                elif compression == "lz4":
                    from .parquet_data import lz4_frame_compress
                    comp = lz4_frame_compress(raw)
                if compression is not None:
                    if len(comp) < len(raw):
                        payload = struct.pack("<q", len(raw)) + comp
                    else:
                        payload = struct.pack("<q", -1) + raw
                else:
                    payload = raw
                buf_entries.append((len(body), len(payload)))
                body += _pad8(payload)
        fb = _batch_fb(rows, nodes, buf_entries, len(body), compression)
        frame = _message_frame(fb)
        blocks.append((len(out), len(frame), len(body)))
        out += frame + body
        if n_rows == 0:
            break
    # end-of-stream marker
    out += (0xFFFFFFFF).to_bytes(4, "little") + (0).to_bytes(4, "little")
    footer = _footer_fb(cols, blocks)
    out += footer
    out += len(footer).to_bytes(4, "little")
    out += ARROW_MAGIC
    return bytes(out)


def write_arrow(path: str, columns, **kw) -> int:
    data = write_arrow_bytes(columns, **kw)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


_SPARK_TO_KIND = {"int": "int32", "integer": "int32", "bigint": "int64",
                  "long": "int64", "float": "float32", "double": "float64",
                  "boolean": "bool", "string": "utf8", "binary": "binary",
                  "date": "date32"}


def write_arrow_distributed(df, out_dir: str,
                            compression: "str | None" = None, **kw) -> int:
    """Per-partition Arrow IPC sink inside ``mapInPandas`` (the
    `parquet_write.write_parquet_distributed` shape)."""
    import os
    import uuid

    def to_kind(simple: str) -> "str | None":
        depth = 0
        while simple.startswith("array<") and simple.endswith(">"):
            simple = simple[6:-1]
            depth += 1
        kind = _SPARK_TO_KIND.get(simple)
        if kind is None:
            return None
        return "list<" * depth + kind + ">" * depth

    cols = [(f.name, to_kind(f.dataType.simpleString()),
             f.dataType.simpleString()) for f in df.schema.fields]
    for name, kind, simple in cols:
        if kind is None:
            raise NotImplementedError(
                f"arrow_write: column {name!r}: spark type {simple!r} "
                f"outside seam")
    os.makedirs(out_dir, exist_ok=True)
    names = [c[0] for c in cols]
    kinds = {c[0]: c[1] for c in cols}

    def sink(batches):
        import pandas as pd

        def norm(v):
            # array columns arrive as list/ndarray — pd.isna would be
            # ambiguous on them, and ndarrays must become plain lists
            if isinstance(v, (list, tuple)):
                return [norm(x) for x in v]
            if hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1:
                return [norm(x) for x in v.tolist()]
            return None if pd.isna(v) else v

        rows = {n: [] for n in names}
        for pdf in batches:
            for n in names:
                rows[n].extend(norm(v) for v in pdf[n])
        if rows[names[0]]:
            data = write_arrow_bytes(
                [(n, kinds[n], rows[n]) for n in names],
                compression=compression, **kw)
            fn = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.arrow")
            with open(fn, "wb") as f:
                f.write(data)
            yield pd.DataFrame({"files": [1]})
        else:
            yield pd.DataFrame({"files": [0]})

    out = df.mapInPandas(sink, "files int")
    from pyspark.sql import functions as F
    [row] = out.agg(F.sum("files").alias("n")).collect()
    return int(row["n"] or 0)


def write_arrow_stream_bytes(columns: "list[tuple[str, str, list]]",
                             batch_rows: int = 65536,
                             compression: "str | None" = None) -> bytes:
    """Arrow IPC STREAM format: schema message + batches + EOS marker,
    no footer (the ``ipc.new_stream`` wire shape)."""
    file_img = write_arrow_bytes(columns, batch_rows=batch_rows,
                                 compression=compression)
    # the stream IS the file minus magic prefix, footer and trailer
    flen = struct.unpack("<i", file_img[-10:-6])[0]
    return file_img[8:len(file_img) - 10 - flen]
