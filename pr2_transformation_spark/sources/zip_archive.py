"""From-scratch ZIP archive READER (APPNOTE.TXT / PKZIP format):
end-of-central-directory locate (comment-tolerant scan), central
directory walk, local-header offset resolution, STORED and DEFLATE
members (DEFLATE decoded by stdlib zlib through `inflate.inflate`),
CRC-32 verification (stdlib zlib.crc32), ZIP64 end-of-central-directory
and extra-field offsets for large archives, and data-descriptor
tolerance.  Every corrupt member — bad DEFLATE stream, truncated
data, size or CRC mismatch — raises ``ValueError``.

Why here: corpus drops arrive zipped constantly (Common Crawl
derivatives, Kaggle exports, annotation bundles); at 100 TB they are
opaque binaries on a ``binaryFile`` scan decoded member-by-member in
``mapInPandas`` — the same one-task-per-archive shape as the
WebDataset tar source (`webdataset.py`).

Scope (honest seam): compression methods 0 (stored) and 8 (deflate);
encrypted members, spanned archives, and other methods (bzip2/lzma
ids 12/14 are rare in the wild) raise ``NotImplementedError``.

Conformance: every archive read in tests is WRITTEN by the stdlib
``zipfile`` module (the reference implementation) across methods,
sizes, and ZIP64 thresholds; CRCs are verified on every extract.
"""

from __future__ import annotations

import struct
import zlib

_EOCD = b"PK\x05\x06"
_EOCD64_LOC = b"PK\x06\x07"
_EOCD64 = b"PK\x06\x06"
_CDH = b"PK\x01\x02"
_LFH = b"PK\x03\x04"


def _find_eocd(buf: bytes) -> int:
    """End-of-central-directory record: last 22+ bytes, possibly
    followed by a comment up to 64 KB.  Comments may themselves
    contain the EOCD magic, so scan candidates backwards and accept
    only one whose comment-length field reaches exactly to the end of
    the archive (the rule InfoZIP and zipfile use)."""
    tail = buf[-(65536 + 22):]
    base = len(buf) - len(tail)
    idx = tail.rfind(_EOCD)
    while idx >= 0:
        pos = base + idx
        if pos + 22 <= len(buf):
            comment_len = struct.unpack_from("<H", buf, pos + 20)[0]
            if pos + 22 + comment_len == len(buf):
                return pos
        idx = tail.rfind(_EOCD, 0, idx)
    raise ValueError("zip: no end-of-central-directory record")


def zip_entries(buf: bytes) -> "list[dict]":
    """Central-directory listing: name, sizes, method, crc, offset."""
    eocd = _find_eocd(buf)
    n_entries = struct.unpack_from("<H", buf, eocd + 10)[0]
    cd_offset = struct.unpack_from("<I", buf, eocd + 16)[0]
    if n_entries == 0xFFFF or cd_offset == 0xFFFFFFFF:
        # ZIP64: locator directly precedes the EOCD
        loc = buf.rfind(_EOCD64_LOC, 0, eocd)
        if loc < 0:
            raise ValueError("zip: zip64 locator missing")
        eocd64 = struct.unpack_from("<Q", buf, loc + 8)[0]
        if buf[eocd64:eocd64 + 4] != _EOCD64:
            raise ValueError("zip: zip64 EOCD missing")
        n_entries = struct.unpack_from("<Q", buf, eocd64 + 32)[0]
        cd_offset = struct.unpack_from("<Q", buf, eocd64 + 48)[0]
    entries = []
    pos = cd_offset
    for _ in range(n_entries):
        if buf[pos:pos + 4] != _CDH:
            raise ValueError("zip: bad central-directory header")
        (method, _time, _date, crc, csize, usize, nlen, elen, clen,
         ) = struct.unpack_from("<HHHIIIHHH", buf, pos + 10)
        local_off = struct.unpack_from("<I", buf, pos + 42)[0]
        name = buf[pos + 46:pos + 46 + nlen].decode("utf-8", "replace")
        extra = buf[pos + 46 + nlen:pos + 46 + nlen + elen]
        # ZIP64 extra field (id 0x0001): 8-byte fields replace any
        # 0xFFFFFFFF values, in order usize, csize, local_off
        if 0xFFFFFFFF in (usize, csize, local_off):
            ep = 0
            while ep + 4 <= len(extra):
                eid, esz = struct.unpack_from("<HH", extra, ep)
                if eid == 1:
                    fp = ep + 4
                    if usize == 0xFFFFFFFF:
                        usize = struct.unpack_from("<Q", extra, fp)[0]
                        fp += 8
                    if csize == 0xFFFFFFFF:
                        csize = struct.unpack_from("<Q", extra, fp)[0]
                        fp += 8
                    if local_off == 0xFFFFFFFF:
                        local_off = struct.unpack_from("<Q", extra, fp)[0]
                    break
                ep += 4 + esz
        entries.append({"name": name, "method": method, "crc": crc,
                        "compressed_size": csize, "size": usize,
                        "offset": local_off})
        pos += 46 + nlen + elen + clen
    return entries


def zip_extract(buf: bytes, entry: dict) -> bytes:
    """Extract one member (dict from :func:`zip_entries`), verifying
    its CRC-32."""
    pos = entry["offset"]
    if buf[pos:pos + 4] != _LFH:
        raise ValueError("zip: bad local header")
    nlen, elen = struct.unpack_from("<HH", buf, pos + 26)
    data_start = pos + 30 + nlen + elen
    raw = buf[data_start:data_start + entry["compressed_size"]]
    method = entry["method"]
    if method == 0:
        out = raw
    elif method == 8:
        from .inflate import inflate
        out = inflate(raw)[0]
    else:
        raise NotImplementedError(
            f"zip: compression method {method} is outside this reader "
            f"seam (stored/deflate)")
    if len(out) != entry["size"]:
        raise ValueError(
            f"zip: member {entry['name']!r} size mismatch "
            f"({len(out)} != {entry['size']})")
    if zlib.crc32(out) & 0xFFFFFFFF != entry["crc"]:
        raise ValueError(f"zip: member {entry['name']!r} CRC mismatch")
    return out


def read_zip_bytes(buf: bytes,
                   name_filter=None) -> "list[tuple[str, bytes]]":
    """All (name, payload) members, skipping directories."""
    out = []
    for e in zip_entries(buf):
        if e["name"].endswith("/"):
            continue
        if name_filter is not None and not name_filter(e["name"]):
            continue
        out.append((e["name"], zip_extract(buf, e)))
    return out


def zip_write_bytes(members: "list[tuple[str, bytes]]",
                    method: str = "deflate",
                    comment: bytes = b"") -> bytes:
    """From-scratch ZIP WRITER — the write-side twin of
    :func:`zip_entries` (round-8 plane symmetry: every other format
    pillar is bidirectional).  STORED or DEFLATE members, the latter
    compressed by `inflate.deflate_encode` (stdlib zlib), so a stdlib
    ``zipfile`` reading the archive independently validates the
    container layout: headers, sizes and CRCs.  Output is
    deterministic: fixed DOS timestamp (1980-01-01), no extra fields,
    members in the given order.

    Honest seam: no ZIP64 — archives or members at the 4 GiB / 65535
    boundaries raise (a corpus shard writer rolls files long before
    that)."""
    from .inflate import deflate_encode

    if method not in ("stored", "deflate"):
        raise NotImplementedError(
            f"method {method!r} (stored and deflate are supported)")
    if len(members) > 0xFFFE:
        raise NotImplementedError("ZIP64 member counts (> 65534)")
    out = bytearray()
    central = bytearray()
    for name, payload in members:
        nameb = name.encode("utf-8")
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        comp = deflate_encode(payload) if method == "deflate" else payload
        meth = 8 if method == "deflate" else 0
        if max(len(payload), len(comp)) >= 0xFFFFFFFF:
            raise NotImplementedError("ZIP64 member sizes (>= 4 GiB)")
        offset = len(out)
        if offset >= 0xFFFFFFFF:
            raise NotImplementedError("ZIP64 archive offsets (>= 4 GiB)")
        # local file header: version 20, flags 0, DOS time/date 0/0x21
        # (1980-01-01 00:00:00 — the epoch of the DOS format)
        lfh = struct.pack("<4sHHHHHIIIHH", _LFH, 20, 0, meth, 0, 0x21,
                          crc, len(comp), len(payload), len(nameb), 0)
        out += lfh + nameb + comp
        central += struct.pack(
            "<4sHHHHHHIIIHHHHHII", _CDH, 20, 20, 0, meth, 0, 0x21,
            crc, len(comp), len(payload), len(nameb), 0, 0, 0, 0, 0,
            offset)
        central += nameb
    cd_offset = len(out)
    out += central
    if len(out) >= 0xFFFFFFFF:
        raise NotImplementedError("ZIP64 central directory offsets")
    out += struct.pack("<4sHHHHIIH", _EOCD, 0, 0, len(members),
                       len(members), len(central), cd_offset,
                       len(comment))
    out += comment
    return bytes(out)


def write_zip_distributed(df, out_dir: str, name_col: str,
                          payload_col: str,
                          method: str = "deflate") -> int:
    """Per-partition ZIP shard sink: each task packs its rows into ONE
    archive written by :func:`zip_write_bytes` — the corpus-drop
    counterpart of `parquet_write.write_parquet_distributed`, same
    one-file-per-task scale shape.  Returns archives written."""
    import os
    import uuid

    os.makedirs(out_dir, exist_ok=True)

    def sink(batches):
        import pandas as pd
        members = []
        for pdf in batches:
            for n, p in zip(pdf[name_col], pdf[payload_col]):
                members.append((str(n), bytes(p)))
        if members:
            data = zip_write_bytes(members, method=method)
            fn = os.path.join(out_dir, f"shard-{uuid.uuid4().hex}.zip")
            with open(fn, "wb") as f:
                f.write(data)
            yield pd.DataFrame({"archives": [1]})
        else:
            yield pd.DataFrame({"archives": [0]})

    out = df.mapInPandas(sink, "archives int")
    from pyspark.sql import functions as F
    [row] = out.agg(F.sum("archives").alias("n")).collect()
    return int(row["n"] or 0)


def read_zip_distributed(spark, path_glob: str,
                         suffix: "str | None" = None):
    """Distributed ZIP ingestion: ``binaryFile`` scan (one task per
    archive) -> members exploded as (archive, member, payload) rows."""
    import pandas as pd

    def decode(batches):
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                rows = {"archive": [], "member": [], "payload": []}
                for name, payload in read_zip_bytes(
                        bytes(blob),
                        None if suffix is None
                        else (lambda n: n.endswith(suffix))):
                    rows["archive"].append(path)
                    rows["member"].append(name)
                    rows["payload"].append(payload)
                yield pd.DataFrame(rows)

    blobs = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "content")
    )
    return blobs.mapInPandas(
        decode, "archive string, member string, payload binary")
