"""DEFLATE (RFC 1951) with the RFC 1950 zlib and RFC 1952 gzip wrappers.

Decoding goes through stdlib ``zlib`` (C speed) behind three names:
:func:`inflate` (raw stream -> payload and end offset, for containers
that frame DEFLATE themselves: ZIP members, ORC zlib chunks),
:func:`zlib_decompress` and :func:`gunzip` (multi-member, the .warc.gz
shape).  The wrapper headers, Adler-32, CRC32 and ISIZE are checked
here, and every decode failure — corrupt or truncated — raises
``ValueError`` (``zlib.error`` is mapped onto it), the corruption
contract callers such as ``zip_archive.zip_extract`` rely on.

Encoding is written from the spec: greedy hash-match LZ77 into a fixed
or dynamic Huffman block (package-merge length-limited codes), the
smaller picked per input by :func:`deflate_encode`.  Its output is
byte-pinned — the ZIP, ORC and gzip-parquet writers promise
deterministic bytes, which stdlib zlib's encoder does not guarantee
across library versions — so the encoders stay in Python.
"""

from __future__ import annotations

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


# ------------------------------------------------------------- encoder

# length codes 257-285: (base, extra bits)
_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
             51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258]
_LEN_EXTRA = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
              4, 4, 4, 4, 5, 5, 5, 5, 0]
# distance codes 0-29
_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
              257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193,
              12289, 16385, 24577]
_DIST_EXTRA = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
               9, 9, 10, 10, 11, 11, 12, 12, 13, 13]
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1,
              15]


_FIXED_LIT_CODE = {}
for _s in range(144):
    _FIXED_LIT_CODE[_s] = (0x30 + _s, 8)
for _s in range(144, 256):
    _FIXED_LIT_CODE[_s] = (0x190 + (_s - 144), 9)
for _s in range(256, 280):
    _FIXED_LIT_CODE[_s] = (_s - 256, 7)
for _s in range(280, 288):
    _FIXED_LIT_CODE[_s] = (0xC0 + (_s - 280), 8)


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        """LSB-first bit packing (deflate's order)."""
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, n: int) -> None:
        """Huffman codes go MSB-first: reverse before packing."""
        rev = 0
        for _ in range(n):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, n)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def deflate_fixed(raw: bytes) -> bytes:
    """DEFLATE ENCODE — one fixed-Huffman block with greedy hash-match
    LZ77 (the write-side twin of :func:`inflate`, same shape as
    `parquet_data.snappy_compress`): any conformant inflater, stdlib
    zlib included, accepts the output."""
    w = _BitWriter()
    w.write(1, 1)  # BFINAL
    w.write(1, 2)  # BTYPE = fixed huffman

    def emit_len(length: int) -> None:
        for i in range(len(_LEN_BASE) - 1, -1, -1):
            if length >= _LEN_BASE[i]:
                code, n = _FIXED_LIT_CODE[257 + i]
                w.write_code(code, n)
                w.write(length - _LEN_BASE[i], _LEN_EXTRA[i])
                return

    def emit_dist(dist: int) -> None:
        for i in range(len(_DIST_BASE) - 1, -1, -1):
            if dist >= _DIST_BASE[i]:
                w.write_code(i, 5)
                w.write(dist - _DIST_BASE[i], _DIST_EXTRA[i])
                return

    table: dict[int, int] = {}
    n = len(raw)
    i = 0
    while i < n:
        if i + 3 <= n:
            # deterministic key (not salted hash()): output bytes must be
            # identical across processes for the writer's determinism
            # contract
            key = int.from_bytes(raw[i:i + 3], "little")
            cand = table.get(key)
            table[key] = i
            if (cand is not None and i - cand <= 32768
                    and raw[cand:cand + 3] == raw[i:i + 3]):
                m = 3
                while (i + m < n and m < 258
                       and raw[cand + m] == raw[i + m]):
                    m += 1
                emit_len(m)
                emit_dist(i - cand)
                i += m
                continue
        code, bits_n = _FIXED_LIT_CODE[raw[i]]
        w.write_code(code, bits_n)
        i += 1
    code, bits_n = _FIXED_LIT_CODE[256]
    w.write_code(code, bits_n)
    return w.finish()


def _lz77_tokens(raw: bytes) -> list:
    """Greedy hash-match LZ77 (shared by the fixed and dynamic
    encoders): ints are literal bytes, tuples are (length, distance)
    back-references.  Deterministic keys (no salted hash())."""
    table: dict[int, int] = {}
    tokens: list = []
    n = len(raw)
    i = 0
    while i < n:
        if i + 3 <= n:
            key = int.from_bytes(raw[i:i + 3], "little")
            cand = table.get(key)
            table[key] = i
            if (cand is not None and i - cand <= 32768
                    and raw[cand:cand + 3] == raw[i:i + 3]):
                m = 3
                while (i + m < n and m < 258
                       and raw[cand + m] == raw[i + m]):
                    m += 1
                tokens.append((m, i - cand))
                i += m
                continue
        tokens.append(raw[i])
        i += 1
    return tokens


def _len_sym(length: int) -> "tuple[int, int, int]":
    """(symbol, extra value, extra bits) for a match length."""
    for i in range(len(_LEN_BASE) - 1, -1, -1):
        if length >= _LEN_BASE[i]:
            return 257 + i, length - _LEN_BASE[i], _LEN_EXTRA[i]
    raise ValueError(length)


def _dist_sym(dist: int) -> "tuple[int, int, int]":
    for i in range(len(_DIST_BASE) - 1, -1, -1):
        if dist >= _DIST_BASE[i]:
            return i, dist - _DIST_BASE[i], _DIST_EXTRA[i]
    raise ValueError(dist)


def _huffman_lengths(freqs: "list[int]", max_bits: int) -> "list[int]":
    """Length-limited Huffman code lengths via PACKAGE-MERGE (the
    optimal algorithm zlib approximates): exact, deterministic, and
    never exceeds ``max_bits`` — a plain heap Huffman can emit 16+ bit
    codes on skewed frequencies, which RFC 1951 forbids."""
    live = [(f, s) for s, f in enumerate(freqs) if f > 0]
    if not live:
        return [0] * len(freqs)
    if len(live) == 1:
        out = [0] * len(freqs)
        out[live[0][1]] = 1
        return out
    if len(live) > (1 << max_bits):
        raise ValueError("alphabet larger than 2^max_bits")
    # package-merge: items are (weight, {symbol: count}) coin packages.
    # EXACTLY max_bits merge lists: list 1 is the bare symbols (the
    # loop below packages it on its first pass), lists 2..max_bits mix
    # symbols with the previous list's packages, and the final
    # selection below is list max_bits — one loop pass too many would
    # quietly raise the limit to max_bits+1 and emit 16-bit codes.
    lengths = [0] * len(freqs)
    prev: list = []
    for _level in range(max_bits - 1):
        coins = sorted(
            [(f, {s: 1}) for f, s in live] + prev,
            key=lambda x: (x[0], sorted(x[1].items())))
        prev = []
        for j in range(0, len(coins) - 1, 2):
            a, b = coins[j], coins[j + 1]
            merged = dict(a[1])
            for s, c in b[1].items():
                merged[s] = merged.get(s, 0) + c
            prev.append((a[0] + b[0], merged))
    # take the 2(n-1) cheapest packages of the final level's input
    coins = sorted(
        [(f, {s: 1}) for f, s in live] + prev,
        key=lambda x: (x[0], sorted(x[1].items())))
    for _f, syms in coins[:2 * (len(live) - 1)]:
        for s, c in syms.items():
            lengths[s] += c
    return lengths


def _canonical_codes(lengths: "list[int]") -> "list[int]":
    """RFC 1951 §3.2.2 canonical code assignment."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out = [0] * len(lengths)
    for s, ln in enumerate(lengths):
        if ln:
            out[s] = next_code[ln]
            next_code[ln] += 1
    return out


def deflate_dynamic(raw: bytes) -> bytes:
    """DEFLATE ENCODE with a DYNAMIC Huffman block (RFC 1951 §3.2.7):
    per-input optimal length-limited codes for the literal/length and
    distance alphabets, the code-length alphabet with its 16/17/18
    repeat operators, one final block.  Any conformant inflater
    (stdlib zlib included) accepts the output; on text this beats
    :func:`deflate_fixed` by the full entropy gap between the fixed
    tables and the input's real distribution."""
    tokens = _lz77_tokens(raw)

    lit_freq = [0] * 286
    dist_freq = [0] * 30
    for t in tokens:
        if isinstance(t, tuple):
            s, _, _ = _len_sym(t[0])
            lit_freq[s] += 1
            d, _, _ = _dist_sym(t[1])
            dist_freq[d] += 1
        else:
            lit_freq[t] += 1
    lit_freq[256] += 1  # end of block

    lit_len = _huffman_lengths(lit_freq, 15)
    dist_len = _huffman_lengths(dist_freq, 15)
    if not any(dist_len):
        dist_len[0] = 1  # RFC: at least one distance code
    lit_code = _canonical_codes(lit_len)
    dist_code = _canonical_codes(dist_len)

    hlit = max(257, 286 - next(
        (i for i, ln in enumerate(reversed(lit_len)) if ln), 286))
    hdist = max(1, 30 - next(
        (i for i, ln in enumerate(reversed(dist_len)) if ln), 30))

    # code-length sequence with the 16/17/18 run operators
    all_lens = lit_len[:hlit] + dist_len[:hdist]
    cl_ops: list = []  # (symbol, extra value, extra bits)
    i = 0
    while i < len(all_lens):
        ln = all_lens[i]
        run = 1
        while i + run < len(all_lens) and all_lens[i + run] == ln:
            run += 1
        consumed = run
        if ln == 0:
            while run >= 11:
                take = min(run, 138)
                cl_ops.append((18, take - 11, 7))
                run -= take
            if run >= 3:
                cl_ops.append((17, run - 3, 3))
                run = 0
            cl_ops.extend((0, 0, 0) for _ in range(run))
        else:
            cl_ops.append((ln, 0, 0))
            run -= 1
            while run >= 3:
                take = min(run, 6)
                cl_ops.append((16, take - 3, 2))
                run -= take
            cl_ops.extend((ln, 0, 0) for _ in range(run))
        i += consumed

    cl_freq = [0] * 19
    for s, _, _ in cl_ops:
        cl_freq[s] += 1
    cl_len = _huffman_lengths(cl_freq, 7)
    cl_code = _canonical_codes(cl_len)
    hclen = max(4, 19 - next(
        (i for i, s in enumerate(reversed(_CLC_ORDER))
         if cl_len[s]), 19))

    w = _BitWriter()
    w.write(1, 1)  # BFINAL
    w.write(2, 2)  # BTYPE = dynamic
    w.write(hlit - 257, 5)
    w.write(hdist - 1, 5)
    w.write(hclen - 4, 4)
    for s in _CLC_ORDER[:hclen]:
        w.write(cl_len[s], 3)
    for s, extra, ebits in cl_ops:
        w.write_code(cl_code[s], cl_len[s])
        if ebits:
            w.write(extra, ebits)
    for t in tokens:
        if isinstance(t, tuple):
            s, extra, ebits = _len_sym(t[0])
            w.write_code(lit_code[s], lit_len[s])
            if ebits:
                w.write(extra, ebits)
            d, dextra, debits = _dist_sym(t[1])
            w.write_code(dist_code[d], dist_len[d])
            if debits:
                w.write(dextra, debits)
        else:
            w.write_code(lit_code[t], lit_len[t])
    w.write_code(lit_code[256], lit_len[256])
    return w.finish()


def deflate_encode(raw: bytes) -> bytes:
    """Block-type selection, the move every real encoder makes: emit
    whichever of the FIXED and DYNAMIC encodings is smaller (ties to
    fixed — its header is 3 bits).  Dynamic wins on anything with a
    skewed distribution; fixed wins on tiny inputs where the ~dozen
    header bytes of code-length tables cost more than they save."""
    fixed = deflate_fixed(raw)
    dyn = deflate_dynamic(raw)
    return dyn if len(dyn) < len(fixed) else fixed


def zlib_compress(raw: bytes) -> bytes:
    """RFC 1950 wrapper around :func:`deflate_encode` (CMF 0x78, a
    valid FLG, trailing Adler-32)."""
    flg = 31 - (0x78 * 256) % 31
    return bytes([0x78, flg]) + deflate_encode(raw) + zlib.adler32(raw).to_bytes(4, "big")


def gzip_compress(raw: bytes) -> bytes:
    """RFC 1952 member around :func:`deflate_encode` (mtime 0, CRC32 +
    ISIZE trailer) — deterministic bytes for a given input."""
    return (b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"
            + deflate_encode(raw)
            + zlib.crc32(raw).to_bytes(4, "little")
            + (len(raw) % (1 << 32)).to_bytes(4, "little"))
