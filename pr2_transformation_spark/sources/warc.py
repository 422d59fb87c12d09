"""WARC (Web ARChive, ISO 28500) source/sink for crawl-scale ingestion.

Common Crawl — the canonical 100 TB training corpus — ships as WARC files:
a concatenation of records, each a ``WARC/1.0`` header block (CRLF-separated
``Name: value`` lines, terminated by a blank line) followed by exactly
``Content-Length`` payload BYTES and a ``CRLF CRLF`` trailer.  This module
implements both directions pure-Python over Arrow batches:

* :func:`encode_warc_frame` — pack grouped documents into one WARC blob per
  group via ``applyInPandas`` (each group assembles independently: the blob
  build parallelizes across groups and never touches the driver);
* :func:`parse_warc_records` — explode WARC blobs back into one row per
  record via ``mapInPandas`` (streaming iterator: one Arrow batch of blobs
  in, record rows out — a 1 GB WARC file costs one task, not one driver).

Parsing is byte-exact: ``Content-Length`` counts bytes, not characters, so
multi-byte UTF-8 payloads slice correctly; a malformed record raises
``ValueError`` (same failure contract as ``functions/multimodal``'s codecs).

The reference ingests from BigQuery only (``/root/reference/core/
bq_client.py``); WARC is EXT training-data-pipeline surface per the brief.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CRLF = b"\r\n"

#: Output schema of :func:`parse_warc_records`.
RECORD_SCHEMA = (
    "warc_id string, rec_type string, target_uri string, "
    "record_id string, content binary"
)


def build_warc(records: Iterable[tuple[str, str, str, bytes]]) -> bytes:
    """Assemble one WARC blob from ``(rec_type, target_uri, record_id,
    payload_bytes)`` tuples.  Headers are written in fixed order so the
    encoding is byte-deterministic (same input -> same blob -> stable
    checksums for the round-trip oracle)."""
    out = bytearray()
    for rec_type, uri, rec_id, payload in records:
        out += b"WARC/1.0" + _CRLF
        out += b"WARC-Type: " + rec_type.encode() + _CRLF
        out += b"WARC-Record-ID: <" + rec_id.encode() + b">" + _CRLF
        if uri:
            out += b"WARC-Target-URI: " + uri.encode() + _CRLF
        out += b"Content-Length: " + str(len(payload)).encode() + _CRLF
        out += _CRLF
        out += payload
        out += _CRLF + _CRLF
    return bytes(out)


def build_warc_gz(records: Iterable[tuple[str, str, str, bytes]]) -> bytes:
    """``.warc.gz`` — one gzip MEMBER per record, the Common Crawl
    layout: every member boundary is an independent resume/split point,
    which is what makes a 100 TB crawl archive range-readable (a CDX
    index maps records to byte offsets; a reader seeks and inflates one
    member without touching the rest).  Deterministic members (mtime 0,
    no filename)."""
    from .inflate import gzip_compress

    return b"".join(gzip_compress(build_warc([rec])) for rec in records)


def scan_warc_gz_members(blob: bytes) -> list[tuple[int, int]]:
    """Member index of a ``.warc.gz``: [(offset, end), ...] — the
    in-memory CDX.  Boundaries are found the lossless way (each
    member's DEFLATE stream is walked with ``zlib.decompressobj`` and
    ``unused_data`` marks the next member), not by magic-byte guessing
    which false-positives inside compressed payloads."""
    import zlib

    members = []
    pos = 0
    n = len(blob)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        d.decompress(blob[pos:])
        if not d.eof:
            raise ValueError("warc.gz: truncated gzip member")
        end = n - len(d.unused_data)
        members.append((pos, end))
        pos = end
    return members


def read_warc_gz_member(blob: bytes, offset: int, end: int) -> dict:
    """Random access: inflate ONE member and parse its single record."""
    import zlib

    raw = zlib.decompress(blob[offset:end], 16 + zlib.MAX_WBITS)
    [rec] = parse_warc(raw)
    return rec


def parse_warc_gz(blob: bytes) -> list[dict]:
    """Parse a whole ``.warc.gz`` (all members)."""
    return [read_warc_gz_member(blob, a, b)
            for a, b in scan_warc_gz_members(blob)]


def parse_warc(blob: bytes) -> list[dict]:
    """Walk a WARC blob into a list of record dicts.

    Tolerates arbitrary header order and unknown headers (real crawl
    WARCs carry a dozen); requires WARC/0.x-1.x magic and an exact
    ``Content-Length``.  Raises ``ValueError`` on structural damage —
    never returns silently-truncated records.
    """
    records: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        head_end = blob.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        lines = blob[pos:head_end].split(_CRLF)
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0][:40]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            name, sep, value = line.partition(b": ")
            if not sep:
                raise ValueError(f"malformed WARC header line: {line[:40]!r}")
            headers[name.decode().lower()] = value.decode()
        if "content-length" not in headers:
            raise ValueError("record missing Content-Length")
        length = int(headers["content-length"])
        body_start = head_end + 4
        body_end = body_start + length
        if blob[body_end : body_end + 4] != _CRLF + _CRLF:
            raise ValueError("record payload not followed by CRLF CRLF")
        records.append(
            {
                "rec_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "record_id": headers.get("warc-record-id", "").strip("<>"),
                "content": blob[body_start:body_end],
            }
        )
        pos = body_end + 4
    return records


def encode_warc_frame(
    df: DataFrame,
    group_col: str,
    uri_col: str,
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """Pack documents into one WARC blob per ``group_col`` value ->
    ``(warc_id string, n_records long, warc binary)``.

    Records are ordered by ``id_col`` within each group, so the blob
    bytes are a pure function of the group's rows — deterministic under
    any shuffle order.  One ``applyInPandas`` over the group shuffle;
    group sizing is the caller's scale lever (aim for the 0.1-1 GB blobs
    real crawls use, via e.g. ``pmod(xxhash64(url), n_files)``).
    """

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        payloads = [
            p if isinstance(p, bytes) else str(p).encode()
            for p in pdf[payload_col]
        ]
        blob = build_warc(
            ("response", str(u), f"urn:doc:{i}", p)
            for u, i, p in zip(pdf[uri_col], pdf[id_col], payloads)
        )
        return pd.DataFrame(
            {"warc_id": [str(key[0])], "n_records": [len(pdf)], "warc": [blob]}
        )

    return (
        df.select(group_col, uri_col, id_col, payload_col)
        .groupBy(group_col)
        .applyInPandas(pack, "warc_id string, n_records long, warc binary")
    )


def parse_warc_records(df: DataFrame, warc_col: str = "warc", id_col: str = "warc_id") -> DataFrame:
    """Explode WARC blobs into records (see :data:`RECORD_SCHEMA`).

    ``mapInPandas`` with an iterator body: each incoming Arrow batch of
    blobs yields one outgoing batch of records, so peak memory is one
    blob's records, never one partition's.
    """

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "warc_id": [],
                "rec_type": [],
                "target_uri": [],
                "record_id": [],
                "content": [],
            }
            for wid, blob in zip(pdf[id_col], pdf[warc_col]):
                for rec in parse_warc(bytes(blob)):
                    rows["warc_id"].append(str(wid))
                    rows["rec_type"].append(rec["rec_type"])
                    rows["target_uri"].append(rec["target_uri"])
                    rows["record_id"].append(rec["record_id"])
                    rows["content"].append(rec["content"])
            yield pd.DataFrame(rows)

    return df.select(id_col, warc_col).mapInPandas(explode, RECORD_SCHEMA)


try:  # Spark 4 Python DataSource API (pyspark.sql.datasource)
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class WarcDataSource(DataSource):
        """``spark.read.format("warc").load(dir)`` — the WARC parser as
        a first-class Spark 4 Python data source.

        One :class:`InputPartition` per ``.warc`` file (the same
        file-level parallelism real crawls shard by); each partition
        streams its records through :func:`parse_warc`.  Register once
        per session::

            spark.dataSource.register(WarcDataSource)
            spark.read.format("warc").load("/crawl/segment-00/")

        File listing happens on the driver (cheap: names only); record
        parsing happens on executors.
        """

        @classmethod
        def name(cls) -> str:
            return "warc"

        def schema(self) -> str:
            return RECORD_SCHEMA

        def reader(self, schema):
            return _WarcReader(self.options)

        def streamReader(self, schema):
            return _WarcStreamReader(self.options)

    class _WarcReader(DataSourceReader):
        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("warc source requires a path: .load(dir)")

        def partitions(self):
            import glob
            import os as _os

            files = sorted(
                glob.glob(_os.path.join(self._path, "**", "*.warc"), recursive=True)
            )
            if not files:
                raise ValueError(f"no .warc files under {self._path}")
            return [InputPartition(f) for f in files]

        def read(self, partition):
            path = partition.value
            with open(path, "rb") as fh:
                blob = fh.read()
            for rec in parse_warc(blob):
                yield (
                    path,
                    rec["rec_type"],
                    rec["target_uri"],
                    rec["record_id"],
                    rec["content"],
                )

    class _WarcStreamReader(DataSourceStreamReader):
        """Micro-batch streaming over a crawl directory: each trigger
        picks up ``.warc`` files not yet processed (the continuous-
        ingestion shape of a live crawl drop zone).

        The offset is the sorted list of file names seen so far — exact
        (no mtime races, out-of-order arrivals included) and recoverable
        from the checkpoint log.  It grows with file count, which is fine
        for drop-zone cadences (thousands of files); a production
        variant would compact to a high-watermark + recent window.
        Batch contents are deterministic given (start, end), so replays
        after failure yield identical batches — exactly-once with any
        idempotent sink.
        """

        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("warc source requires a path: .load(dir)")

        def _listing(self) -> list:
            import glob
            import os as _os

            return sorted(
                glob.glob(_os.path.join(self._path, "**", "*.warc"), recursive=True)
            )

        def initialOffset(self):
            return {"files": []}

        def latestOffset(self):
            return {"files": self._listing()}

        def partitions(self, start, end):
            new = sorted(set(end["files"]) - set(start["files"]))
            return [InputPartition(f) for f in new]

        def read(self, partition):
            path = partition.value
            with open(path, "rb") as fh:
                blob = fh.read()
            for rec in parse_warc(blob):
                yield (
                    path,
                    rec["rec_type"],
                    rec["target_uri"],
                    rec["record_id"],
                    rec["content"],
                )

        def commit(self, end):
            pass  # nothing to clean up: files are the durable log

except ImportError:  # pragma: no cover — pre-4.0 Spark
    WarcDataSource = None  # type: ignore[assignment]


def read_warc_dir(spark, path: str) -> DataFrame:
    """Read a directory of ``.warc`` files as records: ``binaryFile``
    scan (each file one row, content lazily loaded) -> record explode.
    Files are the unit of parallelism, matching how crawls shard."""
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(path)
        .select(F.col("path").alias("warc_id"), F.col("content").alias("warc"))
    )
    return parse_warc_records(blobs)
