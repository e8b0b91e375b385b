"""Spec-format Iceberg table metadata: v2 metadata JSON + Avro manifests.

The JSON ``ManifestTable`` (manifest.py) is this repo's fast analog of
Iceberg metadata; THIS module implements the real format from the public
Iceberg table spec so a table written here is laid out exactly like a
Hadoop-catalog Iceberg warehouse (the reference operates on such tables
via iceberg-rust — core/src/compaction/mod.rs:44,66-72):

    {location}/metadata/v{N}.metadata.json     table metadata (JSON, v2)
    {location}/metadata/version-hint.text      current version pointer
    {location}/metadata/snap-*.avro            manifest lists (Avro)
    {location}/metadata/*-m*.avro              manifest files (Avro)

Spec features implemented:
- format-version 2 metadata JSON with schemas (field-ids), partition
  specs, snapshots, snapshot-log, metadata-log, last-sequence-number.
- Avro object-container manifest lists + manifests (sources/avro_io.py,
  hand-rolled codec) with the spec's field-ids on every Avro field.
- Sequence-number INHERITANCE: ADDED entries are written with null
  ``sequence_number`` and inherit the manifest-list entry's sequence
  number at read time (spec, "Sequence Number Inheritance").
- Data vs delete manifests (``content`` 0/1); DataFile content
  0=data / 1=position deletes / 2=equality deletes + equality_ids.
- Single-value binary serialization for lower/upper bounds.
- Optimistic-concurrency commits: the new metadata version is created
  with O_EXCL, so of two racing committers exactly one wins (the
  Hadoop-catalog commit protocol).

``IcebergTable`` is one of the two codecs of the shared table model
(:mod:`ic_spark.compaction.table_model`): it decodes the table state and
its snapshots, and applies each transition the model computes by writing
manifests, a manifest list and ``v{N+1}.metadata.json``.  The model plans
scans, runs the DDL and computes every commit over it, so
``Compaction.full_compact`` runs unchanged over spec metadata.

Scale note: manifests are KB-scale driver-side planning I/O, exactly as
Iceberg libraries read them.  Data files stay Parquet and are scanned
distributed; nothing here touches the data path.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from typing import Any

from pyspark.sql import types as T

from ic_spark.compaction.epochs import (
    date_from_epoch_days,
    datetime_from_epoch_micros,
    epoch_days,
    epoch_micros,
)

from ic_spark.compaction.request import FileContent
from ic_spark.sources.avro_io import read_container, write_container

from ic_spark.compaction.metafs import check_remote_commit_safety
from ic_spark.compaction.table_model import (
    CommitConflictError,
    ModelState,
    TableModel,
    Transition,
    activation_boundaries,
    check_live,
    iceberg_to_spark_type,
    now_ms,
    schema_to_iceberg,
)

# --------------------------------------------------- type serialization


def serialize_bound(dt: T.DataType, value: Any) -> bytes | None:
    """Iceberg single-value binary serialization (spec Appendix D)."""
    if value is None:
        return None
    try:
        if isinstance(dt, T.BooleanType):
            return b"\x01" if value else b"\x00"
        if isinstance(dt, T.IntegerType):
            return struct.pack("<i", int(value))
        if isinstance(dt, T.LongType):
            return struct.pack("<q", int(value))
        if isinstance(dt, T.FloatType):
            return struct.pack("<f", float(value))
        if isinstance(dt, T.DoubleType):
            return struct.pack("<d", float(value))
        if isinstance(dt, T.StringType):
            return str(value).encode("utf-8")
        if isinstance(dt, T.DecimalType):
            from decimal import Decimal, localcontext

            # widened context: default 28-digit precision would round
            # decimal(p>28) bounds during scaleb
            with localcontext() as ctx:
                ctx.prec = 80
                unscaled = int(Decimal(str(value)).scaleb(dt.scale))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(n, "big", signed=True)
        # Temporal bounds (spec Appendix D: date = int32 epoch days,
        # timestamp(tz) = int64 epoch micros).  Footer stats arrive as
        # str(date/datetime) via the writer's _json_safe; other
        # producers pass the objects.
        if isinstance(dt, T.DateType):
            import datetime as _dtm

            v = value
            if isinstance(v, bool):
                return None
            if isinstance(v, int):
                # already the spec-internal representation (epoch days)
                return struct.pack("<i", v)
            if isinstance(v, str):
                v = _dtm.date.fromisoformat(v)  # time parts → ValueError
            if isinstance(v, _dtm.datetime):
                # Truncating a timestamped value is direction-dependent
                # (sound for a lower bound, UNSOUND for an upper one)
                # and this function can't know which it is encoding —
                # only exact midnights pass.
                if (
                    v.hour or v.minute or v.second
                    or v.microsecond or v.tzinfo is not None
                ):
                    return None
                v = v.date()
            if not isinstance(v, _dtm.date):
                return None  # producer-supplied stat of a foreign shape
            return struct.pack("<i", epoch_days(v))
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            import datetime as _dtm

            v = value
            if isinstance(v, bool):
                return None
            if isinstance(v, int):
                # already the spec-internal representation (epoch µs)
                return struct.pack("<q", v)
            if isinstance(v, str):
                v = _dtm.datetime.fromisoformat(v)
            if not isinstance(v, _dtm.datetime):
                return None  # date / foreign shapes: no faithful instant
            # Awareness must match the column semantics: a naive value
            # for an instant column (or an offset-carrying one for NTZ)
            # would persist a bound off by its UTC offset and mis-prune
            # later range scans — skip instead of reinterpreting.
            if (v.tzinfo is None) is not isinstance(dt, T.TimestampNTZType):
                return None
            return struct.pack("<q", epoch_micros(v))
    except (ValueError, TypeError):
        return None
    return None


def deserialize_bound(dt: T.DataType, b: bytes | None) -> Any:
    """Inverse of :func:`serialize_bound` (spec Appendix D) — used to
    re-hydrate manifest lower/upper bounds for planning-time skipping."""
    if b is None:
        return None
    try:
        if isinstance(dt, T.BooleanType):
            return b != b"\x00"
        if isinstance(dt, T.IntegerType):
            return struct.unpack("<i", b)[0]
        if isinstance(dt, T.LongType):
            return struct.unpack("<q", b)[0]
        if isinstance(dt, T.FloatType):
            return struct.unpack("<f", b)[0]
        if isinstance(dt, T.DoubleType):
            return struct.unpack("<d", b)[0]
        if isinstance(dt, T.StringType):
            return b.decode("utf-8")
        if isinstance(dt, T.DecimalType):
            from decimal import Decimal, localcontext

            with localcontext() as ctx:
                ctx.prec = 80
                return Decimal(int.from_bytes(b, "big", signed=True)).scaleb(
                    -dt.scale
                )
        # Temporals decode to the objects whose awareness matches the
        # column semantics: TimestampType is an INSTANT (aware UTC),
        # TimestampNTZType a wall-clock (naive) — the stats comparator
        # refuses cross-awareness pairs, so decoding both to naive
        # would wrongly compare an instant against a wall-clock
        # literal.
        if isinstance(dt, T.DateType):
            return date_from_epoch_days(struct.unpack("<i", b)[0])
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            import datetime as _dtm

            ts = datetime_from_epoch_micros(struct.unpack("<q", b)[0])
            if isinstance(dt, T.TimestampType):
                ts = ts.replace(tzinfo=_dtm.timezone.utc)
            return ts
    # OverflowError: a foreign/corrupt manifest can carry temporal ints
    # outside datetime's range — an unreadable bound must degrade to
    # "no bound" (keep), not crash every scan of the table.
    except (ValueError, TypeError, struct.error, OverflowError):
        return None
    return None


# -------------------------------------------------------- avro schemas


# Identity-partition source types whose internal representation cannot
# be fed to the planner's CAST-based fill: str(bytes) casts to WRONG
# bytes, and Spark has no TIME column type.  Skipped explicitly — a
# null partition column beats a silently wrong one.
_FILL_UNCONVERTIBLE = ("binary", "uuid", "time")


def _coerce_partition_value(t, v):
    """Coerce one partition value to its manifest Avro field type.

    Two producers feed the typed partition struct: NEW files (hive-dir
    strings, python date/datetime objects) and CARRIED entries
    re-encoded at every commit (already spec-internal ints, which pass
    through).  The strict union encoder rejects mismatched types, so
    every convertible shape lands on the wire type; unconvertible
    input degrades to null (a null partition value beats a failed
    commit).  Naive timestamp strings are taken as written (UTC
    sessions — the epoch math is exact integer arithmetic)."""
    import datetime as _dt

    if v is None:
        return None
    try:
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "date":
                if isinstance(v, _dt.datetime):
                    v = v.date()
                if isinstance(v, _dt.date):
                    return epoch_days(v)
                if isinstance(v, str):
                    return epoch_days(_dt.date.fromisoformat(v))
                return int(v)
            if lt in (
                "timestamp-micros", "local-timestamp-micros", "time-micros"
            ):
                if isinstance(v, str):
                    v = _dt.datetime.fromisoformat(v)
                if isinstance(v, _dt.datetime):
                    # Aware values measure from the UTC epoch, naive
                    # from the naive epoch (compaction/epochs.py — the
                    # one shared copy of that tz-sensitive rule).
                    return epoch_micros(v)
                return int(v)
            return v
        if t in ("int", "long"):
            return int(v)
        if t in ("float", "double"):
            return float(v)
        if t == "bytes":
            return bytes(v)
        if t == "string":
            return v if isinstance(v, str) else str(v)
        if t == "boolean":
            if isinstance(v, str):
                return v.lower() == "true"
            return bool(v)
        return v
    except (TypeError, ValueError):
        return None


def fill_partition_values(
    partition: dict | None,
    spec_fields: list[dict] | None,
    id_to_ice: dict[int, Any],
) -> dict | None:
    """Convert Iceberg INTERNAL partition representations into strings
    the planner's partition fill (``planner.FileLookup``:
    ``coalesce(page, CAST(str(value)))``) resolves to the right typed
    values.

    Per the spec's "Partition struct" encoding, identity partitions
    over DATE store int days-from-epoch and TIMESTAMP(TZ) store long
    micros-from-epoch — ``str()`` of those casts to null and the fill
    silently no-ops.  Values that are already strings (this repo's own
    hive-dir writer) pass through untouched; binary/fixed/uuid/time
    identity values are dropped from the fill map (see
    ``_FILL_UNCONVERTIBLE``)."""
    import datetime as _dt

    if not partition:
        return partition or None
    by_name = {pf["name"]: pf for pf in (spec_fields or [])}
    out: dict = {}
    for k, v in partition.items():
        pf = by_name.get(k)
        if pf is None or pf.get("transform") != "identity":
            out[k] = v
            continue
        ice_t = id_to_ice.get(pf.get("source-id"))
        t = ice_t if isinstance(ice_t, str) else ""
        if t in _FILL_UNCONVERTIBLE or t.startswith("fixed"):
            continue
        if t == "date" and isinstance(v, int):
            v = date_from_epoch_days(v).isoformat()
        elif t in ("timestamp", "timestamptz") and isinstance(v, int):
            ts = datetime_from_epoch_micros(v)
            v = ts.strftime("%Y-%m-%d %H:%M:%S.%f")
            if t == "timestamptz":
                # spec: micros stored in UTC; the explicit offset keeps
                # the cast exact under any Spark session timezone.
                v += "+00:00"
        out[k] = v
    return out or None


def _f(fid: int, name: str, typ: Any, **kw) -> dict:
    d = {"name": name, "type": typ, "field-id": fid}
    d.update(kw)
    return d


def _opt(typ: Any) -> list:
    return ["null", typ]


_INT_BYTES_MAP = {
    "type": "array",
    "logicalType": "map",
    "items": {
        "type": "record",
        "name": "k_v_bytes",
        "fields": [
            {"name": "key", "type": "int", "field-id": 117},
            {"name": "value", "type": "bytes", "field-id": 118},
        ],
    },
}
_INT_LONG_MAP = {
    "type": "array",
    "logicalType": "map",
    "items": {
        "type": "record",
        "name": "k_v_long",
        "fields": [
            {"name": "key", "type": "int", "field-id": 119},
            {"name": "value", "type": "long", "field-id": 120},
        ],
    },
}


def manifest_entry_schema(partition_fields: list[dict]) -> dict:
    """Avro schema for manifest_entry (spec "Manifests", v2 field ids).

    ``partition_fields`` are Avro fields for the partition struct
    (empty for unpartitioned tables).
    """
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _f(134, "content", "int"),
            _f(100, "file_path", "string"),
            _f(101, "file_format", "string"),
            _f(
                102,
                "partition",
                {"type": "record", "name": "r102", "fields": partition_fields},
            ),
            _f(103, "record_count", "long"),
            _f(104, "file_size_in_bytes", "long"),
            # v3 row lineage (spec "Row Lineage"): explicit first row id
            # of this data file; null on files that MATERIALIZE _row_id
            # as a physical column (compaction outputs).  This writer
            # always assigns explicit values, so the manifest-list-level
            # inheritance fields are unnecessary (the spec permits
            # explicit ids everywhere).
            _f(142, "first_row_id", _opt("long"), default=None),
            _f(109, "value_counts", _opt(_INT_LONG_MAP), default=None),
            _f(110, "null_value_counts", _opt(_INT_LONG_MAP), default=None),
            _f(125, "lower_bounds", _opt(_INT_BYTES_MAP), default=None),
            _f(128, "upper_bounds", _opt(_INT_BYTES_MAP), default=None),
            _f(132, "split_offsets", _opt({"type": "array", "items": "long"}), default=None),
            _f(135, "equality_ids", _opt({"type": "array", "items": "int"}), default=None),
            _f(140, "sort_order_id", _opt("int"), default=None),
            # v3 deletion-vector fields (spec "Data File fields"): set
            # only on puffin DV entries — one manifest entry PER vector.
            _f(143, "referenced_data_file", _opt("string"), default=None),
            _f(144, "content_offset", _opt("long"), default=None),
            _f(145, "content_size_in_bytes", _opt("long"), default=None),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _f(0, "status", "int"),
            _f(1, "snapshot_id", _opt("long"), default=None),
            _f(3, "sequence_number", _opt("long"), default=None),
            _f(4, "file_sequence_number", _opt("long"), default=None),
            _f(2, "data_file", data_file),
        ],
    }


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f(500, "manifest_path", "string"),
        _f(501, "manifest_length", "long"),
        _f(502, "partition_spec_id", "int"),
        _f(517, "content", "int"),
        _f(515, "sequence_number", "long"),
        _f(516, "min_sequence_number", "long"),
        _f(503, "added_snapshot_id", "long"),
        _f(504, "added_files_count", "int"),
        _f(505, "existing_files_count", "int"),
        _f(506, "deleted_files_count", "int"),
        _f(512, "added_rows_count", "long"),
        _f(513, "existing_rows_count", "long"),
        _f(514, "deleted_rows_count", "long"),
    ],
}

# manifest-entry status
ADDED, EXISTING, DELETED = 1, 0, 2
# manifest content
DATA_MANIFEST, DELETE_MANIFEST = 0, 1
# data_file content
CONTENT_DATA, CONTENT_POS_DELETES, CONTENT_EQ_DELETES = 0, 1, 2

_CONTENT_TO_ENUM = {
    CONTENT_DATA: FileContent.DATA,
    CONTENT_POS_DELETES: FileContent.POSITION_DELETES,
    CONTENT_EQ_DELETES: FileContent.EQUALITY_DELETES,
}
_ENUM_TO_CONTENT = {v: k for k, v in _CONTENT_TO_ENUM.items()}


# table property holding the streaming-batch ledger
_STREAM_LEDGER_PROP = "ic-spark.stream-batches"

# ------------------------------------------------------------ the table


class IcebergTable(TableModel):
    """A Hadoop-catalog-layout Iceberg v2 table (metadata side).

    Implements the table contract listed in :mod:`ic_spark.table` with
    the same method names and signatures as the JSON ``ManifestTable``,
    so every planner, writer and maintenance path takes either flavor
    without asking which one it holds.
    """

    def __init__(
        self,
        location: str,
        file_io: dict | None = None,
        *,
        single_writer: bool = False,
    ):
        from ic_spark.compaction.metafs import MetaFS

        self.file_io = file_io
        # Declares this process the table's sole committer: required to
        # use the Hadoop-catalog (version-file) commit flavor on an
        # object-store root, where exclusive-create is best-effort
        # (metafs.check_remote_commit_safety).
        self._single_writer = single_writer
        self._mfs = MetaFS(location, file_io)
        # Local: resolved filesystem path (pre-seam behavior).  Remote:
        # metadata IO uses within-FS paths; data files keep the
        # caller's spelling through Spark's Hadoop layer.
        self.root = self._mfs.root if self._mfs.is_local else location
        # Caller-spelled (full URI on object stores): every path that
        # lands IN metadata files stays interoperable; MetaFS maps
        # spellings onto the connector at IO time (within()).
        self.metadata_dir = os.path.join(self.root, "metadata")

    # -- creation / loading -------------------------------------------

    @classmethod
    def create(
        cls,
        location: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        file_io: dict | None = None,
        single_writer: bool = False,
    ) -> "IcebergTable":
        tbl = cls(location, file_io=file_io, single_writer=single_writer)
        if tbl.version() is not None:
            raise ValueError(f"table already exists at {location}")
        ice_schema = schema_to_iceberg(schema)
        name_to_id = {f["name"]: f["id"] for f in ice_schema["fields"]}
        spec_fields = [
            {
                "name": c,
                "transform": "identity",
                "source-id": name_to_id[c],
                "field-id": 1000 + i,
            }
            for i, c in enumerate(partition_by or [])
        ]
        now = int(time.time() * 1000)
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": now,
            "last-column-id": len(ice_schema["fields"]),
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": dict(properties or {}),
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        tbl._commit_metadata(meta, expected_version=None)
        return tbl

    def version(self) -> int | None:
        """The current metadata version: the hint, stepped past while the
        next version file exists (Iceberg's
        ``HadoopTableOperations.findVersion``).  A committer that crashed
        between its version-file create and its hint swap has published
        that version; without the step every later commit would collide
        with its file."""
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        v = int(self._mfs.read_text(hint).strip()) if self._mfs.exists(hint) else 0
        while self._mfs.exists(self._version_path(v + 1)):
            v += 1
        return v or None

    def _version_path(self, version: int) -> str:
        return os.path.join(self.metadata_dir, f"v{version}.metadata.json")

    def metadata(self, version: int | None = None) -> dict:
        """Current metadata, or the EXACT ``version`` when given — the
        read-version-then-metadata ordering optimistic committers need
        (metadata-then-version lets a racing commit pair stale metadata
        with a fresh expected_version, silently erasing the racer)."""
        v = self.version() if version is None else version
        if v is None:
            raise ValueError(f"no iceberg table at {self.root}")
        return self._mfs.read_json(self._version_path(v))

    def _metadata_for_commit(self) -> tuple[int | None, dict]:
        """(version, that exact version's metadata) for an optimistic
        commit.  The version is read first: reading metadata first lets a
        commit that lands between the two reads pair stale metadata with
        a fresh expected_version, and the CAS then erases that commit."""
        version = self.version()
        return version, self.metadata(version)

    def _commit_metadata(self, meta: dict, expected_version: int | None) -> None:
        """Hadoop-catalog commit: O_EXCL create of v{N+1}, then hint swap.

        Exactly one of two racing committers can create the version
        file; the loser gets :class:`CommitConflictError`.  On
        object-store roots the exclusive create is probe-then-PUT
        (best-effort — object stores have no O_EXCL), so this flavor
        REFUSES to commit there unless the deployment declares
        single-writer (``single_writer=True`` or the
        ``commit.single-writer=true`` table property); multi-writer
        deployments must commit through a SQL/REST catalog whose CAS is
        the commit point (see :mod:`.metafs`).
        """
        check_remote_commit_safety(
            self._mfs,
            self._single_writer,
            meta.get("properties"),
            "table metadata",
        )
        self._mfs.makedirs(self.metadata_dir)
        new_version = (expected_version or 0) + 1
        current = self.version()
        if current != expected_version:
            raise CommitConflictError(
                f"table moved: expected metadata v{expected_version}, found v{current}"
            )
        path = self._version_path(new_version)
        if expected_version is not None:
            meta = dict(meta)
            meta["metadata-log"] = list(meta.get("metadata-log", [])) + [
                {
                    "timestamp-ms": int(time.time() * 1000),
                    "metadata-file": self._version_path(expected_version),
                }
            ]
        try:
            self._mfs.create_exclusive(
                path, json.dumps(meta, indent=1).encode("utf-8")
            )
        except FileExistsError:
            raise CommitConflictError(
                f"concurrent commit: metadata v{new_version} already exists"
            ) from None
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        self._mfs.write_atomic(
            hint, str(new_version).encode("utf-8"), suffix=f".tmp{new_version}"
        )

    # -- snapshots -----------------------------------------------------

    def next_sequence_number(self, branch: str | None = None) -> int:
        """The sequence number the next commit records.  Spec sequence
        numbers are table-wide (``last-sequence-number``), so a branch
        commit takes the same next number as a main commit."""
        return self.metadata()["last-sequence-number"] + 1

    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def ancestor_ids(self, snapshot_id: int) -> list[int]:
        """``snapshot_id`` and its ancestors, oldest first, along the
        ``parent-snapshot-id`` chain; snapshots of other branches are not
        on it."""
        by_id = {s["snapshot-id"]: s for s in self.metadata()["snapshots"]}
        if snapshot_id not in by_id:
            raise ValueError(f"snapshot {snapshot_id} not found")
        tail = []
        node = snapshot_id
        while node is not None and node in by_id:
            tail.append(node)
            node = by_id[node].get("parent-snapshot-id")
        return list(reversed(tail))

    def main_log(self) -> list[tuple[int, str | None]]:
        """(snapshot id, summary operation) of every commit main pointed
        at, oldest first: the snapshot-log is the main timeline."""
        meta = self.metadata()
        ops = {
            s["snapshot-id"]: (s.get("summary") or {}).get("operation")
            for s in meta["snapshots"]
        }
        return [
            (e["snapshot-id"], ops.get(e["snapshot-id"]))
            for e in meta.get("snapshot-log", [])
        ]

    def _snapshot(
        self, snapshot_id: int | None, meta: dict | None = None
    ) -> dict | None:
        meta = self.metadata() if meta is None else meta
        sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
        if sid in (-1, None):
            return None
        for s in meta["snapshots"]:
            if s["snapshot-id"] == sid:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")

    def _partition_avro_fields(
        self, meta: dict, spec_id: int | None = None
    ) -> list[dict]:
        sid = meta["default-spec-id"] if spec_id is None else spec_id
        spec = next(
            p for p in meta["partition-specs"] if p["spec-id"] == sid
        )
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        by_id = {f["id"]: f for f in schema["fields"]}
        out = []
        for pf in spec["fields"]:
            # An old spec may reference a since-dropped source column;
            # its carried partition values still need an encodable slot.
            src = by_id.get(pf["source-id"], {"type": "string"})
            # Partition struct fields are typed by the TRANSFORM's
            # result type (Iceberg spec): bucket/temporal ordinals are
            # int; truncate/identity keep the source type.
            transform = pf["transform"]
            if transform.startswith("bucket[") or transform in (
                "year", "month", "day", "hour"
            ):
                ice_t = "int"
            else:
                ice_t = src["type"]
            avro_t = {
                "int": "int",
                "long": "long",
                "string": "string",
                "boolean": "boolean",
                "float": "float",
                "double": "double",
                "date": {"type": "int", "logicalType": "date"},
                # spec Partition struct: timestamps store long micros,
                # annotated exactly as Iceberg's Avro mapping defines —
                # logicalType timestamp-micros plus adjust-to-utc
                # (false = without zone, true = instant).  Repo
                # convention (table_model.spark_to_iceberg_type): iceberg
                # "timestamp" is WITHOUT zone (Spark NTZ), so foreign
                # readers must not take its values as UTC instants.
                "timestamp": {
                    "type": "long",
                    "logicalType": "timestamp-micros",
                    "adjust-to-utc": False,
                },
                "timestamptz": {
                    "type": "long",
                    "logicalType": "timestamp-micros",
                    "adjust-to-utc": True,
                },
                "timestamp_ntz": {
                    "type": "long",
                    "logicalType": "timestamp-micros",
                    "adjust-to-utc": False,
                },
                "time": {"type": "long", "logicalType": "time-micros"},
                "uuid": "string",
                "binary": "bytes",
            }.get(ice_t, "string")
            out.append(
                {
                    "name": pf["name"],
                    "type": ["null", avro_t],
                    "default": None,
                    "field-id": pf["field-id"],
                }
            )
        return out

    def _entry_to_data_file(self, f: dict, meta: dict) -> dict:
        """files-dict (ManifestTable shape + optional stats) → DataFile."""
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        name_to_field = {x["name"]: x for x in schema["fields"]}
        lower, upper, nulls, values = [], [], [], []
        for col, st in (f.get("column_stats") or {}).items():
            fld = name_to_field.get(col)
            if fld is None:
                continue
            dt = iceberg_to_spark_type(fld["type"])
            lo = serialize_bound(dt, st.get("min"))
            hi = serialize_bound(dt, st.get("max"))
            if lo is not None:
                lower.append({"key": fld["id"], "value": lo})
            if hi is not None:
                upper.append({"key": fld["id"], "value": hi})
            if st.get("null_count") is not None:
                nulls.append({"key": fld["id"], "value": int(st["null_count"])})
        eq_ids = None
        if f.get("equality_ids"):
            # names the model checked against the current schema
            eq_ids = [name_to_field[c]["id"] for c in f["equality_ids"]]
        content = _ENUM_TO_CONTENT[FileContent[f.get("content", "DATA")]]
        if content == CONTENT_DATA and f.get("record_count") is None:
            # a 0 here would read as an empty file to COUNT(*) from stats
            raise ValueError(f"data file {f['path']} has no record_count")
        # Both the writer ("partition_values", hive-dir strings) and the
        # orchestrator ("partition") feed this; coerce values to the
        # partition struct's avro field types so the typed encoder
        # round-trips (dir names stringify ints).
        avro_types = {
            pf["name"]: pf["type"][1] for pf in self._partition_avro_fields(meta)
        }
        partition = {}
        raw = f.get("partition_values") or f.get("partition") or {}
        for pf_name, pf_val in raw.items():
            partition[pf_name] = _coerce_partition_value(
                avro_types.get(pf_name, "string"), pf_val
            )
        return {
            "content": content,
            "file_path": f["path"],
            "file_format": f.get("file_format", "PARQUET"),
            "partition": partition,
            "record_count": int(f.get("record_count") or 0),
            "file_size_in_bytes": int(f.get("file_size_in_bytes", 0)),
            "first_row_id": f.get("first_row_id"),
            "value_counts": values or None,
            "null_value_counts": nulls or None,
            "lower_bounds": lower or None,
            "upper_bounds": upper or None,
            "split_offsets": None,
            "equality_ids": eq_ids,
            "sort_order_id": f.get("sort_order_id"),
            "referenced_data_file": f.get("referenced_data_file"),
            "content_offset": f.get("content_offset"),
            "content_size_in_bytes": f.get("content_size_in_bytes"),
        }

    def _entries_for_file(self, f: dict, meta: dict) -> list[dict]:
        """files-dict → DataFile records; a puffin entry carrying a
        ``deletion_vectors`` map ({ref: {offset, length, cardinality}})
        expands to ONE record per vector with the v3 DV fields set —
        scan planning dedupes tasks by path, so the N records still
        yield one puffin read."""
        dvs = f.get("deletion_vectors")
        if not dvs:
            return [self._entry_to_data_file(f, meta)]
        out = []
        for ref, info in sorted(dvs.items()):
            sub = {k: v for k, v in f.items() if k != "deletion_vectors"}
            sub["record_count"] = int(info.get("cardinality", 0))
            df = self._entry_to_data_file(sub, meta)
            df["referenced_data_file"] = ref
            df["content_offset"] = info.get("offset")
            df["content_size_in_bytes"] = info.get("length")
            out.append(df)
        return out

    def _write_manifest(
        self,
        meta: dict,
        entries: list[dict],
        snapshot_id: int,
        seq: int,
        content: int,
        tag: str,
        spec_id: int | None = None,
    ) -> dict:
        """Write one manifest Avro file; return its manifest-list row.

        ``spec_id`` is the partition spec the entries were WRITTEN
        under (Iceberg: one spec per manifest) — encoding carried
        old-spec entries under the current default spec would silently
        null their partition values."""
        sid_spec = meta["default-spec-id"] if spec_id is None else spec_id
        pfields = self._partition_avro_fields(meta, sid_spec)
        schema = manifest_entry_schema(pfields)
        # Carried entries re-encode at every commit: coerce their
        # partition values to the struct's wire types (foreign tables
        # carry e.g. long micros for identity timestamps; the strict
        # union encoder rejects anything off-type).
        ptypes = {pf["name"]: pf["type"][1] for pf in pfields}
        if ptypes:
            coerced_entries = []
            for e in entries:
                part = e["data_file"].get("partition")
                if part:
                    cp = {
                        k: _coerce_partition_value(
                            ptypes.get(k, "string"), v
                        )
                        for k, v in part.items()
                    }
                    if cp != part:
                        e = {**e, "data_file": {**e["data_file"], "partition": cp}}
                coerced_entries.append(e)
            entries = coerced_entries
        path = os.path.join(
            self.metadata_dir, f"{uuid.uuid4().hex}-m{tag}.avro"
        )
        ice_schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        write_container(
            self._mfs.within(path),
            schema,
            entries,
            metadata={
                "schema": json.dumps(ice_schema),
                "partition-spec": json.dumps(
                    next(
                        p
                        for p in meta["partition-specs"]
                        if p["spec-id"] == sid_spec
                    )["fields"]
                ),
                "partition-spec-id": str(sid_spec),
                "format-version": "2",
                "content": "data" if content == DATA_MANIFEST else "deletes",
            },
            filesystem=self._mfs.fs,
        )
        added = [e for e in entries if e["status"] == ADDED]
        existing = [e for e in entries if e["status"] == EXISTING]
        seqs = [e["sequence_number"] for e in entries if e["sequence_number"] is not None]
        return {
            "manifest_path": path,
            "manifest_length": self._mfs.size(path),
            "partition_spec_id": sid_spec,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min(seqs, default=seq),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(added),
            "existing_files_count": len(existing),
            "deleted_files_count": 0,
            "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
            "existing_rows_count": sum(
                e["data_file"]["record_count"] for e in existing
            ),
            "deleted_rows_count": 0,
        }

    def _live_entries_with_spec(
        self, snapshot: dict | None, deletes_only: bool = False
    ) -> list[tuple[dict, int, int]]:
        """(manifest_entry, inherited_sequence_number, partition_spec_id)
        for every live file of ``snapshot``: sequence-number inheritance
        applied, and the manifest-level spec its partition tuple was
        written under (per-spec pruning needs it).  ``deletes_only``
        reads no data manifest."""
        if snapshot is None:
            return []
        out = []
        _, _, manifests = read_container(
            self._mfs.within(snapshot["manifest-list"]),
            filesystem=self._mfs.fs,
        )
        for mf in manifests:
            if deletes_only and mf.get("content") == DATA_MANIFEST:
                continue
            _, _, entries = read_container(
                self._mfs.within(mf["manifest_path"]),
                filesystem=self._mfs.fs,
            )
            for e in entries:
                if e["status"] == DELETED:
                    continue
                seq = e["sequence_number"]
                if seq is None:  # spec: inherit from the manifest list
                    seq = mf["sequence_number"]
                out.append((e, seq, mf.get("partition_spec_id", 0)))
        return out

    def model_state(self) -> ModelState:
        """One read of the table metadata, version first, as the shared
        table model's view."""
        version, meta = self._metadata_for_commit()
        sid = meta.get("current-snapshot-id")
        props = meta.get("properties", {})
        return ModelState(
            raw=meta,
            schemas=meta["schemas"],
            current_schema_id=meta["current-schema-id"],
            last_column_id=meta["last-column-id"],
            boundaries=activation_boundaries(
                meta["schemas"],
                json.loads(props.get("ic.schema-activation", "{}")),
            ),
            specs={
                str(p["spec-id"]): _writer_spec(meta, p)
                for p in meta["partition-specs"]
            },
            default_spec_id=meta["default-spec-id"],
            snapshots=[(s["snapshot-id"], s["timestamp-ms"]) for s in meta["snapshots"]],
            snapshot_log=[
                (e["snapshot-id"], e["timestamp-ms"])
                for e in meta.get("snapshot-log", [])
            ],
            current_snapshot_id=None if sid in (-1, None) else sid,
            snapshot_schema_ids={
                s["snapshot-id"]: s["schema-id"]
                for s in meta["snapshots"]
                if s.get("schema-id") is not None
            },
            refs={
                n: (r["snapshot-id"], r.get("type", "tag"))
                for n, r in meta.get("refs", {}).items()
            },
            next_row_id=meta.get("next-row-id"),
            stream_batches=json.loads(props.get(_STREAM_LEDGER_PROP, "{}")),
            statistics=meta.get("statistics", []),
            version=version,
        )

    def live_files(
        self,
        snapshot_id: int | None = None,
        state: ModelState | None = None,
        bounds: bool = False,
        deletes_only: bool = False,
    ) -> list[dict] | None:
        """Decode a snapshot's manifests into file dicts: one per live
        file (a deletion-vector puffin's per-vector entries fold into one
        dict, the inverse of ``_entries_for_file``), with inherited
        sequence numbers, the manifest's partition spec id, and
        the partition tuple both as stored (``partition``, in Iceberg's
        internal representation) and converted for the planner's fill
        (``partition_values``).  ``bounds``
        deserializes each entry's lower/upper bounds into
        ``column_stats`` under the current schema; ``deletes_only``
        decodes the delete manifests alone."""
        state = self.model_state() if state is None else state
        meta = state.raw
        snap = self._snapshot(snapshot_id, meta)
        if snap is None:
            return None
        fields = state.current_fields()
        id_to_ice = {f["id"]: f["type"] for f in fields}
        raw_specs = {p["spec-id"]: p["fields"] for p in meta["partition-specs"]}
        if bounds:
            id_to_name = {f["id"]: f["name"] for f in fields}
            id_to_type = {i: iceberg_to_spark_type(t) for i, t in id_to_ice.items()}
        out = []
        puffins: dict[str, dict] = {}
        for e, seq, spec_id in self._live_entries_with_spec(snap, deletes_only):
            df = e["data_file"]
            f = {
                "path": df["file_path"],
                "content": _CONTENT_TO_ENUM[df["content"]].name,
                "sequence_number": seq,
                "equality_ids": list(df["equality_ids"] or []),
                "file_size_in_bytes": df["file_size_in_bytes"],
                "record_count": df["record_count"],
                # Iceberg spells formats upper-case in manifests.
                "file_format": (df.get("file_format") or "PARQUET").lower(),
                "first_row_id": df.get("first_row_id"),
                "sort_order_id": df.get("sort_order_id"),
                "partition": df.get("partition") or {},
                "partition_values": fill_partition_values(
                    df.get("partition"), raw_specs.get(spec_id), id_to_ice
                ),
                "spec_id": spec_id,
            }
            if df.get("referenced_data_file"):
                dv = {
                    "offset": df.get("content_offset"),
                    "length": df.get("content_size_in_bytes"),
                    "cardinality": df["record_count"],
                }
                folded = puffins.get(f["path"])
                if folded is not None:
                    folded["deletion_vectors"][df["referenced_data_file"]] = dv
                    folded["record_count"] += df["record_count"]
                    continue
                f["deletion_vectors"] = {df["referenced_data_file"]: dv}
                puffins[f["path"]] = f
            if bounds:
                stats: dict[str, dict] = {}
                for kind, key in (("lower_bounds", "min"), ("upper_bounds", "max")):
                    for kv in df.get(kind) or []:
                        fid = kv["key"]
                        if fid not in id_to_name:
                            continue
                        v = deserialize_bound(id_to_type[fid], kv["value"])
                        if v is not None:
                            stats.setdefault(id_to_name[fid], {})[key] = v
                f["column_stats"] = stats
            out.append(f)
        return out

    def _commit_snapshot(
        self,
        meta: dict,
        expected_version: int,
        carried: list[tuple[dict, int, int]],
        added: list[dict],
        operation: str,
        branch: str | None = None,
    ) -> int:
        """Write manifests + manifest list + new metadata version.

        ``carried`` are raw (entry, sequence number, spec id) triples of
        live files, kept as EXISTING entries; ``added`` are new DataFile
        records, written with a null sequence number that readers
        inherit from this commit's (spec inheritance path).
        """
        now = now_ms()
        self._mfs.makedirs(self.metadata_dir)  # manifests precede commit
        seq = meta["last-sequence-number"] + 1
        sid = int.from_bytes(os.urandom(7), "big")  # spec: unique long id
        parent = meta.get("current-snapshot-id", -1)
        if branch is not None:
            ref = meta.get("refs", {}).get(branch)
            if ref is not None:
                parent = ref["snapshot-id"]

        # One manifest per (content, partition spec): entries carried
        # from older specs keep their own partition struct (Iceberg's
        # one-spec-per-manifest rule) — re-encoding them under the
        # current default spec would silently null their values.
        default_sid = meta["default-spec-id"]
        data_by_spec: dict[int, list[dict]] = {}
        delete_by_spec: dict[int, list[dict]] = {}
        rows = [({**e, "status": EXISTING}, s, sp) for e, s, sp in carried] + [
            ({"status": ADDED, "snapshot_id": None, "sequence_number": None,
              "file_sequence_number": None, "data_file": df}, None, default_sid)
            for df in added
        ]
        for e, s, spec_id in rows:
            entry = dict(e)
            entry["snapshot_id"] = entry.get("snapshot_id") or sid
            entry["sequence_number"] = s  # None → inherited
            entry["file_sequence_number"] = entry.get("file_sequence_number") or s
            bucket = (
                data_by_spec
                if entry["data_file"]["content"] == CONTENT_DATA
                else delete_by_spec
            )
            bucket.setdefault(spec_id, []).append(entry)

        manifests = []
        for spec_id in sorted(data_by_spec):
            manifests.append(
                self._write_manifest(
                    meta, data_by_spec[spec_id], sid, seq, DATA_MANIFEST,
                    f"0s{spec_id}", spec_id=spec_id,
                )
            )
        for spec_id in sorted(delete_by_spec):
            manifests.append(
                self._write_manifest(
                    meta, delete_by_spec[spec_id], sid, seq, DELETE_MANIFEST,
                    f"1s{spec_id}", spec_id=spec_id,
                )
            )
        mlist_path = os.path.join(
            self.metadata_dir, f"snap-{sid}-1-{uuid.uuid4().hex}.avro"
        )
        write_container(
            self._mfs.within(mlist_path),
            MANIFEST_LIST_SCHEMA,
            manifests,
            metadata={"format-version": "2"},
            filesystem=self._mfs.fs,
        )
        snapshot = {
            "snapshot-id": sid,
            "parent-snapshot-id": parent if parent not in (-1, None) else None,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": mlist_path,
            "schema-id": meta["current-schema-id"],
            "summary": {
                "operation": operation,
                "added-data-files": str(len(added)),
            },
        }
        new_meta = dict(meta)
        new_meta["last-sequence-number"] = seq
        new_meta["last-updated-ms"] = now
        new_meta["snapshots"] = list(meta["snapshots"]) + [snapshot]
        if branch is not None:
            refs = dict(meta.get("refs", {}))
            refs[branch] = {"snapshot-id": sid, "type": "branch"}
            new_meta["refs"] = refs  # main pointer does not move
        else:
            new_meta["current-snapshot-id"] = sid
            new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
                {"timestamp-ms": now, "snapshot-id": sid}
            ]
        self._commit_metadata(new_meta, expected_version=expected_version)
        return sid

    def _apply(self, base: ModelState, tr: Transition) -> int | None:
        """Write ``tr`` as metadata version ``base.version + 1``: a
        snapshot commit writes its manifests and manifest list first.
        Carried files stay the raw manifest entries of the base snapshot.
        The version-file create (or the catalog's pointer swap) is the
        compare-and-swap.  Returns the new snapshot id for a snapshot
        commit, the spec id for a partition-spec change."""
        if tr.stage:
            raise ValueError(
                "staged (write-audit-publish) commits are JSON-flavor only"
            )
        meta = dict(base.raw)
        now = now_ms()
        out = None
        if tr.current is not None:
            meta["current-snapshot-id"] = tr.current
            meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
                {"timestamp-ms": now, "snapshot-id": tr.current}
            ]
        if tr.refs:
            refs = dict(meta.get("refs", {}))
            for name, ref in tr.refs.items():
                if ref is None:
                    refs.pop(name, None)
                else:
                    refs[name] = {"snapshot-id": ref[0], "type": ref[1]}
            meta["refs"] = refs
        if tr.keep is not None:
            meta["snapshots"] = [
                s for s in meta["snapshots"] if s["snapshot-id"] in tr.keep
            ]
            meta["snapshot-log"] = [
                x for x in meta.get("snapshot-log", []) if x["snapshot-id"] in tr.keep
            ]
        props = dict(meta.get("properties", {}))
        if tr.stream_batches is not None:
            props[_STREAM_LEDGER_PROP] = json.dumps(tr.stream_batches)
        if tr.schema is not None:
            schemas, new_id, last_col, boundary = tr.schema
            meta["schemas"] = schemas
            meta["current-schema-id"] = new_id
            meta["last-column-id"] = last_col
            act = json.loads(props.get("ic.schema-activation", "{}"))
            act[str(new_id)] = boundary
            props["ic.schema-activation"] = json.dumps(act)
        if props != meta.get("properties", {}):
            meta["properties"] = props
        if tr.statistics is not None:
            meta["statistics"] = tr.statistics
        if tr.spec is not None:
            out = self._register_spec(meta, tr.spec)
        if tr.row_ids is not None:
            meta["format-version"] = 3
        if tr.next_row_id is not None:
            meta["next-row-id"] = tr.next_row_id
        meta["last-updated-ms"] = now
        if tr.added is None and not tr.row_ids:
            self._commit_metadata(meta, expected_version=base.version)
            return out
        if tr.added is None:  # row-lineage backfill: carry current, stamped
            carried = self._live_entries_with_spec(self._snapshot(None, meta))
            entries = [
                (_with_first_row_id(e, tr.row_ids), s, sp) for e, s, sp in carried
            ]
            return self._commit_snapshot(meta, base.version, entries, [], "replace")
        carried = []
        if tr.base is not None:
            carried = self._live_entries_with_spec(self._snapshot(tr.base, meta))
        check_live(tr.removed, (e["data_file"]["file_path"] for e, _, _ in carried))
        kept = [e for e in carried if e[0]["data_file"]["file_path"] not in tr.removed]
        added = [df for f in tr.added for df in self._entries_for_file(f, meta)]
        return self._commit_snapshot(
            meta, base.version, kept, added, tr.operation, branch=tr.branch
        )

    def _register_spec(self, meta: dict, fields: list[dict]) -> int:
        """Make ``fields`` (writer shape, checked by the model) the
        default spec of ``meta``; returns its id.  ``bucket`` and
        ``iceberg_bucket`` both serialize as spec ``bucket[N]`` (and
        execute spec-exact); an identical registered spec becomes the
        default again."""
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
        next_pid = meta.get("last-partition-id", 999) + 1
        ice_fields = []
        for f in fields:
            t = f["transform"]
            if t in ("bucket", "iceberg_bucket"):
                t = f"bucket[{int(f['n'])}]"
            elif t == "truncate":
                t = f"truncate[{int(f['width'])}]"
            elif t not in ("identity", "void", "year", "month", "day", "hour"):
                raise ValueError(f"unknown transform: {f['transform']}")
            ice_fields.append(
                {
                    "name": f["name"],
                    "transform": t,
                    "source-id": name_to_id[f.get("source", f["name"])],
                    "field-id": next_pid,
                }
            )
            next_pid += 1
        keys = ("name", "transform", "source-id")
        for p in meta["partition-specs"]:
            if [{k: x[k] for k in keys} for x in p["fields"]] == [
                {k: x[k] for k in keys} for x in ice_fields
            ]:
                meta["default-spec-id"] = p["spec-id"]
                return p["spec-id"]
        new_id = max(p["spec-id"] for p in meta["partition-specs"]) + 1
        meta["partition-specs"] = list(meta["partition-specs"]) + [
            {"spec-id": new_id, "fields": ice_fields}
        ]
        meta["default-spec-id"] = new_id
        meta["last-partition-id"] = next_pid - 1
        return new_id

    # -- table properties ----------------------------------------------

    def set_properties(self, updates: dict[str, str]) -> None:
        """Merge ``updates`` into table ``properties`` as one commit
        (Iceberg ``UpdateProperties``; the REST catalog's
        set-properties update reaches the same metadata field).  The
        way an EXISTING table declares ``commit.single-writer=true`` —
        note that on an object-store root this very commit is itself
        gated, so the declaring handle must be constructed with
        ``single_writer=True``; the property then covers every later
        handle."""
        if not updates:
            raise ValueError("set_properties: empty updates")
        version, meta = self._metadata_for_commit()
        new_meta = dict(meta)
        props = dict(meta.get("properties", {}))
        props.update({str(k): str(v) for k, v in updates.items()})
        new_meta["properties"] = props
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(new_meta, expected_version=version)

    def remove_properties(self, keys: list[str]) -> None:
        """Remove property ``keys`` (missing tolerated) as one commit."""
        version, meta = self._metadata_for_commit()
        new_meta = dict(meta)
        props = dict(meta.get("properties", {}))
        for k in keys:
            props.pop(k, None)
        new_meta["properties"] = props
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(new_meta, expected_version=version)

    def properties(self) -> dict[str, str]:
        return dict(self.metadata().get("properties", {}))

    def update_sort_order(self, fields: list[dict]) -> int:
        """``ALTER TABLE ... WRITE ORDERED BY`` — register a new sort order
        (spec shape: identity transform on the source field id, direction +
        null-order) and make it the default for FUTURE writes.  Metadata
        only; compaction applies it when rewriting (full_compact picks the
        table's default order when the request doesn't name one).

        ``fields``: ``[{"column": str, "desc": bool = False,
        "nulls_first": bool = None}]`` (nulls default to the Iceberg
        convention: first for asc, last for desc)."""
        version, meta = self._metadata_for_commit()
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
        ice_fields = []
        for f in fields:
            col = f["column"]
            if col not in name_to_id:
                raise ValueError(f"no column {col!r}")
            desc = bool(f.get("desc", False))
            nf = f.get("nulls_first")
            if nf is None:
                nf = not desc  # spec default: NULLS FIRST asc, LAST desc
            ice_fields.append(
                {
                    "transform": "identity",
                    "source-id": name_to_id[col],
                    "direction": "desc" if desc else "asc",
                    "null-order": "nulls-first" if nf else "nulls-last",
                }
            )
        orders = list(meta.get("sort-orders", []))
        # Idempotent DDL: an identical existing order just becomes default.
        for o in orders:
            if o["fields"] == ice_fields:
                new_meta = dict(meta)
                new_meta["default-sort-order-id"] = o["order-id"]
                self._commit_metadata(new_meta, expected_version=version)
                return o["order-id"]
        new_id = max((o["order-id"] for o in orders), default=0) + 1
        new_meta = dict(meta)
        new_meta["sort-orders"] = orders + [
            {"order-id": new_id, "fields": ice_fields}
        ]
        new_meta["default-sort-order-id"] = new_id
        self._commit_metadata(new_meta, expected_version=version)
        return new_id

    def default_sort_order(self) -> tuple[int, list[dict]]:
        """(order_id, writer-shaped fields) of the table's default sort
        order — ``(0, [])`` means unsorted."""
        meta = self.metadata()
        oid = meta.get("default-sort-order-id", 0)
        order = next(
            (o for o in meta.get("sort-orders", []) if o["order-id"] == oid),
            None,
        )
        if not order or not order["fields"]:
            return 0, []
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
        out = []
        for f in order["fields"]:
            if f.get("transform", "identity") != "identity":
                return 0, []  # transform orders not expressible yet
            out.append(
                {
                    "column": id_to_name[f["source-id"]],
                    "desc": f["direction"] == "desc",
                    "nulls_first": f["null-order"] == "nulls-first",
                }
            )
        return oid, out

def _with_first_row_id(entry: dict, row_ids: dict) -> dict:
    """A carried manifest entry with its data file's ``first_row_id``
    taken from ``row_ids`` ({path: (first row id, record count)})."""
    df = entry["data_file"]
    rid = row_ids.get(df["file_path"])
    if rid is None or df["content"] != CONTENT_DATA:
        return entry
    return {**entry, "data_file": {**df, "first_row_id": rid[0]}}


def _writer_spec(meta: dict, spec: dict) -> list[dict]:
    """One metadata partition spec in the writer's shape ({"name",
    "transform", "source", "n"/"width"}), sources named through the
    current schema (None for a since-dropped source).  Metadata
    ``bucket[N]`` reads back as ``iceberg_bucket`` — spec-format tables
    always use the spec-exact bucket so layouts interoperate with real
    Iceberg readers."""
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    id_to_type = {f["id"]: f["type"] for f in schema["fields"]}
    out = []
    for pf in spec["fields"]:
        field = {
            "name": pf["name"],
            "source": id_to_name.get(pf["source-id"]),
        }
        st = id_to_type.get(pf["source-id"])
        if isinstance(st, str):
            # Primitive source type string ("date", "timestamptz",
            # "long", ...): enables bucket-hash AND temporal identity
            # pruning (table_model._comparable_pair needs it to map
            # internal epoch ints back to literals).
            field["source_type"] = st
            if st == "uuid":
                # The logical marker transform_column and the
                # iceberg_bucket expression dispatch on — without it a
                # uuid column buckets by its 36-char TEXT instead of its
                # 16 msb/lsb bytes, silently non-interoperable with
                # Iceberg-written layouts.
                field["logical"] = "uuid"
        t = pf["transform"]
        if t.startswith("bucket["):
            field["transform"] = "iceberg_bucket"
            field["n"] = int(t[len("bucket[") : -1])
        elif t.startswith("truncate["):
            field["transform"] = "truncate"
            field["width"] = int(t[len("truncate[") : -1])
        else:
            field["transform"] = t
        out.append(field)
    return out
