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

``IcebergTable`` duck-types ``ManifestTable``'s planning surface
(``scan_tasks`` / ``commit_rewrite`` / ``expire_snapshots`` / ``root``),
so ``Compaction.full_compact`` runs unchanged over spec metadata.

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

from ic_spark.compaction.request import FileContent, FileScanTask
from ic_spark.sources.avro_io import read_container, write_container

from ic_spark.compaction.manifest import CommitConflictError, with_statistics_entry
from ic_spark.compaction.metafs import check_remote_commit_safety

# --------------------------------------------------- type serialization


def spark_to_iceberg_type(dt: T.DataType) -> Any:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise ValueError(f"unsupported type for iceberg schema: {dt.simpleString()}")


def iceberg_to_spark_type(t: Any) -> T.DataType:
    m = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamptz": T.TimestampType(),
        "timestamp": T.TimestampNTZType(),
    }
    if isinstance(t, str) and t in m:
        return m[t]
    if isinstance(t, str) and t.startswith("decimal"):
        p, s = t[t.index("(") + 1 : t.index(")")].split(",")
        return T.DecimalType(int(p), int(s))
    raise ValueError(f"unsupported iceberg type: {t!r}")


def schema_to_iceberg(schema: T.StructType, schema_id: int = 0) -> dict:
    """Spark StructType → Iceberg schema JSON with sequential field ids
    (same positional-id convention as the proto bridge, proto.py)."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": spark_to_iceberg_type(f.dataType),
            }
        )
    return {"type": "struct", "schema-id": schema_id, "fields": fields}


def iceberg_to_spark_schema(s: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], iceberg_to_spark_type(f["type"]), not f["required"])
            for f in s["fields"]
        ]
    )


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


def _column_domain_tag(dt: T.DataType) -> str | None:
    """Spark column type → the stats comparator's domain tag
    (``manifest._stat_literal_pair``): "string" | "temporal" |
    "numeric" | None (no special handling)."""
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "temporal"
    if isinstance(
        dt,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DecimalType,
        ),
    ):
        return "numeric"
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


# ------------------------------------------------------------ the table


class IcebergTable:
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
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        if not self._mfs.exists(hint):
            return None
        return int(self._mfs.read_text(hint).strip())

    def metadata(self, version: int | None = None) -> dict:
        """Current metadata, or the EXACT ``version`` when given — the
        read-version-then-metadata ordering optimistic committers need
        (metadata-then-version lets a racing commit pair stale metadata
        with a fresh expected_version, silently erasing the racer)."""
        v = self.version() if version is None else version
        if v is None:
            raise ValueError(f"no iceberg table at {self.root}")
        return self._mfs.read_json(
            os.path.join(self.metadata_dir, f"v{v}.metadata.json")
        )

    def _metadata_for_commit(self) -> tuple[int | None, dict]:
        """(version, that exact version's metadata) for an optimistic
        commit.  The version is read first: reading metadata first lets a
        commit that lands between the two reads pair stale metadata with
        a fresh expected_version, and the CAS then erases that commit."""
        version = self.version()
        return version, self.metadata(version)

    def schema(self, snapshot_id: int | None = None) -> T.StructType | None:
        """Current schema, or with ``snapshot_id`` the schema that
        snapshot was committed under: VERSION AS OF reads project under
        the schema the data was written with (Iceberg's time-travel
        rule)."""
        meta = self.metadata()
        sid = _snapshot_schema_id(meta, snapshot_id)
        return iceberg_to_spark_schema(
            next(s for s in meta["schemas"] if s["schema-id"] == sid)
        )

    def name_mapping(
        self, snapshot_id: int | None = None
    ) -> dict[str, list[str]] | None:
        """Scan name-mapping (see :func:`derive_name_mapping`) relative
        to the schema of ``snapshot_id`` (current by default)."""
        meta = self.metadata()
        return derive_name_mapping(
            meta["schemas"], _snapshot_schema_id(meta, snapshot_id)
        )

    def schema_history(self, snapshot_id: int | None = None) -> dict | None:
        """Every schema version's (field_id, name, DataType, nullable)
        rows.  None when the table has a single schema (nothing to
        resolve) or predates activation tracking.  With ``snapshot_id``,
        the history's current schema is the one that snapshot was
        committed under (time-travel reads project against it)."""
        meta = self.metadata()
        if len(meta["schemas"]) <= 1:
            return None
        if schema_activation_boundaries(meta) is None:
            return None
        return history_from_schemas(
            meta["schemas"], _snapshot_schema_id(meta, snapshot_id)
        )

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
        path = os.path.join(self.metadata_dir, f"v{new_version}.metadata.json")
        if expected_version is not None:
            meta = dict(meta)
            meta["metadata-log"] = list(meta.get("metadata-log", [])) + [
                {
                    "timestamp-ms": int(time.time() * 1000),
                    "metadata-file": os.path.join(
                        self.metadata_dir, f"v{expected_version}.metadata.json"
                    ),
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

    def current_snapshot_id(self) -> int | None:
        meta = self.metadata()
        sid = meta.get("current-snapshot-id", -1)
        return None if sid in (-1, None) else sid

    def next_sequence_number(self, branch: str | None = None) -> int:
        """The sequence number the next commit records.  Spec sequence
        numbers are table-wide (``last-sequence-number``), so a branch
        commit takes the same next number as a main commit."""
        return self.metadata()["last-sequence-number"] + 1

    def count_rows(self, snapshot_id: int | None = None) -> int | None:
        """Always None: the spec flavor answers COUNT(*) with a scan."""
        return None

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

    def snapshot_id_as_of(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF over the spec snapshot-log (Iceberg time
        travel by timestamp)."""
        best = None
        for entry in self.metadata().get("snapshot-log", []):
            if entry["timestamp-ms"] <= timestamp_ms and (
                best is None or entry["timestamp-ms"] >= best["timestamp-ms"]
            ):
                best = entry
        if best is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return best["snapshot-id"]

    def _snapshot(self, snapshot_id: int | None) -> dict | None:
        meta = self.metadata()
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
                # convention (spark_to_iceberg_type): iceberg
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
            eq_ids = [
                name_to_field[c]["id"] for c in f["equality_ids"] if c in name_to_field
            ]
        content = _ENUM_TO_CONTENT[FileContent[f.get("content", "DATA")]]
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
            "record_count": int(f.get("record_count", 0)),
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

    def _live_entries(self, snapshot: dict | None) -> list[tuple[dict, int]]:
        """(manifest_entry, inherited_sequence_number) for every live
        file of ``snapshot`` — sequence-number inheritance applied."""
        return [(e, s) for e, s, _ in self._live_entries_with_spec(snapshot)]

    def _live_entries_with_spec(
        self, snapshot: dict | None
    ) -> list[tuple[dict, int, int]]:
        """Like :meth:`_live_entries` plus each entry's manifest-level
        ``partition_spec_id`` (the spec its partition tuple was written
        under — per-spec pruning needs it)."""
        if snapshot is None:
            return []
        out = []
        _, _, manifests = read_container(
            self._mfs.within(snapshot["manifest-list"]),
            filesystem=self._mfs.fs,
        )
        for mf in manifests:
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

    def _commit_snapshot(
        self,
        meta: dict,
        expected_version: int,
        entries_with_seq: list[tuple[dict, int | None]],
        operation: str,
        branch: str | None = None,
    ) -> int:
        """Write manifests + manifest list + new metadata version.

        ``entries_with_seq``: (entry, seq) where seq None means "this
        commit's sequence number" (left null in the manifest → readers
        inherit it per spec).
        """
        now = int(time.time() * 1000)
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
        added_count = 0
        for e, s in entries_with_seq:
            entry = dict(e)
            spec_id = entry.pop("_spec_id", default_sid)
            entry["snapshot_id"] = entry.get("snapshot_id") or sid
            entry["sequence_number"] = s  # None → inherited
            entry["file_sequence_number"] = entry.get("file_sequence_number") or s
            if entry["status"] == ADDED:
                added_count += 1
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
                "added-data-files": str(added_count),
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

    # -- partition-spec evolution --------------------------------------

    def default_spec_id(self) -> int:
        return self.metadata()["default-spec-id"]

    def partition_spec(self, spec_id: int | None = None) -> list[dict]:
        """Spec fields in the writer's shape ({"name", "transform",
        "source", "n"/"width"}).  Metadata ``bucket[N]`` reads back as
        ``iceberg_bucket`` — spec-format tables always use the
        spec-exact bucket so layouts interoperate with real Iceberg
        readers."""
        meta = self.metadata()
        sid = meta["default-spec-id"] if spec_id is None else spec_id
        spec = next(
            (p for p in meta["partition-specs"] if p["spec-id"] == sid), None
        )
        if spec is None:
            raise ValueError(f"unknown partition spec id {sid}")
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
        id_to_type = {f["id"]: f["type"] for f in schema["fields"]}
        out = []
        for pf in spec["fields"]:
            field = {
                "name": pf["name"],
                "source": id_to_name[pf["source-id"]],
            }
            st = id_to_type.get(pf["source-id"])
            if isinstance(st, str):
                # Primitive source type string ("date", "timestamptz",
                # "long", ...): enables bucket-hash AND temporal
                # identity pruning (manifest._comparable_pair needs it
                # to map internal epoch ints back to literals).
                field["source_type"] = st
                if st == "uuid":
                    # The logical marker transform_column and the
                    # iceberg_bucket expression dispatch on — without
                    # it a uuid column buckets by its 36-char TEXT
                    # instead of its 16 msb/lsb bytes, silently
                    # non-interoperable with Iceberg-written layouts.
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

    def update_partition_spec(self, fields: list[dict]) -> int:
        """Evolve the partition layout: register a new spec in
        ``partition-specs`` and point ``default-spec-id`` at it —
        metadata-only, existing snapshots untouched (Iceberg
        ``ALTER TABLE ... ADD/REPLACE PARTITION FIELD``).

        ``fields`` use the writer's shape; ``bucket``/``iceberg_bucket``
        both serialize as spec ``bucket[N]`` (and execute spec-exact).
        """
        version, meta = self._metadata_for_commit()
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
        next_pid = meta.get("last-partition-id", 999) + 1
        ice_fields = []
        for f in fields:
            if "name" not in f or "transform" not in f:
                raise ValueError(f"spec field needs name+transform: {f}")
            src = f.get("source", f["name"])
            if f["name"] == src:
                raise ValueError(
                    f"spec field name must differ from source column: {f}"
                )
            if src not in name_to_id:
                raise ValueError(f"unknown source column: {src}")
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
                    "source-id": name_to_id[src],
                    "field-id": next_pid,
                }
            )
            next_pid += 1
        # Idempotent DDL: an identical existing spec just becomes default.
        for p in meta["partition-specs"]:
            if [
                {k: x[k] for k in ("name", "transform", "source-id")}
                for x in p["fields"]
            ] == [
                {k: x[k] for k in ("name", "transform", "source-id")}
                for x in ice_fields
            ]:
                new_meta = dict(meta)
                new_meta["default-spec-id"] = p["spec-id"]
                self._commit_metadata(new_meta, expected_version=version)
                return p["spec-id"]
        new_id = max(p["spec-id"] for p in meta["partition-specs"]) + 1
        new_meta = dict(meta)
        new_meta["partition-specs"] = list(meta["partition-specs"]) + [
            {"spec-id": new_id, "fields": ice_fields}
        ]
        new_meta["default-spec-id"] = new_id
        new_meta["last-partition-id"] = next_pid - 1
        self._commit_metadata(new_meta, expected_version=version)
        return new_id

    # ------------------------------------------------ row lineage (v3)

    @property
    def row_lineage(self) -> bool:
        return self.metadata().get("next-row-id") is not None

    @property
    def next_row_id(self) -> int:
        return int(self.metadata().get("next-row-id", 0))

    def _assign_row_ids(self, meta: dict, files: list[dict]) -> None:
        """Claim ``next-row-id`` ranges for newly committed data files
        (explicit per-file first_row_id — the spec permits explicit ids,
        making manifest-level inheritance unnecessary).  Files flagged
        ``materialized_lineage`` keep a null first_row_id per the
        spec's materialized-lineage rule."""
        for f in files:
            if f.get("content", "DATA") != "DATA":
                continue
            if f.get("materialized_lineage") or f.get("first_row_id") is not None:
                continue
            rc = f.get("record_count")
            if rc is None:
                raise ValueError(
                    "row-lineage table requires record_count on data files: "
                    + f["path"]
                )
            f["first_row_id"] = meta.get("next-row-id", 0)
            meta["next-row-id"] = meta.get("next-row-id", 0) + int(rc)

    def enable_row_lineage(self) -> None:
        """Upgrade to v3 row lineage: set ``format-version`` 3 +
        ``next-row-id`` in the table metadata and backfill every live
        data file with an explicit ``first_row_id`` (one ``replace``
        commit rewriting the manifests — they are immutable Avro, so
        backfill is a carry-forward commit, not an edit)."""
        version, meta = self._metadata_for_commit()
        if meta.get("next-row-id") is not None:
            return
        meta = dict(meta)
        meta["format-version"] = 3
        nxt = 0
        cur = self._snapshot(None)
        carried = []
        for e, s, sp in self._live_entries_with_spec(cur):
            e2 = {**e, "status": EXISTING, "_spec_id": sp}
            df = dict(e2["data_file"])
            if df["content"] == CONTENT_DATA and df.get("first_row_id") is None:
                df["first_row_id"] = nxt
                nxt += int(df.get("record_count") or 0)
            e2["data_file"] = df
            carried.append((e2, s))
        meta["next-row-id"] = nxt
        if carried:
            self._commit_snapshot(meta, version, carried, "replace")
        else:
            meta["last-updated-ms"] = int(time.time() * 1000)
            self._commit_metadata(meta, expected_version=version)

    _STREAM_LEDGER_PROP = "ic-spark.stream-batches"

    def stream_batch_hwm(self, name: str) -> int:
        """High-water mark of committed streaming batch ids for sink
        ``name`` (-1 when none) — stored in table properties so it
        survives compaction rewriting the batch's files (same contract
        as ``ManifestTable.stream_batch_hwm``)."""
        props = self.metadata().get("properties") or {}
        led = json.loads(props.get(self._STREAM_LEDGER_PROP, "{}"))
        return int(led.get(name, -1))

    def mark_stream_batch(self, name: str, batch_id: int) -> None:
        """Record a committed streaming batch as a metadata-only
        property commit (for sinks whose final action is not a plain
        append; ``append_snapshot(stream_mark=...)`` is atomic with
        the commit and preferred)."""
        version, meta = self._metadata_for_commit()
        marked = self._with_stream_mark(dict(meta), (name, batch_id))
        if marked is None:
            return  # already at or past this batch id
        marked["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(marked, expected_version=version)

    def _with_stream_mark(self, meta: dict, stream_mark) -> dict | None:
        """Fold the ledger update into ``meta`` (returns None when the
        HWM already covers the batch)."""
        name, batch_id = stream_mark
        props = dict(meta.get("properties") or {})
        led = json.loads(props.get(self._STREAM_LEDGER_PROP, "{}"))
        if int(batch_id) <= int(led.get(name, -1)):
            return None
        led[name] = int(batch_id)
        props[self._STREAM_LEDGER_PROP] = json.dumps(led)
        meta["properties"] = props
        return meta

    def append_snapshot(
        self,
        files: list[dict],
        branch: str | None = None,
        operation: str | None = None,
        stream_mark: tuple[str, int] | None = None,
    ) -> int:
        """Append files (ManifestTable files-dict shape) as one commit.

        New entries carry null sequence numbers in the manifest and
        inherit this commit's sequence number (spec inheritance path).

        With ``branch="name"`` the commit lands on that branch (spec
        ``refs`` entry of type branch): the base is the branch head
        (current snapshot for a new branch), ``current-snapshot-id``
        does not move, and ``fast_forward`` advances main later.

        ``stream_mark=(sink_name, batch_id)`` folds the streaming-batch
        ledger update into the SAME metadata commit (see
        ``streaming/sink.py``).
        """
        version, meta = self._metadata_for_commit()
        if stream_mark is not None:
            meta = self._with_stream_mark(dict(meta), stream_mark) or meta
        if meta.get("next-row-id") is not None:
            # assign on COPIES: a CAS-lost commit must leave the
            # caller's dicts unstamped so a retry re-assigns against
            # the fresh next-row-id instead of re-committing stale
            # (overlapping) ranges
            meta = dict(meta)
            files = [dict(f) for f in files]
            self._assign_row_ids(meta, files)
        base_id = None
        if branch is not None:
            ref = meta.get("refs", {}).get(branch)
            base_id = ref["snapshot-id"] if ref else None
        base_snap = self._snapshot(base_id)  # None → current
        carried = [
            ({**e, "status": EXISTING, "_spec_id": sp}, s)
            for e, s, sp in self._live_entries_with_spec(base_snap)
        ]
        new = [
            ({"status": ADDED, "snapshot_id": None, "sequence_number": None,
              "file_sequence_number": None, "data_file": df}, None)
            for f in files
            for df in self._entries_for_file(f, meta)
        ]
        if operation is None:
            operation = (
                "delete"
                if files
                and all(f.get("content", "DATA") != "DATA" for f in files)
                else "append"
            )
        return self._commit_snapshot(
            meta, version, carried + new, operation, branch=branch
        )

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """Point main back at an earlier snapshot (metadata-only)."""
        version, meta = self._metadata_for_commit()
        if all(s["snapshot-id"] != snapshot_id for s in meta["snapshots"]):
            raise ValueError(f"snapshot {snapshot_id} not found")
        now = int(time.time() * 1000)
        new_meta = dict(meta)
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["last-updated-ms"] = now
        new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now, "snapshot-id": snapshot_id}
        ]
        self._commit_metadata(new_meta, expected_version=version)
        return snapshot_id

    def fast_forward(self, branch: str, force: bool = False) -> int:
        """Advance MAIN to the branch head when main is an ancestor of
        it (spec ``parent-snapshot-id`` chain proves ancestry)."""
        version, meta = self._metadata_for_commit()
        ref = meta.get("refs", {}).get(branch)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(f"unknown branch: {branch!r}")
        head = ref["snapshot-id"]
        current = meta.get("current-snapshot-id")
        if not force and current not in (-1, None):
            by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
            node, ancestors = head, set()
            while node is not None and node not in ancestors:
                ancestors.add(node)
                node = by_id.get(node, {}).get("parent-snapshot-id")
            if current not in ancestors:
                raise CommitConflictError(
                    f"main ({current}) is not an ancestor of branch "
                    f"{branch!r} head ({head}); rebase or pass force=True"
                )
        now = int(time.time() * 1000)
        new_meta = dict(meta)
        new_meta["current-snapshot-id"] = head
        new_meta["last-updated-ms"] = now
        new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now, "snapshot-id": head}
        ]
        self._commit_metadata(new_meta, expected_version=version)
        return head

    def scan_tasks(
        self,
        snapshot_id: int | None = None,
        data_filter: list[tuple] | None = None,
    ) -> tuple[list[FileScanTask], list[FileScanTask], list[FileScanTask]]:
        """Plan (data, pos-delete, eq-delete) tasks from spec metadata —
        same triple ``build_merge_on_read`` consumes.

        ``data_filter`` is the ManifestTable-shaped conjunction of
        ``(col, op, value)`` triples: data files are skipped on their
        manifest lower/upper bounds AND their partition tuple evaluated
        against the spec each manifest was written under (delete files
        are never pruned)."""
        from ic_spark.compaction.manifest import (
            _file_may_match,
            _file_may_match_partition,
        )

        meta = self.metadata()
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
        id_to_type = {
            f["id"]: iceberg_to_spark_type(f["type"]) for f in schema["fields"]
        }
        id_to_ice = {f["id"]: f["type"] for f in schema["fields"]}
        # Declared per-column domain tags: with the schema in hand the
        # stats comparator prunes at full typed fidelity instead of the
        # agreement-guarded untyped fallback.
        column_types = {
            id_to_name[i]: _column_domain_tag(t)
            for i, t in id_to_type.items()
        }
        raw_spec_fields = {
            p["spec-id"]: p["fields"] for p in meta["partition-specs"]
        }
        specs_by_id: dict[str, list[dict]] = {}
        if data_filter:
            for p in meta["partition-specs"]:
                try:
                    specs_by_id[str(p["spec-id"])] = self.partition_spec(
                        p["spec-id"]
                    )
                except (KeyError, ValueError):
                    continue  # unresolvable spec -> no pruning under it
        data, pos, eq = [], [], []
        seen: set[str] = set()
        # Per-file write-schema resolution: multi-schema tables with
        # activation boundaries resolve each data file's write schema
        # from its sequence number (None for single-schema / legacy).
        boundaries = (
            schema_activation_boundaries(meta)
            if len(meta["schemas"]) > 1
            else None
        )
        for e, seq, spec_id in self._live_entries_with_spec(
            self._snapshot(snapshot_id)
        ):
            df = e["data_file"]
            task = FileScanTask(
                data_file_path=df["file_path"],
                sequence_number=seq,
                content=_CONTENT_TO_ENUM[df["content"]],
                equality_ids=tuple(
                    id_to_name[i] for i in (df["equality_ids"] or [])
                ),
                file_size_in_bytes=df["file_size_in_bytes"],
                record_count=df.get("record_count") or 0,
                # Iceberg spells formats upper-case in manifests; the
                # planner's (seq, format) grouping uses lower-case.
                file_format=(df.get("file_format") or "PARQUET").lower(),
                write_schema_id=resolve_write_schema_id(boundaries, seq),
                first_row_id=df.get("first_row_id"),
                partition_values=fill_partition_values(
                    df.get("partition"),
                    raw_spec_fields.get(spec_id),
                    id_to_ice,
                ),
            )
            if task.content is FileContent.DATA:
                if data_filter:
                    stats: dict[str, dict] = {}
                    for kind, key in (("lower_bounds", "min"), ("upper_bounds", "max")):
                        for kv in df.get(kind) or []:
                            fid = kv["key"]
                            if fid not in id_to_name:
                                continue
                            v = deserialize_bound(id_to_type[fid], kv["value"])
                            if v is not None:
                                stats.setdefault(id_to_name[fid], {})[key] = v
                    probe = {
                        "column_stats": stats,
                        "spec_id": spec_id,
                        "partition": df.get("partition") or {},
                    }
                    if not _file_may_match(probe, data_filter, column_types):
                        continue
                    if not _file_may_match_partition(
                        probe, specs_by_id, data_filter
                    ):
                        continue
                data.append(task)
            elif task.data_file_path not in seen:
                seen.add(task.data_file_path)
                (pos if task.content is FileContent.POSITION_DELETES else eq).append(
                    task
                )
            elif task.content is FileContent.POSITION_DELETES and task.record_count:
                # Per-vector DV expansion shares one puffin path; fold
                # each vector's cardinality into the deduped task so
                # broadcast sizing sees the file's TOTAL position count.
                import dataclasses as _dc

                for i, p in enumerate(pos):
                    if p.data_file_path == task.data_file_path:
                        pos[i] = _dc.replace(
                            p, record_count=p.record_count + task.record_count
                        )
                        break
        return data, pos, eq

    def incremental_tasks(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> list[FileScanTask]:
        """DATA files added after ``from_snapshot_id`` (Iceberg
        ``IncrementalAppendScan`` over spec metadata).  Rejects ranges
        containing rewrites or new delete files — those change or
        retract already-read rows, which an append-only consumer cannot
        represent (same condition ManifestTable.incremental_tasks and
        Iceberg itself enforce)."""
        frm = self._snapshot(from_snapshot_id)
        to = self._snapshot(to_snapshot_id)
        if to is None:
            raise ValueError(f"snapshot {to_snapshot_id} not found")
        old = {e["data_file"]["file_path"] for e, _ in self._live_entries(frm)}
        # One manifest pass supplies entries AND each one's spec id.
        new_entries = {
            e["data_file"]["file_path"]: (e, s, sp)
            for e, s, sp in self._live_entries_with_spec(to)
        }
        removed = old - set(new_entries)
        meta = self.metadata()
        cur_schema = next(
            s
            for s in meta["schemas"]
            if s["schema-id"] == meta["current-schema-id"]
        )
        id_to_ice = {f["id"]: f["type"] for f in cur_schema["fields"]}
        # Per-entry spec resolution (same as scan_tasks): a
        # partition-evolved table's older entries were written under
        # older specs — converting their partition values under the
        # default spec would miss identity date/timestamp fields.
        raw_spec_fields = {
            p["spec-id"]: p["fields"] for p in meta["partition-specs"]
        }
        if removed:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to['snapshot-id']} rewrite "
                f"{len(removed)} file(s); incremental append scan undefined"
            )
        added = [
            (e, s, sp) for p, (e, s, sp) in new_entries.items() if p not in old
        ]
        deletes = [
            e for e, _, _ in added if e["data_file"]["content"] != CONTENT_DATA
        ]
        if deletes:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to['snapshot-id']} add "
                f"{len(deletes)} delete file(s); incremental append scan undefined"
            )
        return [
            FileScanTask(
                data_file_path=e["data_file"]["file_path"],
                sequence_number=s,
                content=FileContent.DATA,
                file_size_in_bytes=e["data_file"]["file_size_in_bytes"],
                record_count=e["data_file"].get("record_count") or 0,
                file_format=(
                    e["data_file"].get("file_format") or "PARQUET"
                ).lower(),
                first_row_id=e["data_file"].get("first_row_id"),
                partition_values=fill_partition_values(
                    e["data_file"].get("partition"),
                    raw_spec_fields.get(sp),
                    id_to_ice,
                ),
            )
            for e, s, sp in added
        ]

    def commit_rewrite(
        self,
        added: list[dict],
        removed_paths: set[str],
        expected_snapshot_id: int | None = None,
        operation: str = "replace",
    ) -> int:
        """RewriteFiles commit over spec metadata (reference
        mod.rs:66-72): validates every removed file is still live
        (stale-plan conflict), drops them, adds the rewritten files.
        ``operation`` lands in the snapshot summary (replace =
        maintenance, overwrite = COW row change, delete = delete-file
        supersede) — the changelog read keys off it."""
        version, meta = self._metadata_for_commit()
        cur = self._snapshot(None)
        if expected_snapshot_id is not None:
            actual = cur["snapshot-id"] if cur else None
            if actual != expected_snapshot_id:
                raise CommitConflictError(
                    f"table moved: expected snapshot {expected_snapshot_id}, "
                    f"current is {actual}"
                )
        live = self._live_entries_with_spec(cur)
        live_paths = {e["data_file"]["file_path"] for e, _, _ in live}
        stale = sorted(removed_paths - live_paths)
        if stale:
            raise CommitConflictError(
                f"{len(stale)} file(s) no longer live (concurrent rewrite?): "
                f"{stale[:3]}..."
            )
        if meta.get("next-row-id") is not None:
            # after conflict validation, on copies (see append_snapshot)
            meta = dict(meta)
            added = [dict(f) for f in added]
            self._assign_row_ids(meta, added)
        kept = [
            ({**e, "status": EXISTING, "_spec_id": sp}, s)
            for e, s, sp in live
            if e["data_file"]["file_path"] not in removed_paths
        ]
        new = [
            ({"status": ADDED, "snapshot_id": None, "sequence_number": None,
              "file_sequence_number": None, "data_file": df}, None)
            for f in added
            for df in self._entries_for_file(f, meta)
        ]
        return self._commit_snapshot(meta, version, kept + new, operation)

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

    # -- statistics files ----------------------------------------------

    def statistics(self) -> list[dict]:
        """Registered statistics entries, oldest first."""
        return self.metadata().get("statistics", [])

    def register_statistics(self, entry: dict) -> None:
        """Register a statistics entry as one metadata commit; an entry
        for the same snapshot is replaced, not stacked."""
        version, meta = self._metadata_for_commit()
        meta = dict(meta)
        meta["statistics"] = with_statistics_entry(
            meta.get("statistics", []), entry
        )
        self._commit_metadata(meta, expected_version=version)

    # -- snapshot refs (Iceberg metadata ``refs``: tags + branches) ----

    def set_ref(self, name: str, snapshot_id: int, ref_type: str = "tag") -> None:
        """Record a named ref (spec ``refs`` map in table metadata).
        Tags pin a snapshot for time travel; branches name a movable
        head.  Refs survive snapshot expiration."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type must be tag|branch: {ref_type}")
        version, meta = self._metadata_for_commit()
        if all(s["snapshot-id"] != snapshot_id for s in meta["snapshots"]):
            raise ValueError(f"snapshot {snapshot_id} not found")
        new_meta = dict(meta)
        refs = dict(meta.get("refs", {}))
        refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
        new_meta["refs"] = refs
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(new_meta, expected_version=version)

    def remove_ref(self, name: str) -> None:
        version, meta = self._metadata_for_commit()
        refs = dict(meta.get("refs", {}))
        refs.pop(name, None)
        new_meta = dict(meta)
        new_meta["refs"] = refs
        self._commit_metadata(new_meta, expected_version=version)

    def refs(self) -> dict[str, int]:
        return {
            n: r["snapshot-id"] for n, r in self.metadata().get("refs", {}).items()
        }

    def resolve_ref(self, name: str) -> int:
        refs = self.metadata().get("refs", {})
        if name not in refs:
            raise ValueError(f"unknown ref: {name}")
        return refs[name]["snapshot-id"]

    def remove_orphan_files(
        self, older_than_s: float = 3 * 24 * 3600, delete: bool = False
    ) -> list[str]:
        """Not supported on the spec flavor: its data files are listed in
        manifests that this flavor does not sweep the table root
        against, so it cannot tell an orphan from a live file."""
        raise NotImplementedError(
            "remove_orphan_files is supported on JSON-manifest tables only"
        )

    def expire_snapshots(self) -> list[str]:
        """Retain the current snapshot plus every ref target; return
        orphaned data-file paths (caller owns physical deletion, like
        Iceberg ``expireSnapshots`` honoring retained refs)."""
        version, meta = self._metadata_for_commit()
        cur = self._snapshot(None)
        if cur is None:
            return []
        keep_ids = {cur["snapshot-id"]} | {
            r["snapshot-id"] for r in meta.get("refs", {}).values()
        }
        retained = [s for s in meta["snapshots"] if s["snapshot-id"] in keep_ids]
        keep_paths = {
            e["data_file"]["file_path"]
            for s in retained
            for e, _ in self._live_entries(s)
        }
        orphans: set[str] = set()
        for s in meta["snapshots"]:
            if s["snapshot-id"] in keep_ids:
                continue
            for e, _ in self._live_entries(s):
                p = e["data_file"]["file_path"]
                if p not in keep_paths:
                    orphans.add(p)
        new_meta = dict(meta)
        new_meta["snapshots"] = retained
        new_meta["snapshot-log"] = [
            x for x in meta.get("snapshot-log", [])
            if x["snapshot-id"] in keep_ids
        ]
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(new_meta, expected_version=version)
        return sorted(orphans)

    # -- schema evolution (metadata-only commits) ----------------------

    def _evolve_schema(self, mutate) -> int:
        """Commit a metadata version whose schemas list gains one schema.

        ``mutate(fields, meta) -> (new_fields, last_column_id)`` transforms a
        deep copy of the current schema's field list.  Snapshots are
        untouched — schema updates are metadata-only commits (Iceberg spec:
        "Schema Evolution" is free; data files are never rewritten).
        """
        import copy

        version, meta = self._metadata_for_commit()
        cur = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        fields, last_col = mutate(copy.deepcopy(cur["fields"]), meta)
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        new_meta = dict(meta)
        new_meta["schemas"] = list(meta["schemas"]) + [
            {"type": "struct", "schema-id": new_id, "fields": fields}
        ]
        new_meta["current-schema-id"] = new_id
        new_meta["last-column-id"] = last_col
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        # Activation boundary: files committed at sequence numbers STRICTLY
        # ABOVE the current last-sequence-number were written under this
        # schema (until a newer one activates).  Carried-forward entries
        # keep their original sequence numbers, so scan planning can derive
        # each data file's exact write schema — the field-id resolution the
        # Iceberg spec gets from footer field ids.
        props = dict(new_meta.get("properties", {}))
        act = dict(json.loads(props.get("ic.schema-activation", "{}")))
        act[str(new_id)] = meta["last-sequence-number"]
        props["ic.schema-activation"] = json.dumps(act)
        new_meta["properties"] = props
        self._commit_metadata(new_meta, expected_version=version)
        return new_id

    def add_column(self, name: str, spark_type) -> int:
        """Spec add-column: new field id past last-column-id; always optional
        (old files null-fill — required would break existing data)."""

        def mutate(fields, meta):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} already exists")
            fid = meta["last-column-id"] + 1
            fields.append(
                {
                    "id": fid,
                    "name": name,
                    "required": False,
                    "type": spark_to_iceberg_type(spark_type),
                }
            )
            return fields, fid

        return self._evolve_schema(mutate)

    def rename_column(self, old: str, new: str) -> int:
        """Spec rename: the field ID is the identity; only the name moves."""

        def mutate(fields, meta):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            tgt = next((f for f in fields if f["name"] == old), None)
            if tgt is None:
                raise ValueError(f"no column {old!r}")
            tgt["name"] = new
            return fields, meta["last-column-id"]

        return self._evolve_schema(mutate)

    def promote_column(self, name: str, spark_type) -> int:
        """Spec widening promotion — validated by the same rule the scan
        enforces (evolution.is_promotable), so metadata can never declare a
        type the reader would corrupt on."""
        from ic_spark.compaction.evolution import is_promotable

        def mutate(fields, meta):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            src_t = iceberg_to_spark_type(tgt["type"])
            if not is_promotable(src_t, spark_type):
                raise ValueError(
                    f"cannot promote {name}: {src_t.simpleString()} -> "
                    f"{spark_type.simpleString()} is not an Iceberg widening"
                )
            tgt["type"] = spark_to_iceberg_type(spark_type)
            return fields, meta["last-column-id"]

        return self._evolve_schema(mutate)

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

    def drop_column(self, name: str) -> int:
        """Spec drop-column: the field leaves the current schema; its id is
        RETIRED (``last-column-id`` never decreases, so a later re-add of
        the same name gets a fresh id and old files' data for the dropped
        column can never resurrect).  Metadata-only — no file rewrite.

        Rejected while any partition spec sources the column (Iceberg
        requires the partition field be removed first) — dropping it would
        orphan the spec's source-id.
        """

        def mutate(fields, meta):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            for spec in meta["partition-specs"]:
                for pf in spec["fields"]:
                    if pf["source-id"] == tgt["id"] and pf["transform"] != "void":
                        raise ValueError(
                            f"cannot drop {name!r}: partition spec "
                            f"{spec['spec-id']} field {pf['name']!r} sources it; "
                            "remove the partition field first"
                        )
            return [f for f in fields if f["name"] != name], meta["last-column-id"]

        return self._evolve_schema(mutate)

    def move_column(
        self,
        name: str,
        before: str | None = None,
        after: str | None = None,
        first: bool = False,
    ) -> int:
        """Spec column reorder (``ALTER TABLE ... ALTER COLUMN c FIRST /
        AFTER x``): field order in the schema changes; ids and data files
        don't.  Reads project in the new order; old files resolve by id."""
        if sum((before is not None, after is not None, first)) != 1:
            raise ValueError("pass exactly one of before=, after=, first=True")

        def mutate(fields, meta):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            rest = [f for f in fields if f["name"] != name]
            if first:
                idx = 0
            else:
                anchor = before or after
                pos = next(
                    (i for i, f in enumerate(rest) if f["name"] == anchor), None
                )
                if pos is None:
                    raise ValueError(f"no anchor column {anchor!r}")
                idx = pos if before else pos + 1
            return rest[:idx] + [tgt] + rest[idx:], meta["last-column-id"]

        return self._evolve_schema(mutate)

    def make_optional(self, name: str) -> int:
        """Spec required→optional relaxation.  The inverse (optional→
        required) is spec-illegal — existing files may hold nulls — and is
        rejected."""

        def mutate(fields, meta):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            tgt["required"] = False
            return fields, meta["last-column-id"]

        return self._evolve_schema(mutate)


def _snapshot_schema_id(meta: dict, snapshot_id: int | None) -> int:
    """The schema id a snapshot was committed under (spec: every
    snapshot records its ``schema-id``).  Current schema for None and
    for snapshots written without the field."""
    if snapshot_id is not None:
        for s in meta["snapshots"]:
            if s["snapshot-id"] == snapshot_id:
                sid = s.get("schema-id")
                if sid is not None:
                    return sid
                break
    return meta["current-schema-id"]


def schema_activation_boundaries(meta: dict) -> dict[int, int] | None:
    """{schema_id: last-sequence-number at activation} for ALL schemas,
    or None when any non-initial schema predates boundary tracking
    (legacy tables fall back to name-mapping resolution)."""
    schemas = meta["schemas"]
    act = json.loads(
        meta.get("properties", {}).get("ic.schema-activation", "{}")
    )
    out: dict[int, int] = {}
    initial = min(s["schema-id"] for s in schemas)
    for s in schemas:
        sid = s["schema-id"]
        if sid == initial:
            out[sid] = -1  # active since before any data commit
        elif str(sid) in act:
            out[sid] = int(act[str(sid)])
        else:
            return None
    return out


def resolve_write_schema_id(
    boundaries: dict[int, int] | None, sequence_number: int
) -> int | None:
    """The schema a file committed at ``sequence_number`` was written
    under: the schema with the LARGEST activation boundary strictly
    below the file's sequence number (ties -> newest schema id)."""
    if boundaries is None:
        return None
    eligible = [
        (b, sid) for sid, b in boundaries.items() if b < sequence_number
    ]
    if not eligible:
        return None
    return max(eligible)[1]


def history_from_schemas(schemas: list[dict], current_id: int) -> dict:
    """Planner-shaped schema history (RewriteFilesRequest.schema_history)
    from an iceberg-style schemas list.  Shared by both flavors."""
    return {
        "current_id": current_id,
        "schemas": {
            s["schema-id"]: tuple(
                (
                    f["id"],
                    f["name"],
                    iceberg_to_spark_type(f["type"]),
                    not f["required"],
                )
                for f in s["fields"]
            )
            for s in schemas
        },
    }


def derive_name_mapping(
    schemas: list[dict], current_id: int
) -> dict[str, list[str]] | None:
    """Name-mapping from a schemas list: for each CURRENT field id,
    every name it carried in older schema versions.  This is exactly
    what Iceberg's schema.name-mapping.default encodes for files
    written without field ids.  Shared by both metadata flavors."""
    cur = next(s for s in schemas if s["schema-id"] == current_id)
    mapping: dict[str, list[str]] = {}
    for f in cur["fields"]:
        prior = []
        for s in schemas:
            if s["schema-id"] == current_id:
                continue
            for g in s["fields"]:
                if g["id"] == f["id"] and g["name"] != f["name"] and g["name"] not in prior:
                    prior.append(g["name"])
        if prior:
            mapping[f["name"]] = prior
    return mapping or None
