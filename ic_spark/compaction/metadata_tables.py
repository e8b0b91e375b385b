"""Metadata tables: the table's own manifest exposed as DataFrames.

Iceberg exposes ``db.table.snapshots`` / ``.files`` / ``.history`` as
queryable relations; users inspect table health (file counts, delete
ratios, snapshot lineage) with plain SQL instead of parsing manifests.
Same surface here over ``ManifestTable``.

Scale note: metadata is manifest-sized (file ENTRIES, not data), so
``createDataFrame`` from the driver is the right plan — this is the
same driver-side listing every engine's scan planning already does.
A 100 TB table with 1 GB files is ~100k entries, well within driver
memory; the result is a DataFrame so downstream filters/joins (e.g.
"files with deletes attached") run in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ic_spark.compaction.manifest import ManifestTable

_SNAPSHOTS_SCHEMA = StructType(
    [
        StructField("snapshot_id", LongType(), False),
        StructField("timestamp_ms", LongType(), False),
        StructField("is_current", StringType(), False),
        StructField("total_files", IntegerType(), False),
        StructField("data_files", IntegerType(), False),
        StructField("position_delete_files", IntegerType(), False),
        StructField("equality_delete_files", IntegerType(), False),
        StructField("total_size_bytes", LongType(), False),
    ]
)

_FILES_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", StringType(), False),
        StructField("sequence_number", LongType(), False),
        StructField("equality_ids", ArrayType(StringType()), True),
        StructField("file_size_in_bytes", LongType(), False),
        # v3 row lineage: null on non-lineage tables AND on files that
        # materialize _row_id physically (compaction outputs)
        StructField("first_row_id", LongType(), True),
    ]
)

_DELETE_FILES_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", StringType(), False),
        StructField("file_format", StringType(), False),
        StructField("sequence_number", LongType(), False),
        StructField("equality_ids", ArrayType(StringType()), True),
        StructField("record_count", LongType(), False),
        StructField("file_size_in_bytes", LongType(), False),
        StructField("referenced_data_file", StringType(), True),
        StructField("content_offset", LongType(), True),
        StructField("content_size_in_bytes", LongType(), True),
    ]
)

_HISTORY_SCHEMA = StructType(
    [
        StructField("snapshot_id", LongType(), False),
        StructField("timestamp_ms", LongType(), False),
        StructField("parent_id", LongType(), True),
        StructField("files_added", IntegerType(), False),
        StructField("files_removed", IntegerType(), False),
    ]
)


_REFS_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("type", StringType(), False),
    ]
)


def _as_snapshots(table, wanted_ids=None) -> tuple[list, int | None]:
    """Normalize either table flavor to (ManifestTable-shaped Snapshot
    list, current_snapshot_id) so every metadata table reads both the
    JSON-manifest and the spec-format (Avro) metadata identically.

    ``wanted_ids`` limits the EXPENSIVE spec-flavor materialization
    (each snapshot's files require reading its manifest list + Avro
    manifests) to the snapshots the caller actually consumes — a
    `.files` query needs only the current snapshot, so its cost must
    not grow with the length of the history.
    """
    if isinstance(table, ManifestTable):
        cur = table.current_snapshot()
        snaps = table.snapshots()
        if wanted_ids is not None:
            snaps = [s for s in snaps if s.snapshot_id in wanted_ids]
        return snaps, (cur.snapshot_id if cur else None)
    # Spec-format IcebergTable: rebuild files-dicts from Avro manifests.
    from ic_spark.compaction.iceberg_meta import _CONTENT_TO_ENUM
    from ic_spark.compaction.manifest import Snapshot

    meta = table.metadata()
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    # Union of EVERY schema in the metadata: equality-delete files
    # written against a since-dropped/renamed column must still report
    # their key columns — mapping through the current schema alone
    # would render them indistinguishable from no-key deletes.  Later
    # schemas win name collisions.
    id_to_name = {}
    for sch in meta["schemas"]:
        for f in sch["fields"]:
            id_to_name[f["id"]] = f["name"]
    out = []
    for s in meta["snapshots"]:
        if wanted_ids is not None and s["snapshot-id"] not in wanted_ids:
            continue
        files = []
        for e, seq in table._live_entries(s):
            df = e["data_file"]
            entry = {
                "path": df["file_path"],
                "content": _CONTENT_TO_ENUM[df["content"]].name,
                "sequence_number": seq,
                "equality_ids": [
                    # an id absent from every schema is still reported
                    # (as its field id) rather than silently dropped
                    id_to_name.get(i, f"field-{i}")
                    for i in (df["equality_ids"] or [])
                ],
                "file_size_in_bytes": df["file_size_in_bytes"],
                "file_format": (df.get("file_format") or "PARQUET").lower(),
                "record_count": df.get("record_count", 0),
                "first_row_id": df.get("first_row_id"),
            }
            if df.get("referenced_data_file"):
                # spec manifests are already one entry per vector
                entry["deletion_vectors"] = {
                    df["referenced_data_file"]: {
                        "offset": df.get("content_offset"),
                        "length": df.get("content_size_in_bytes"),
                        "cardinality": df.get("record_count", 0),
                    }
                }
            files.append(entry)
        out.append(Snapshot(s["snapshot-id"], s["timestamp-ms"], files))
    cur_id = meta.get("current-snapshot-id")
    return out, (None if cur_id in (-1, None) else cur_id)


def read_metadata_table(
    spark: SparkSession, table: ManifestTable, kind: str
) -> DataFrame:
    """``kind`` in {"snapshots", "files", "delete_files", "history",
    "refs"} — the Iceberg metadata-table surface over either table
    flavor (JSON manifest or spec metadata)."""
    if kind == "refs":
        types = {}
        if not isinstance(table, ManifestTable):  # spec refs carry a type
            types = {
                n: r.get("type", "tag")
                for n, r in table.metadata().get("refs", {}).items()
            }
        rows = [
            (n, sid, types.get(n, "tag")) for n, sid in sorted(table.refs().items())
        ]
        return spark.createDataFrame(rows, _REFS_SCHEMA)
    if kind in ("files", "delete_files"):
        # Only the current snapshot's files are consumed: don't
        # materialize the whole history's manifests.
        cid = table.current_snapshot_id()
        snaps, cur_id = _as_snapshots(
            table, wanted_ids=set() if cid is None else {cid}
        )
    else:
        snaps, cur_id = _as_snapshots(table)
    current = next((s for s in snaps if s.snapshot_id == cur_id), None)

    if kind == "snapshots":
        rows = []
        for s in snaps:
            by = {"DATA": 0, "POSITION_DELETES": 0, "EQUALITY_DELETES": 0}
            size = 0
            for f in s.files:
                by[f.get("content", "DATA")] += 1
                size += f.get("file_size_in_bytes", 0)
            rows.append(
                (
                    s.snapshot_id,
                    s.timestamp_ms,
                    "true" if s.snapshot_id == cur_id else "false",
                    len(s.files),
                    by["DATA"],
                    by["POSITION_DELETES"],
                    by["EQUALITY_DELETES"],
                    size,
                )
            )
        return spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)

    if kind == "files":
        if current is None:
            return spark.createDataFrame([], _FILES_SCHEMA)
        rows = [
            (
                f["path"],
                f.get("content", "DATA"),
                f.get("sequence_number", 0),
                list(f.get("equality_ids", [])) or None,
                f.get("file_size_in_bytes", 0),
                f.get("first_row_id"),
            )
            for f in current.files
        ]
        return spark.createDataFrame(rows, _FILES_SCHEMA)

    if kind == "delete_files":
        # Iceberg's delete_files metadata table: every live delete
        # entry, with deletion vectors expanded one row per vector
        # (v3 referenced_data_file / content offset+size fields).
        if current is None:
            return spark.createDataFrame([], _DELETE_FILES_SCHEMA)
        rows = []
        for f in current.files:
            if f.get("content", "DATA") == "DATA":
                continue
            base = (
                f["path"],
                f.get("content"),
                f.get("file_format", "parquet"),
                f.get("sequence_number", 0),
                list(f.get("equality_ids", [])) or None,
            )
            dvs = f.get("deletion_vectors")
            if dvs:
                for ref, info in sorted(dvs.items()):
                    rows.append(
                        base
                        + (
                            int(info.get("cardinality", 0)),
                            f.get("file_size_in_bytes", 0),
                            ref,
                            info.get("offset"),
                            info.get("length"),
                        )
                    )
            else:
                rows.append(
                    base
                    + (
                        f.get("record_count", 0),
                        f.get("file_size_in_bytes", 0),
                        None,
                        None,
                        None,
                    )
                )
        return spark.createDataFrame(rows, _DELETE_FILES_SCHEMA)

    if kind == "history":
        rows = []
        prev_paths: set[str] = set()
        prev_id = None
        for s in snaps:
            paths = {f["path"] for f in s.files}
            rows.append(
                (
                    s.snapshot_id,
                    s.timestamp_ms,
                    prev_id,
                    len(paths - prev_paths),
                    len(prev_paths - paths),
                )
            )
            prev_paths, prev_id = paths, s.snapshot_id
        return spark.createDataFrame(rows, _HISTORY_SCHEMA)

    raise ValueError(f"unknown metadata table kind: {kind!r}")


def snapshot_diff(
    spark: SparkSession,
    table: ManifestTable,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """File-level CDC between two snapshots: one row per file that was
    added or removed, with its content type — what a downstream sync
    job consumes to mirror table changes without a full re-scan."""
    to_id = table.current_snapshot_id() if to_snapshot_id is None else to_snapshot_id
    snaps, _ = _as_snapshots(table, wanted_ids={from_snapshot_id, to_id})
    by_id = {s.snapshot_id: s for s in snaps}
    frm = by_id.get(from_snapshot_id)
    if frm is None:
        raise ValueError(f"snapshot {from_snapshot_id} not found")
    to = by_id.get(to_id)
    if to is None:
        raise ValueError(f"snapshot {to_snapshot_id} not found")
    old = {f["path"]: f for f in frm.files}
    new = {f["path"]: f for f in to.files}
    schema = StructType(
        [
            StructField("change", StringType(), False),
            StructField("path", StringType(), False),
            StructField("content", StringType(), False),
            StructField("sequence_number", LongType(), False),
        ]
    )
    rows = [
        ("added", p, f.get("content", "DATA"), f.get("sequence_number", 0))
        for p, f in new.items()
        if p not in old
    ] + [
        ("removed", p, f.get("content", "DATA"), f.get("sequence_number", 0))
        for p, f in old.items()
        if p not in new
    ]
    return spark.createDataFrame(rows, schema)
