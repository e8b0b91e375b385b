"""Metadata tables: the table's own manifest exposed as DataFrames.

Iceberg exposes ``db.table.snapshots`` / ``.files`` / ``.history`` as
queryable relations; users inspect table health (file counts, delete
ratios, snapshot lineage) with plain SQL instead of parsing manifests.
Same surface here over either flavor, read through the shared table
model's decoder (``model_state`` / ``live_files``), so this module knows
neither on-disk format.

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

from ic_spark.compaction.table_model import TableModel, key_names

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


def read_metadata_table(
    spark: SparkSession, table: TableModel, kind: str
) -> DataFrame:
    """``kind`` in {"snapshots", "files", "delete_files", "history",
    "refs"} — the Iceberg metadata-table surface over either table
    flavor (JSON manifest or spec metadata)."""
    state = table.model_state()
    if kind == "refs":
        rows = [(n, sid, typ) for n, (sid, typ) in sorted(state.refs.items())]
        return spark.createDataFrame(rows, _REFS_SCHEMA)
    cur_id = state.current_snapshot_id
    names = state.field_names()
    if kind in ("files", "delete_files"):
        # Only the current snapshot's files are consumed: don't decode
        # the whole history's manifests.
        current = table.live_files(
            None, state, deletes_only=kind == "delete_files"
        )
    else:
        snaps = [
            (sid, ts, table.live_files(sid, state)) for sid, ts in state.snapshots
        ]

    if kind == "snapshots":
        rows = []
        for sid, ts, files in snaps:
            by = {"DATA": 0, "POSITION_DELETES": 0, "EQUALITY_DELETES": 0}
            size = 0
            for f in files:
                by[f.get("content", "DATA")] += 1
                size += f.get("file_size_in_bytes", 0)
            rows.append(
                (
                    sid,
                    ts,
                    "true" if sid == cur_id else "false",
                    len(files),
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
                list(key_names(f.get("equality_ids"), names)) or None,
                f.get("file_size_in_bytes", 0),
                f.get("first_row_id"),
            )
            for f in current
        ]
        return spark.createDataFrame(rows, _FILES_SCHEMA)

    if kind == "delete_files":
        # Iceberg's delete_files metadata table: every live delete
        # entry, with deletion vectors expanded one row per vector
        # (v3 referenced_data_file / content offset+size fields).
        if current is None:
            return spark.createDataFrame([], _DELETE_FILES_SCHEMA)
        rows = []
        for f in current:
            base = (
                f["path"],
                f.get("content"),
                f.get("file_format", "parquet"),
                f.get("sequence_number", 0),
                list(key_names(f.get("equality_ids"), names)) or None,
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
        for sid, ts, files in snaps:
            paths = {f["path"] for f in files}
            rows.append(
                (sid, ts, prev_id, len(paths - prev_paths), len(prev_paths - paths))
            )
            prev_paths, prev_id = paths, sid
        return spark.createDataFrame(rows, _HISTORY_SCHEMA)

    raise ValueError(f"unknown metadata table kind: {kind!r}")


def snapshot_diff(
    spark: SparkSession,
    table: TableModel,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """File-level CDC between two snapshots: one row per file that was
    added or removed, with its content type — what a downstream sync
    job consumes to mirror table changes without a full re-scan."""
    state = table.model_state()
    frm = table.live_files(from_snapshot_id, state)
    to = table.live_files(to_snapshot_id, state)
    if to is None:
        raise ValueError(f"snapshot {to_snapshot_id} not found")
    old = {f["path"]: f for f in frm}
    new = {f["path"]: f for f in to}
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
