"""Request/response model for the rewrite-files (compaction) operation.

Python mirror of the reference's native structs:

- ``FileScanTask`` — reference ``core/src/parser/proto.rs:113-131`` /
  ``core/proto/iceberg.proto:117-127``: the unit of scan work
  (path, sequence number, content type, equality ids).
- ``RewriteFilesRequest`` — reference ``core/src/executor/mod.rs:50-57``.
- ``RewriteFilesStat`` — reference ``core/src/executor/mod.rs:81-87``.

Spark difference: we don't carry per-task byte ranges or projected field
ids — Spark's FileSourceScanExec does its own split planning and Catalyst
prunes columns; a task here is (path, seq_num, content) and the engine
reads each (format, write schema) group with one vectorized scan, the
sequence number coming from a per-file lookup (planner.FileLookup).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql.types import StructType

# Hidden (engine-injected) column names — reference
# core/src/executor/datafusion/datafusion_processor.rs:37-40.
SYS_HIDDEN_SEQ_NUM = "sys_hidden_seq_num"
SYS_HIDDEN_FILE_PATH = "sys_hidden_file_path"
SYS_HIDDEN_POS = "sys_hidden_pos"

# Iceberg v3 row-lineage metadata columns (spec names).
ROW_ID_COL = "_row_id"
LAST_UPDATED_SEQ_COL = "_last_updated_sequence_number"
SYS_HIDDEN_COLS = (SYS_HIDDEN_SEQ_NUM, SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS)


class FileContent(Enum):
    """Iceberg file content type — reference core/proto/iceberg.proto."""

    DATA = 0
    POSITION_DELETES = 1
    EQUALITY_DELETES = 2


@dataclass(frozen=True)
class FileScanTask:
    """One input file for the rewrite.

    ``equality_ids`` names the columns forming the equality-delete key
    (the reference uses Iceberg field IDs; we use column names — same
    information, Spark resolves by name).
    """

    data_file_path: str
    sequence_number: int = 0
    content: FileContent = FileContent.DATA
    equality_ids: tuple[str, ...] = ()
    file_size_in_bytes: int = 0
    record_count: int = 0
    # Reference DataFileFormat enum (proto.rs:282-289): avro/orc/parquet.
    file_format: str = "parquet"
    # The schema id the file was WRITTEN under (derived from sequence-
    # number boundaries recorded at each schema-evolution commit).
    # None = unknown -> resolve columns by name / name-mapping; set ->
    # exact field-id resolution (drop-then-re-add never resurrects old
    # column data).  See RewriteFilesRequest.schema_history.
    write_schema_id: int | None = None
    # Iceberg v3 row lineage: the id of this data file's first row —
    # row N's implicit _row_id is first_row_id + N.  None on lineage
    # tables means the file MATERIALIZES _row_id /
    # _last_updated_sequence_number as physical columns (spec rule:
    # null first-row-id => non-null materialized lineage), e.g. a
    # compaction rewrite output.  Not meaningful on non-lineage tables.
    first_row_id: int | None = None
    # Manifest-recorded partition values (hive dir strings) for files
    # whose identity partition columns were dropped from the data pages;
    # the MoR scan re-attaches them (planner.FileLookup).
    partition_values: dict | None = None


@dataclass(frozen=True)
class EqualityDeleteGroup:
    """A run of equality-delete tasks sharing one ``equality_ids`` list.

    The reference opens a NEW delete table each time the id-list changes
    while streaming the task list (order-sensitive grouping — reference
    core/src/executor/datafusion/datafusion_processor.rs:376-400).
    """

    equality_ids: tuple[str, ...]
    tasks: tuple[FileScanTask, ...]


def split_equality_delete_groups(
    tasks: list[FileScanTask],
) -> list[EqualityDeleteGroup]:
    """Order-sensitive grouping by consecutive equality_ids runs.

    Direct semantic port of the builder loop at reference
    datafusion_processor.rs:376-400: a new group starts whenever the
    id-list differs from the previous task's, even if an identical list
    appeared earlier.
    """
    groups: list[EqualityDeleteGroup] = []
    run: list[FileScanTask] = []
    current_ids: tuple[str, ...] | None = None
    for task in tasks:
        if task.content is not FileContent.EQUALITY_DELETES:
            raise ValueError(f"not an equality-delete task: {task}")
        if not task.equality_ids:
            # An empty id list would build a seq-guard-only anti-join
            # that deletes EVERY older data row — a malformed manifest
            # entry must fail loudly, not wipe the table (r9 review
            # find).
            raise ValueError(
                "equality-delete task with no equality_ids: "
                f"{task.data_file_path}"
            )
        if current_ids is None or task.equality_ids != current_ids:
            if run:
                groups.append(EqualityDeleteGroup(current_ids, tuple(run)))
            run = []
            current_ids = task.equality_ids
        run.append(task)
    if run:
        groups.append(EqualityDeleteGroup(current_ids, tuple(run)))
    return groups


@dataclass
class RewriteFilesRequest:
    """Everything needed to rewrite one table's files.

    Reference core/src/executor/mod.rs:50-57 (FileIO is replaced by
    Spark's Hadoop-FS layer; dir_path is where new files land).
    """

    schema: StructType
    data_files: list[FileScanTask] = field(default_factory=list)
    position_delete_files: list[FileScanTask] = field(default_factory=list)
    equality_delete_files: list[FileScanTask] = field(default_factory=list)
    dir_path: str = ""
    partition_by: list[str] = field(default_factory=list)
    target_partitions: int = 4
    data_file_prefix: str = "10"
    # Analog of Iceberg write.target-file-size-bytes / the reference's
    # Parquet WriterProperties: bound output file size by row count
    # (0 = unbounded, one file per task).
    max_records_per_file: int = 0
    # Reference FileIoBuilder (proto.rs:93-98): {"scheme": str,
    # "props": {...}} — applied to the session's Hadoop conf before the
    # rewrite so s3a/gs paths resolve (sources/fileio.py).
    file_io: dict | None = None
    # Reference PartitionSpec (iceberg.proto:58-61): transform-aware
    # partitioning.  Each entry {"name": partition column, "source":
    # source column, "transform": identity|year|month|day|hour|void|
    # bucket|truncate, +"n"/"width" params}.  Takes precedence over the
    # raw-column ``partition_by``.
    partition_spec: list[dict] | None = None
    # Iceberg sort order (DataFile.sort_order_id, iceberg.proto:199):
    # each entry {"column": str, "desc": bool, "nulls_first": bool}.
    # Rows are sorted WITHIN each output task/partition — a local sort,
    # no extra shuffle — so min/max footer stats become selective and
    # scans with predicates on the sort columns skip row groups.
    sort_order: list[dict] | None = None
    sort_order_id: int = 0
    # Z-order clustering: 2-3 non-negative int columns whose Morton-
    # interleaved key drives the local sort (multi-dimensional file
    # skipping).  Mutually exclusive with sort_order.
    zorder_by: list[str] | None = None
    # Parquet bloom filters on these columns (write.parquet.bloom-
    # filter-enabled.column.* in Iceberg terms): row-group-level point
    # -lookup skipping for high-cardinality keys where min/max stats
    # can't prune (e.g. uuid/hash ids).  Read side is automatic — the
    # vectorized Parquet reader consults blooms for = and IN filters.
    bloom_filter_cols: list[str] | None = None
    # Expected distinct values per bloom column (sizes the filter —
    # parquet-mr's default 1M NDV costs ~1 MB per row group per column;
    # size it to the real key cardinality).
    bloom_filter_ndv: dict | None = None
    # Output codec (reference WriterProperties analog): snappy (Spark
    # default) / zstd / gzip / lz4 / none.
    compression: str | None = None
    # Output DATA-FILE format — the reference's DataFileFormat enum
    # carries avro/orc/parquet (proto.rs:282-289) though its writer
    # emits parquet only; here all three WRITE too (writer.py routes
    # avro/orc through executor-side Python writers with write-time
    # column stats).  In-process option, not on the proto wire (the
    # reference request has no such field).
    data_file_format: str = "parquet"
    # Schema-evolution name mapping (Iceberg schema.name-mapping.default
    # analog): {current field name: [historical names, ...]}.  Lets data
    # files written before a RENAME resolve their columns to the current
    # request schema; widening promotions (int->long, float->double,
    # decimal precision) apply on top.  See compaction/evolution.py.
    name_mapping: dict | None = None
    # Full field-id schema history (Iceberg "Schema Evolution" exact
    # semantics): {"current_id": int, "schemas": {schema_id:
    # ((field_id, name, DataType, nullable), ...)}}.  When set, data
    # file groups whose ``write_schema_id`` differs from current are
    # projected by FIELD ID against their write schema — renames read
    # the old column name, widenings cast, fields absent from the write
    # schema null-fill, and a DROPPED-then-RE-ADDED column (same name,
    # new id) never resurrects the old column's data.  Tasks without a
    # write_schema_id fall back to name / name-mapping resolution.
    schema_history: dict | None = None


@dataclass
class RewriteFilesStat:
    """Reference core/src/executor/mod.rs:81-87."""

    rewritten_files_count: int = 0
    added_files_count: int = 0
    rewritten_bytes: int = 0
    failed_data_files_count: int = 0


@dataclass
class DataFileMeta:
    """Output file metadata — reference core/proto/iceberg.proto:184-202.

    Per-column stats are computed with one aggregation over the written
    data (count/min/max/null-count), matching what the Iceberg writer
    collects natively.
    """

    file_path: str
    file_format: str
    record_count: int
    file_size_in_bytes: int
    partition_values: dict | None = None
    column_stats: dict | None = None
    sort_order_id: int | None = None


@dataclass
class RewriteFilesResponse:
    data_files: list[DataFileMeta] = field(default_factory=list)
    stat: RewriteFilesStat = field(default_factory=RewriteFilesStat)
