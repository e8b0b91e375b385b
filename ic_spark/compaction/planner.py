"""Merge-on-read plan construction.

Builds the reference's ONE query shape as a lazy DataFrame chain
(reference SQL generator:
``core/src/executor/datafusion/datafusion_processor.rs:254-308``; context
builder ``:371-477``):

    SELECT <user columns> FROM data
      [LEFT ANTI JOIN pos_deletes ON file_path AND pos]
      [LEFT ANTI JOIN eq_deletes_i ON eq_cols AND data.seq < del.seq]...

Spark-first choices (vs. the reference's hand-built scan):

- Hidden columns come from Spark's file-source metadata columns —
  ``_metadata.file_path`` and ``_metadata.row_index`` — computed inside
  the vectorized Parquet scan, before any shuffle, so the file→row
  mapping is exact (reference per-file counter:
  ``iceberg_file_task_scan.rs:234-247``).
- One scan per (file format, write schema) group: sequence numbers
  never split a scan.  Each row gets its file's attributes — sequence
  number (reference ``add_seq_num_into_batch``,
  ``iceberg_file_task_scan.rs:265-280``), manifest path, identity
  partition values, ``first_row_id`` — from one per-file lookup keyed
  on the scan's path column (:class:`FileLookup`).  The lookup is a
  constant hash table Catalyst folds into the plan: building it runs
  no Spark job and costs O(1) py4j calls however many files there are.
- Delete files are read under an enforced schema, so building the plan
  runs no schema-inference job.
- Delete tables are broadcast when small (the typical case — delete
  files are a fraction of data); at 100 TB the anti-join then never
  shuffles the data side.  AQE handles the large-delete fallback by
  switching to sort-merge at runtime.
- Catalyst prunes columns: equality-delete scans read only the
  equality-id columns; the final ``select(user_cols)`` drops hidden
  columns so they never leak into written files (reference
  ``datafusion_processor.rs:447-448``).
"""

from __future__ import annotations

import json
import os
import zlib
from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ic_spark.compaction.evolution import (
    _local_path,
    evolved_projection,
    validate_file_schemas,
)
from ic_spark.compaction.request import (
    LAST_UPDATED_SEQ_COL,
    ROW_ID_COL,
    SYS_HIDDEN_FILE_PATH,
    SYS_HIDDEN_POS,
    SYS_HIDDEN_SEQ_NUM,
    EqualityDeleteGroup,
    FileScanTask,
    RewriteFilesRequest,
    split_equality_delete_groups,
)

# Below this total byte size a delete table gets an explicit broadcast
# hint.  (AQE would usually discover this, but being explicit removes a
# shuffle of the — potentially 100 TB — data side from the static plan.)
BROADCAST_DELETE_BYTES = 256 * 1024 * 1024

# Raw scan-path column of one scan group, read by the file lookup.
_SCAN_PATH = "__scan_path"
_FILE = "__file"


def _scan_with_hidden_cols(
    spark: SparkSession,
    tasks: list[FileScanTask],
    schema=None,
    with_seq: bool = False,
    with_pos: bool = False,
    columns: list[str] | None = None,
    name_mapping: dict | None = None,
    schema_history: dict | None = None,
    lineage: dict | None = None,
) -> DataFrame | None:
    """Scan file tasks with hidden columns: one multi-path vectorized
    scan per (file format, write schema) group, whatever the number of
    sequence numbers.

    Per-file attributes come from one job-free :class:`FileLookup`
    keyed on the scan's own path column, so they are exact per row and
    exist before any shuffle can break file→row identity:
    ``sys_hidden_seq_num`` (``with_seq``), the MANIFEST spelling of the
    path in ``sys_hidden_file_path`` plus ``sys_hidden_pos``
    (``with_pos``), identity partition values, and — with a
    ``lineage`` map (manifest path → first_row_id) — the row-lineage
    columns ``_row_id`` / ``_last_updated_sequence_number`` (``schema``
    must then be :func:`lineage_scan_schema`).  A scan with none of
    these builds no lookup.

    Schema evolution: with an enforced ``schema``, old files null-fill
    added columns and Spark's Parquet reader applies widening reads;
    footers are validated first so a spec-illegal narrowing fails at
    plan time instead of corrupting (evolution.py).  With a
    ``name_mapping`` (renamed columns), the scan switches to Parquet
    schema merging + an evolved projection that coalesces the current
    name with its historical names.
    """
    if not tasks:
        return None
    # _row_id derives from the row position.
    with_pos = with_pos or lineage is not None
    cur_sid = schema_history["current_id"] if schema_history else None
    # Identity partition columns dropped from hive-layout data pages
    # are re-attached from manifest partition values HERE, so every
    # consumer (MoR, changelog, incremental, rowops) sees real values,
    # not page nulls.
    pv_names: set[str] = set()
    for t in tasks:
        if t.partition_values:
            pv_names.update(t.partition_values)
    if columns is not None:
        pv_names &= set(columns)
    elif schema is not None:
        pv_names &= {f.name for f in schema.fields}
    partition_cols = sorted(pv_names)
    lookup = None
    if with_seq or with_pos or partition_cols:
        lookup = FileLookup(tasks, partition_cols, lineage)
    # The reference's task list mixes formats freely (DataFileFormat
    # enum, proto.rs:282-289).  The write schema is the tracked schema
    # id on tables with activation tracking (schema_history present);
    # on name-mapped parquet it is the footer schema, because schema
    # merging refuses two generations whose column types differ.
    groups: dict[tuple, list[str]] = defaultdict(list)
    for t in tasks:
        fmt = t.file_format or "parquet"
        wsid = t.write_schema_id if schema_history else None
        footer = None
        if name_mapping and schema is not None and fmt == "parquet" and wsid in (None, cur_sid):
            footer = _footer_schema(t.data_file_path)
        groups[(fmt, wsid, footer)].append(t.data_file_path)

    if schema is not None:
        # Footer validation is a Parquet-metadata check.  Groups with a
        # known non-current write schema are validated against METADATA
        # types instead (their footers legitimately differ — dropped or
        # renamed columns), so only name-resolved files are checked here.
        parquet_paths = [
            t.data_file_path
            for t in tasks
            if (t.file_format or "parquet") == "parquet"
            and (not schema_history or t.write_schema_id in (None, cur_sid))
        ]
        if parquet_paths:
            validate_file_schemas(parquet_paths, schema, name_mapping)

    parts: list[DataFrame] = []
    for key in sorted(groups, key=lambda k: (k[0], -1 if k[1] is None else k[1], k[2] or ())):
        fmt, wsid, _footer = key
        paths = groups[key]
        write_schema = wsid is not None and wsid != cur_sid
        if fmt != "parquet":
            if write_schema:
                # Field-id resolution for NON-parquet groups too: the
                # codec scans read by NAME, so an ORC/Avro file written
                # before a rename must be scanned under its WRITE
                # schema and projected onto the current one by field
                # id — else the renamed column reads all-NULL and a
                # dropped-then-re-added column resurrects old data.
                write_struct, proj = _history_projection_cols(
                    schema_history, wsid, columns
                )
                g = _scan_non_parquet_group(
                    spark, paths, fmt, write_struct, with_pos, None, lookup is not None
                )
                hidden = [c for c in (_SCAN_PATH, SYS_HIDDEN_POS) if c in g.columns]
                parts.append(g.select(*proj, *hidden))
            else:
                parts.append(
                    _scan_non_parquet_group(
                        spark, paths, fmt, schema, with_pos, columns, lookup is not None
                    )
                )
            continue
        cols: list = []
        if write_schema:
            # Field-id resolution against the group's WRITE schema
            # (Iceberg exact semantics): renames read the old name,
            # widenings cast, absent ids null-fill — and a re-added
            # column (same name, NEW id) nulls instead of resurrecting
            # the dropped column's data.
            df, cols = _history_projection(
                spark, paths, schema_history, wsid, columns
            )
        else:
            reader = spark.read
            if schema is not None and not name_mapping:
                reader = reader.schema(schema)
            elif name_mapping:
                # Renames: merge old+new footers so both name
                # generations are visible to the evolved projection.
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(*paths)
            if name_mapping and schema is not None:
                cols.extend(evolved_projection(df.schema, schema, name_mapping))
            elif columns:
                cols.extend(F.col(c) for c in columns)
            else:
                cols.append(F.col("*"))
        if lookup is not None:
            cols.append(F.col("_metadata.file_path").alias(_SCAN_PATH))
        if with_pos:
            # Reference add_file_path_pos_into_batch: running per-file
            # row index.  _metadata.row_index matches the reference's
            # index_start counter exactly (physical Parquet row order).
            cols.append(F.col("_metadata.row_index").alias(SYS_HIDDEN_POS))
        parts.append(df.select(*cols))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if lookup is None:
        return out
    return _with_file_attrs(out, lookup, with_seq, with_pos, lineage is not None)


def _footer_schema(path: str) -> tuple | None:
    """A local parquet file's physical (name, type) columns; None when
    pyarrow cannot read its footer here."""
    import pyarrow.parquet as pq

    local = _local_path(path)
    if local is None or os.path.isdir(local):
        return None
    footer = pq.read_schema(local)
    return tuple(zip(footer.names, map(str, footer.types)))


def _with_file_attrs(
    scan: DataFrame, lookup: "FileLookup", with_seq: bool, with_pos: bool, lineage: bool
) -> DataFrame:
    """Project a scan's raw path column onto its file's attributes.

    The attribute struct is computed once per row in its own projection
    (Catalyst keeps a non-trivial expression referenced several times
    in a separate Project rather than inlining it per reference)."""
    f = F.col(_FILE)
    out = scan.select("*", lookup.attrs(F.col(_SCAN_PATH)).alias(_FILE))
    types = {fld.name: fld.dataType for fld in out.schema.fields}
    lineage_cols = (ROW_ID_COL, LAST_UPDATED_SEQ_COL) if lineage else ()
    cols = []
    for c in out.columns:
        if c in (_FILE, _SCAN_PATH, SYS_HIDDEN_POS) or c in lineage_cols:
            continue
        if c in lookup.partition_fields:
            # Enforced/merged schemas surface dropped columns as nulls;
            # files that DO carry the column in their pages win.
            pv = f[lookup.partition_fields[c]].cast(types[c])
            cols.append(F.coalesce(F.col(c), pv).alias(c))
        else:
            cols.append(F.col(c))
    if with_seq:
        cols.append(f["seq"].alias(SYS_HIDDEN_SEQ_NUM))
    if with_pos:
        cols.append(f["path"].alias(SYS_HIDDEN_FILE_PATH))
        cols.append(F.col(SYS_HIDDEN_POS))
    if lineage:
        # Iceberg v3 row lineage: a file's materialized columns win;
        # otherwise _row_id = first_row_id + position and the last
        # updated sequence number is the file's.
        row_id = F.coalesce(F.col(ROW_ID_COL), f["first_row_id"] + F.col(SYS_HIDDEN_POS))
        last_seq = F.coalesce(F.col(LAST_UPDATED_SEQ_COL), f["seq"])
        cols += [row_id.alias(ROW_ID_COL), last_seq.alias(LAST_UPDATED_SEQ_COL)]
    return out.select(*cols)


def _history_projection_cols(
    schema_history: dict, wsid: int, columns: list[str] | None
):
    """(write-schema StructType, field-id projection columns) for one
    write-schema group — shared by the parquet reader and the non-
    parquet codec scans so EVERY format resolves renames/widenings/
    re-adds by field id, not by name."""
    from ic_spark.compaction.evolution import is_promotable

    write_fields = schema_history["schemas"][wsid]
    cur_fields = schema_history["schemas"][schema_history["current_id"]]
    if columns:
        wanted = set(columns)
        cur_fields = tuple(f for f in cur_fields if f[1] in wanted)
    write_struct = StructType(
        [StructField(nm, tp, nullable) for _, nm, tp, nullable in write_fields]
    )
    id_to_old = {fid: (nm, tp) for fid, nm, tp, _ in write_fields}
    cols = []
    for fid, name, tp, _ in cur_fields:
        if fid in id_to_old:
            old_nm, old_tp = id_to_old[fid]
            if old_tp != tp and not is_promotable(old_tp, tp):
                raise ValueError(
                    f"schema {wsid} field {old_nm!r} "
                    f"({old_tp.simpleString()}) cannot widen to current "
                    f"{name!r} ({tp.simpleString()})"
                )
            c = F.col(old_nm).cast(tp) if old_tp != tp else F.col(old_nm)
            cols.append(c.alias(name))
        else:
            cols.append(F.lit(None).cast(tp).alias(name))
    return write_struct, cols


def _history_projection(
    spark: SparkSession,
    paths: list[str],
    schema_history: dict,
    wsid: int,
    columns: list[str] | None,
):
    """Scan one group of files under its WRITE schema and build the
    field-id projection onto the current schema.

    Returns ``(df, cols)``: the reader enforces the write schema (types
    as written — stable reads), and each current field resolves to the
    write schema's same-ID column (renamed: old name; widened: cast;
    absent id: typed NULL).  Widenings are validated against the
    metadata types (evolution.is_promotable) — no footer I/O needed.
    """
    write_struct, cols = _history_projection_cols(
        schema_history, wsid, columns
    )
    df = spark.read.schema(write_struct).parquet(*paths)
    return df, cols


def _scan_non_parquet_group(
    spark: SparkSession,
    paths: list[str],
    fmt: str,
    schema,
    with_pos: bool,
    columns: list[str] | None,
    with_path: bool = False,
) -> DataFrame:
    """Scan one group of Avro or ORC data files: the user columns, then
    the raw scan path (``with_path``) and row position (``with_pos``)
    under the names the ``_scan_with_hidden_cols`` tail reads.

    Avro: the distributed pure-Python codec scan (sources/avro_scan.py)
    computes exact per-file running row positions during decode — the
    reference's ``index_start`` accumulation — so position deletes work.
    ORC: Spark's native vectorized reader for plain scans;
    ``_metadata.row_index`` is Parquet-only, so POSITIONAL ORC scans
    route through the distributed pyarrow.orc codec scan
    (sources/orc_scan.py), whose running per-file record index matches
    the native reader's row order (pinned in tests).
    """
    with_path = with_path or with_pos
    if fmt == "avro" or (fmt == "orc" and with_pos):
        if fmt == "avro":
            from ic_spark.sources import avro_scan as codec

            df = codec.read_avro_distributed(
                spark,
                paths,
                schema=schema,
                columns=columns,
                with_path_pos=with_pos,
                with_path=with_path,
            )
        else:
            from ic_spark.sources import orc_scan as codec

            df = codec.read_orc_distributed(
                spark, paths, schema=schema, columns=columns, with_path_pos=True
            )
        hidden = (codec.FILE_PATH_COL, codec.POS_COL)
        cols = [F.col(c) for c in columns or df.columns if c not in hidden]
        if with_path:
            cols.append(F.col(codec.FILE_PATH_COL).alias(_SCAN_PATH))
        if with_pos:
            cols.append(F.col(codec.POS_COL).alias(SYS_HIDDEN_POS))
        return df.select(*cols)
    if fmt == "orc":
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        # NOT reader.orc(*paths): pyspark's orc() takes ONE path-or-list
        # positional — a second splatted path lands in the keyword
        # options ("modifiedBefore") and the scan reads half the files.
        df = reader.orc(list(paths))
        cols = [F.col(c) for c in columns] if columns else [F.col("*")]
        if with_path:
            # Path-only (lookup): the NATIVE vectorized reader exposes
            # _metadata.file_path — only row_index forces the codec
            # scan above.
            cols.append(F.col("_metadata.file_path").alias(_SCAN_PATH))
        return df.select(*cols)
    raise ValueError(f"unsupported data file format: {fmt}")


def scan_position_delete_rows(
    spark: SparkSession, tasks: list[FileScanTask]
) -> DataFrame:
    """Read parquet position-delete files → two columns
    (sys_hidden_file_path, sys_hidden_pos), tolerating BOTH column-name
    flavors: the Iceberg spec's ``file_path``/``pos`` (what
    write_position_deletes emits, so real Iceberg readers interop) and
    the legacy ``sys_hidden_*`` names.  Paths keep the spelling the
    files recorded (:func:`position_delete_rows` folds them).

    Files are grouped by their footer's leading column names before the
    multi-path read — a single mixed read would resolve by one sampled
    schema and silently NULL the other flavor's columns.  The sniff is
    one pyarrow footer read per DELETE file (delete files are few and
    maintenance-bounded; Iceberg planning reads these footers too), and
    each group is read under the enforced ``(string, long)`` schema of
    the sniffed names, so planning runs no schema-inference job.  A
    footer pyarrow cannot read (object-store path) leaves its group to
    Spark's inference under the spec names.
    """
    import pyarrow.parquet as pq

    def sniff(path: str) -> tuple | None:
        p = path
        if os.path.isdir(p):  # tasks may reference a directory write
            p = next(
                (
                    os.path.join(p, n)
                    for n in sorted(os.listdir(p))
                    if n.endswith(".parquet")
                ),
                p,
            )
        try:
            return tuple(pq.read_schema(p).names[:2])
        except Exception:
            return None

    groups: dict[tuple | None, list[str]] = defaultdict(list)
    for t in tasks:
        groups[sniff(t.data_file_path)].append(t.data_file_path)
    parts = []
    for names, paths in sorted(groups.items(), key=lambda kv: kv[0] or ()):
        if names is None:
            df = spark.read.parquet(*paths).select(
                "file_path", F.col("pos").cast("long")
            )
        else:
            df = spark.read.schema(
                StructType(
                    [
                        StructField(names[0], StringType()),
                        StructField(names[1], LongType()),
                    ]
                )
            ).parquet(*paths)
        parts.append(df.toDF(SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def position_delete_rows(
    spark: SparkSession,
    tasks: list[FileScanTask],
    data_files: list[FileScanTask],
) -> DataFrame:
    """Every (sys_hidden_file_path, sys_hidden_pos) row of parquet
    position-delete files and deletion vectors (puffin), each path
    folded onto the MANIFEST spelling of its data file in
    ``data_files`` — the spelling the data scan's hidden path column
    carries.  Deletes recorded under any scan spelling (``file:``
    scheme, %XX-encoded ASCII) or the plain manifest path therefore
    meet their rows in a plain equi-join; a path of no file in
    ``data_files`` stays as recorded and matches nothing.
    """
    pq_tasks = [t for t in tasks if t.file_format != "puffin"]
    dv_tasks = [t for t in tasks if t.file_format == "puffin"]
    parts = []
    if pq_tasks:
        parts.append(scan_position_delete_rows(spark, pq_tasks))
    if dv_tasks:
        parts.append(
            _scan_deletion_vectors(
                spark, [t.data_file_path for t in dv_tasks]
            ).toDF(SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    lookup = FileLookup(data_files)
    return out.select(
        lookup.canonical(F.col(SYS_HIDDEN_FILE_PATH)).alias(SYS_HIDDEN_FILE_PATH),
        F.col(SYS_HIDDEN_POS),
    )


def equality_delete_rows(
    spark: SparkSession,
    group: EqualityDeleteGroup,
    schema=None,
    name_mapping: dict | None = None,
    schema_history: dict | None = None,
) -> DataFrame:
    """One scan of an equality-delete group: its key columns plus
    ``sys_hidden_seq_num``.

    The files are read under ``schema``'s key fields (footers checked
    by ``validate_file_schemas``), so planning runs no schema-inference
    job.  With a ``name_mapping``, a delete file written BEFORE a key
    rename stores the key under its OLD footer name, and the evolved
    projection coalesces the current name with its historical names.
    """
    eq_cols = list(group.equality_ids)
    by_name = {f.name: f for f in schema.fields} if schema is not None else {}
    eq_schema = None
    if all(c in by_name for c in eq_cols):
        eq_schema = StructType([by_name[c] for c in eq_cols])
    return _scan_with_hidden_cols(
        spark,
        list(group.tasks),
        schema=eq_schema,
        with_seq=True,
        # columns rides along even with the enforced schema: a mixed
        # group (one delete per write-schema generation) must prune its
        # history-projected parts to eq_cols too or the union of parts
        # mismatches.
        columns=eq_cols,
        name_mapping=name_mapping if eq_schema is not None else None,
        schema_history=schema_history,
    )


def _scan_deletion_vectors(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Expand deletion-vector (Puffin) files to (file_path, pos) rows.

    Iceberg v3 analog: each Puffin blob is a roaring bitmap of deleted
    positions for one data file (sources/puffin.py).  The puffin files
    are distributed via binaryFile and blobs expand executor-side, so
    the expansion feeds the SAME positional anti-join as parquet
    position-delete files — plan shape unchanged, delete data never
    driver-side.
    """

    def expand_dvs(batches):
        import pandas as pd

        from ic_spark.sources.puffin import read_deletion_vectors

        for pdf in batches:
            for content in pdf["content"]:
                for ref, positions in read_deletion_vectors(
                    bytes(content)
                ).items():
                    if positions:
                        yield pd.DataFrame({"file_path": ref, "pos": positions})

    out_schema = StructType(
        [
            StructField("file_path", StringType(), False),
            StructField("pos", LongType(), False),
        ]
    )
    files = spark.read.format("binaryFile").load(paths)
    return files.select("content").mapInPandas(expand_dvs, schema=out_schema)


# Rough in-memory width of one expanded (file_path, pos) delete row —
# used to size deletion-vector broadcasts by cardinality, since roaring
# bitmaps compress ~100M positions into a few MB of puffin bytes.
_DV_ROW_BYTES = 16


def _maybe_broadcast(df: DataFrame, tasks: list[FileScanTask]) -> DataFrame:
    total = 0
    for t in tasks:
        if t.file_format == "puffin":
            # The broadcast payload is the EXPANDED (file_path, pos)
            # rows, not the compressed puffin bytes: size by blob
            # cardinality (manifest record_count).  Unknown cardinality
            # (0) must NOT count as small — a tiny run-encoded bitmap
            # can expand to millions of rows — so skip the hint and let
            # AQE decide from the runtime row count.
            if t.record_count <= 0:
                return df
            total += t.record_count * _DV_ROW_BYTES
        else:
            # Unknown sizes (0) count as small — delete files are small
            # in the reference's operating regime; AQE corrects us if not.
            total += t.file_size_in_bytes
    if total <= BROADCAST_DELETE_BYTES:
        return F.broadcast(df)
    return df


def apply_position_deletes(data: DataFrame, pos_del: DataFrame) -> DataFrame:
    """Equi anti-join on (file_path, pos) — reference O7
    (datafusion_processor.rs:265-277).  ``pos_del`` columns must be
    (sys_hidden_file_path, sys_hidden_pos); ``data`` must carry both."""
    return data.join(
        pos_del, on=[SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS], how="left_anti"
    )


def apply_equality_deletes(
    data: DataFrame, eq_del: DataFrame, eq_cols: list[str], null_safe: bool = False
) -> DataFrame:
    """Anti-join on equality columns + STRICT seq guard — reference O8
    (datafusion_processor.rs:279-305).  A delete applies only to data
    with a strictly OLDER sequence number (:300-304) — same-sequence
    data survives.  Both sides must carry ``sys_hidden_seq_num``.

    NULL keys: the reference builds plain ``=`` conditions, under which
    null never matches — null-keyed data rows always survive and
    null-keyed delete rows delete nothing (the default here).  The
    Iceberg spec instead treats null as equal to null for equality
    deletes; pass ``null_safe=True`` for spec semantics (``<=>``)."""
    cond = F.col(f"d.{SYS_HIDDEN_SEQ_NUM}") < F.col(f"e.{SYS_HIDDEN_SEQ_NUM}")
    for c in eq_cols:
        eq = (
            F.col(f"d.{c}").eqNullSafe(F.col(f"e.{c}"))
            if null_safe
            else F.col(f"d.{c}") == F.col(f"e.{c}")
        )
        cond = cond & eq
    return data.alias("d").join(eq_del.alias("e"), on=cond, how="left_anti")


# java.net.URI path component: RFC 3986 unreserved + sub-delims +
# ":" "@" "/" stay literal.  Java's URI.toString() (what Hadoop Path —
# and so Spark's _metadata.file_path — emits) percent-encodes ONLY
# the remaining ASCII characters and leaves non-ASCII raw; probing
# confirms "café latte" scans as "café%20latte" (mixed spelling).
_URI_LITERAL = set(
    "/!$&'()*+,;=:@-._~"
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)


def _uri_spelling(p: str) -> str:
    out = []
    for ch in p:
        if ord(ch) > 127 or ch in _URI_LITERAL:
            out.append(ch)
        else:
            out.append(f"%{ord(ch):02X}")
    return "".join(out)


def _scan_path_variants(p: str) -> list[str]:
    """Every string the scan's hidden path column could spell for a
    manifest path ``p`` — the key set of its :class:`FileLookup` entry.

    Two spellings exist: the raw filesystem path (binaryFile-based
    scans: avro, and the ``file:``-prefixed raw form) and the Hadoop
    Path URI (parquet/orc ``_metadata.file_path``: illegal ASCII
    percent-encoded, non-ASCII raw — :func:`_uri_spelling`).  Encoding
    is done HERE on the build side so the scan column is looked up
    unmodified — no per-row decode in the hot path.  Variants are
    deduped per path.
    """
    enc = _uri_spelling(p)
    out = [p]
    if enc != p:
        out.append(enc)
    if ":" not in p.split("/", 1)[0]:  # schemeless → scan sees file:
        out.append("file:" + p)
        if enc != p:
            out.append("file:" + enc)
    return out


def _file_spellings(path: str) -> list[str]:
    """Every string a scan's path column could spell for ``path``: the
    :func:`_scan_path_variants`, plus those of the filesystem path a
    ``file:`` URI names."""
    out = _scan_path_variants(path)
    local = _local_path(path) if path.startswith("file:") else None
    if local is not None and local != path:
        out += [v for v in _scan_path_variants(local) if v not in out]
    return out


def _task_files(path: str) -> list[str]:
    """The files a task path stands for: the path itself, or every
    non-hidden file under a local directory (tasks may reference a
    directory write; Spark skips names starting with ``_`` or ``.``)."""
    local = _local_path(path)
    if local is None or not os.path.isdir(local):
        return [path]
    return [
        os.path.join(root, n)
        for root, _dirs, names in sorted(os.walk(local))
        for n in sorted(names)
        if not n.startswith(("_", "."))
    ]


class FileLookup:
    """Per-file attributes of a task list, looked up by any spelling of
    a file's path: ``path`` (the manifest spelling; for a directory
    task, the file's own path), ``seq`` (its sequence number), one
    ``pv<i>`` string per identity partition column, and, with a
    ``lineage`` map (manifest path → first_row_id), ``first_row_id``.

    The table is one JSON string literal parsed by ``from_json``, which
    Catalyst constant-folds into the plan: building it runs no Spark
    job and costs O(1) py4j calls however many files there are.  A
    Spark map lookup scans its keys linearly, so the literal is an
    array of small maps bucketed by ``crc32`` of the spelling (Python's
    ``zlib.crc32`` and Spark's ``crc32`` agree on the UTF-8 bytes): a
    row costs one hash and a few key compares.  Each spelling is
    emitted here, on the build side, so the scan column is looked up
    unmodified.  Two files sharing a spelling (``/p=a b`` vs
    ``/p=a%20b``) are ambiguous and refused: any binding would give
    one file's attributes to the other's rows.  ``paths`` is the same
    table on the driver: spelling → file path.
    """

    def __init__(
        self,
        tasks: list[FileScanTask],
        partition_cols: list[str] = (),
        lineage: dict | None = None,
    ):
        self.partition_fields = {c: f"pv{i}" for i, c in enumerate(partition_cols)}
        fields = [StructField("path", StringType()), StructField("seq", LongType())]
        fields += [StructField(n, StringType()) for n in self.partition_fields.values()]
        if lineage is not None:
            fields.append(StructField("first_row_id", LongType()))
        self.struct = StructType(fields)
        entries: dict[str, dict] = {}
        self.paths: dict[str, str] = {}
        for t in tasks:
            pv = t.partition_values or {}
            for path in _task_files(t.data_file_path):
                rec = {"path": path, "seq": t.sequence_number}
                for c, name in self.partition_fields.items():
                    v = pv.get(c)
                    hive_null = v is None or v == "__HIVE_DEFAULT_PARTITION__"
                    rec[name] = None if hive_null else str(v)
                if lineage is not None:
                    rec["first_row_id"] = lineage.get(t.data_file_path)
                for v in _file_spellings(path):
                    other = self.paths.setdefault(v, path)
                    if other != path:
                        raise ValueError(
                            f"ambiguous scan path spelling {v!r}: "
                            f"{other!r} vs {path!r}"
                        )
                    entries[v] = rec
        self.buckets = max(1, len(entries))
        table: list[dict] = [{} for _ in range(self.buckets)]
        for v, rec in entries.items():
            table[zlib.crc32(v.encode("utf-8")) % self.buckets][v] = rec
        self._table = F.from_json(
            F.lit(json.dumps(table)), ArrayType(MapType(StringType(), self.struct))
        )

    def find(self, path: Column) -> Column:
        """The attribute struct of ``path``, or NULL when no file in the
        task list has that spelling."""
        slot = F.crc32(path.cast("binary")) % self.buckets + 1
        return F.element_at(F.element_at(self._table, slot.cast("int")), path)

    def attrs(self, path: Column) -> Column:
        """:meth:`find` that raises on a miss.  A scanned file always
        has attributes; a NULL sequence number would turn the
        equality-delete guard ``d.seq < e.seq`` false and bring deleted
        rows back silently."""
        miss = F.raise_error(
            F.concat(F.lit("scan path missing from the file lookup: "), path)
        )
        return F.coalesce(self.find(path), miss.cast(self.struct))

    def canonical(self, path: Column) -> Column:
        """The manifest spelling of ``path``; a path of no file in the
        task list passes through unchanged."""
        return F.coalesce(self.find(path)["path"], path)


def build_merge_on_read(
    spark: SparkSession,
    request: RewriteFilesRequest,
    lineage: dict | None = None,
) -> DataFrame:
    """Construct the MoR DataFrame: data minus deleted rows, user schema.

    Semantic port of ``build_merge_on_read`` + ``SqlBuilder.build``
    (reference datafusion_processor.rs:254-308, 371-477).  One data
    scan per (format, write-schema) group and one delete scan per
    equality-delete group, whatever the number of sequence numbers;
    building the plan runs no Spark job.

    ``lineage`` (Iceberg v3 row lineage, spec "Row Lineage"): a map
    ``file_path -> first_row_id`` covering every data file.  The output
    then carries ``_row_id`` and ``_last_updated_sequence_number``
    after the user columns: files with a first_row_id derive
    ``first_row_id + position`` / the file's sequence number; files
    with None MATERIALIZE both as physical columns (compaction
    outputs), surfaced by appending the two nullable fields to the
    enforced scan schema (plain files null-fill them).  The map rides
    in the scan's file lookup, so it scales with file COUNT, not rows.
    """
    # The lineage metadata columns are never user columns — strip them
    # if an inferred schema picked them up from materialized files.
    user_cols = [f.name for f in strip_lineage_fields(request.schema).fields]
    scan_schema = request.schema
    if lineage is not None:
        scan_schema = lineage_scan_schema(request.schema)
        user_cols += [ROW_ID_COL, LAST_UPDATED_SEQ_COL]

    data = _scan_with_hidden_cols(
        spark,
        request.data_files,
        schema=scan_schema,
        with_seq=bool(request.equality_delete_files),
        with_pos=bool(request.position_delete_files),
        name_mapping=request.name_mapping,
        schema_history=request.schema_history,
        lineage=lineage,
    )
    if data is None:
        raise ValueError("rewrite request has no data files")

    if request.position_delete_files:
        # Position-delete schema is fixed (file_path, pos) — reference
        # datafusion_processor.rs:350-368.  Deletion-vector (puffin)
        # tasks expand to the same two columns in the same anti-join.
        pos_del = position_delete_rows(
            spark, request.position_delete_files, request.data_files
        )
        pos_del = _maybe_broadcast(pos_del, request.position_delete_files)
        data = apply_position_deletes(data, pos_del)

    # One anti-join per order-sensitive equality-id group, chained in
    # task order (reference :279-305, group split :376-400).
    # schema_history rides along: a delete file written BEFORE a
    # key-column rename stores the key under its OLD name, and the
    # field-id projection resolves it to the current name.
    for group in split_equality_delete_groups(request.equality_delete_files):
        eq_del = equality_delete_rows(
            spark, group, request.schema, request.name_mapping, request.schema_history
        )
        eq_del = _maybe_broadcast(eq_del, list(group.tasks))
        data = apply_equality_deletes(data, eq_del, list(group.equality_ids))

    # Final projection: hidden columns never leak (reference :447-448).
    return data.select(*user_cols)


def strip_lineage_fields(schema):
    """Drop the lineage metadata fields from a (possibly inferred)
    schema — compacted footers materialize them physically, but they
    are never user columns."""
    return StructType(
        [
            f
            for f in schema.fields
            if f.name not in (ROW_ID_COL, LAST_UPDATED_SEQ_COL)
        ]
    )


def lineage_scan_schema(schema):
    """User schema + the two nullable lineage metadata fields, so
    materialized files surface their physical ``_row_id`` /
    ``_last_updated_sequence_number`` columns and plain files null-fill
    them (any pre-existing lineage fields are stripped first)."""
    return StructType(
        list(strip_lineage_fields(schema).fields)
        + [
            StructField(ROW_ID_COL, LongType(), True),
            StructField(LAST_UPDATED_SEQ_COL, LongType(), True),
        ]
    )
