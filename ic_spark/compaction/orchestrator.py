"""Compaction orchestrator — full-table compaction end to end.

Semantic port of ``Compaction::full_compact``
(reference ``core/src/compaction/mod.rs:43-79``):

  load table → enumerate old files → plan scan tasks → rewrite
  (MoR plan + write) → commit rewrite transaction → stats.

The table abstraction is :class:`ic_spark.compaction.manifest.ManifestTable`
(JSON manifest with atomic swap) standing in for the Iceberg catalog.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ic_spark.compaction.manifest import ManifestTable
from ic_spark.plans.checkpoint import stable_checkpoint
from ic_spark.compaction.request import (
    RewriteFilesRequest,
    RewriteFilesResponse,
)
from ic_spark.compaction.writer import rewrite_files


# Directory-name prefix for identity spec fields whose name equals the
# source column: partitionBy would otherwise move the column ITSELF out
# of the data files.  The prefixed derived column routes only the DIR
# layout; the source column stays in the pages, and the manifest entry
# records the value under the spec's real field name
# (:func:`spec_partition_entry_values`).
IDENTITY_DIR_PREFIX = "__p_"


def default_spec_fields(table) -> tuple[int, list | None]:
    """(spec_id, writer-ready fields) of the table's default partition
    spec, else (spec_id, None) for unpartitioned tables.

    Identity fields whose name equals the source column are renamed
    with :data:`IDENTITY_DIR_PREFIX` for the fanout writer.  Returning
    None for such a spec would make compaction and every COW row op
    rewrite identity-partitioned tables as unpartitioned files with null
    manifest partition values, destroying the declared layout and all
    partition pruning.
    """
    spec_id = table.default_spec_id()
    fields = table.partition_spec(spec_id)
    if not fields:
        return spec_id, None
    safe = []
    for f in fields:
        if f["name"] == f.get("source", f["name"]):
            safe.append({**f, "name": IDENTITY_DIR_PREFIX + f["name"]})
        else:
            safe.append(f)
    return spec_id, safe


def spec_partition_entry_values(values: dict | None) -> dict:
    """Writer partition values → manifest keys: strip the identity dir
    prefix so entries record values under the SPEC's field names."""
    return {
        (
            k[len(IDENTITY_DIR_PREFIX):]
            if k.startswith(IDENTITY_DIR_PREFIX)
            else k
        ): v
        for k, v in (values or {}).items()
    }


def _live_position_deletes(rows: DataFrame, lookup) -> DataFrame:
    """The ``(file_path, pos)`` position-delete rows whose data file the
    file lookup knows, under its manifest spelling, deduplicated."""
    from ic_spark.compaction.request import SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS

    live = lookup.find(F.col(SYS_HIDDEN_FILE_PATH))
    return (
        rows.where(live.isNotNull())
        .select(live["path"].alias("file_path"), F.col(SYS_HIDDEN_POS).alias("pos"))
        .dropDuplicates(["file_path", "pos"])
    )


class Compaction:
    """Full-table compaction against a ManifestTable."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def full_compact(
        self,
        table: ManifestTable,
        schema: StructType | None = None,
        partition_by: list[str] | None = None,
        target_partitions: int = 4,
        data_file_format: str = "parquet",
    ) -> RewriteFilesResponse:
        """Reference mod.rs:43-79: plan → rewrite → commit swap.

        ``data_file_format``: output format for the rewritten data
        files (parquet default; avro/orc route through the
        executor-side writers — compacting a table INTO a different
        format is the Iceberg migration shape).

        With ``schema=None`` the table's own current schema drives the
        rewrite (spec-metadata tables know it), and any schema-history
        name-mapping rides along so files written before a rename
        resolve — i.e. compaction UPGRADES old-schema files to the
        current schema, which is exactly Iceberg compaction behavior.
        """
        if schema is None:
            schema = table.schema()
            if schema is None:
                raise ValueError("schema required for tables without schema metadata")
        name_mapping = table.name_mapping()
        schema_history = table.schema_history()
        # Partition-spec evolution: rewrite under the table's CURRENT
        # default spec — files written under older specs (or before any
        # partitioning) come out re-laid-out in the new spec, which is
        # exactly how Iceberg compaction migrates a table's layout after
        # ALTER TABLE ... ADD PARTITION FIELD.
        spec_id, spec_fields = (
            (0, None) if partition_by is not None else default_spec_fields(table)
        )
        # ALTER TABLE ... WRITE ORDERED BY: the table's default sort
        # order drives the rewrite's per-file local sort (selective
        # min/max footer stats), matching Iceberg compaction behavior.
        sort_order_id, sort_order = table.default_sort_order()
        data, pos, eq = table.scan_tasks()
        if not data:
            return RewriteFilesResponse()
        # New files land in a unique subdir — the commit is the only
        # point old readers switch over (snapshot isolation).
        out_dir = os.path.join(table.root, f"data-{uuid.uuid4().hex[:12]}")
        request = RewriteFilesRequest(
            schema=schema,
            data_files=data,
            position_delete_files=pos,
            equality_delete_files=eq,
            dir_path=out_dir,
            partition_by=partition_by or [],
            partition_spec=spec_fields,
            target_partitions=target_partitions,
            name_mapping=name_mapping,
            schema_history=schema_history,
            sort_order=sort_order or None,
            sort_order_id=sort_order_id,
            data_file_format=data_file_format,
            # The table's own FileIO (object-store tables) rides into
            # the rewrite so the avro/orc writers and DV reads route
            # through the same connector the metadata plane uses.
            file_io=table.file_io,
        )
        # Iceberg v3 row lineage: compaction must PRESERVE every
        # surviving row's _row_id / _last_updated_sequence_number —
        # the rewrite materializes them as physical columns and the
        # committed entries keep a null first_row_id (spec rule).
        lineage = (
            {t.data_file_path: t.first_row_id for t in data}
            if table.row_lineage
            else None
        )
        response = rewrite_files(self.spark, request, lineage=lineage)

        removed = {t.data_file_path for t in data + pos + eq}
        new_seq = max((t.sequence_number for t in data + eq), default=0) + 1
        added = []
        for f in response.data_files:
            entry = {
                "path": f.file_path,
                "sequence_number": new_seq,
                "content": "DATA",
                "file_size_in_bytes": f.file_size_in_bytes,
                # Footer-derived stats land in the manifest so later
                # scans can file-skip (table_model._file_may_match).
                "record_count": f.record_count,
                "column_stats": f.column_stats,
            }
            if f.sort_order_id is not None:
                entry["sort_order_id"] = f.sort_order_id
            if f.file_format != "parquet":
                entry["file_format"] = f.file_format
            if spec_fields:
                entry["spec_id"] = spec_id
                entry["partition"] = spec_partition_entry_values(
                    f.partition_values
                )
            elif f.partition_values:
                # Ad-hoc partition_by fanout: record the hive-dir
                # values for inspection and stats-based equality
                # skipping (min==max==value rides in column_stats),
                # but mark them NOT-a-registered-spec — evaluating
                # them under the table's spec 0 transforms could
                # wrongly prune a live file.
                entry["partition"] = f.partition_values
                entry["adhoc_partition"] = True
            if lineage is not None:
                entry["materialized_lineage"] = True
            added.append(entry)
        table.commit_rewrite(added, removed)
        return response

    def rewrite_position_deletes(self, table: ManifestTable) -> dict:
        """Delete-file maintenance (Iceberg's RewritePositionDeleteFiles):
        merge all position-delete files into one and drop DANGLING
        entries — rows pointing at data files no longer live, which
        every MoR read was still scanning and anti-joining for nothing.

        Streaming CDC ingest produces one tiny delete file per batch;
        without this action a month of 1-minute batches is ~43k delete
        files whose UNION dominates scan planning.  The rewrite is
        O(delete data), never touches data files, and commits as one
        atomic swap.  The live-path prune looks each delete up in the
        manifest's file list, a constant table in the plan — metadata
        the driver already holds, so the prune ships no join side.

        Returns ``{"merged": n_input_files, "kept_rows": n}``.
        """
        from ic_spark.compaction.writer import _stats_from_footer

        data, pos, _eq = table.scan_tasks()
        # Deletion-vector (puffin) entries are already one compact
        # bitmap per data file — only parquet delete files need merging.
        pos = [t for t in pos if t.file_format != "puffin"]
        if not pos:
            return {"merged": 0, "kept_rows": 0}
        # Recorded delete paths may be any scan spelling (URI-encoded
        # for parquet metadata, raw for binaryFile) or the manifest's:
        # a delete is live when the file lookup knows its spelling, so
        # no live delete is misjudged dangling (which would resurrect
        # its rows), and kept rows are rewritten under the manifest
        # spelling so one row recorded twice is kept once.
        from ic_spark.compaction.planner import (
            FileLookup,
            scan_position_delete_rows,
        )

        pruned = _live_position_deletes(
            scan_position_delete_rows(self.spark, pos), FileLookup(data)
        )
        from ic_spark.compaction.metafs import table_mfs

        mfs = table_mfs(table)
        out_dir = os.path.join(table.root, f"posdel-{uuid.uuid4().hex[:12]}")
        pruned.coalesce(1).write.mode("overwrite").parquet(out_dir)
        merged_path = next(
            os.path.join(out_dir, n)
            for n in mfs.listdir(out_dir)
            if n.endswith(".parquet")
        )
        kept_rows, _, _ = _stats_from_footer(
            mfs.within(merged_path), out_dir, filesystem=mfs.fs
        )
        removed = {t.data_file_path for t in pos}
        if kept_rows == 0:
            table.commit_rewrite([], removed)  # all dangling: just drop
        else:
            table.commit_rewrite(
                [
                    {
                        "path": merged_path,
                        "sequence_number": max(t.sequence_number for t in pos),
                        "content": "POSITION_DELETES",
                        "file_size_in_bytes": mfs.size(merged_path),
                        "record_count": kept_rows,
                    }
                ],
                removed,
            )
        return {"merged": len(pos), "kept_rows": kept_rows}

    def compact_deletion_vectors(self, table: ManifestTable) -> dict:
        """Merge many puffin files into one and drop dangling vectors.

        A stream of disjoint-file delete batches leaves one puffin file
        per batch (each correctly one-DV-per-data-file, but scan
        planning unions them all).  This action copies every live blob
        into a single puffin file — byte-identical, bitmaps only
        DECODED when two files carry a DV for the same data file or a
        referenced data file is no longer live — and commits one swap.
        Driver-side and O(delete metadata): puffin files are KB-MB.

        Returns ``{"merged": n_puffin_files, "dvs": n_blobs_kept}``.
        """
        from ic_spark.compaction.deletes import (
            dv_blobs,
            dv_fold,
            dv_manifest_entry,
        )
        from ic_spark.sources.puffin import (
            DV_BLOB_TYPE,
            read_puffin,
            write_puffin,
        )

        data, pos, _eq = table.scan_tasks()
        puffins = [t for t in pos if t.file_format == "puffin"]
        if len(puffins) < 2:
            return {"merged": 0, "dvs": 0}
        # Refs under any spelling of a live file fold onto its manifest
        # spelling; a ref of no live file is dangling.
        from ic_spark.compaction.planner import FileLookup

        live = FileLookup(data).paths
        from ic_spark.compaction.metafs import table_mfs

        mfs = table_mfs(table)
        merged: dict[str, tuple[bytes, int]] = {}
        for t in puffins:
            for b in read_puffin(mfs.read_bytes(t.data_file_path)):
                if b.type != DV_BLOB_TYPE:
                    continue
                ref = live.get(b.properties.get("referenced-data-file", ""))
                if ref is None:
                    continue  # dangling vector: its data file is gone
                dv_fold(
                    merged,
                    ref,
                    b.data,
                    int(b.properties.get("cardinality", "0")),
                )
        removed = {t.data_file_path for t in puffins}
        if not merged:
            table.commit_rewrite([], removed)
            return {"merged": len(puffins), "dvs": 0}
        blobs = dv_blobs(merged)
        out_path = os.path.join(
            table.root, f"dv-{uuid.uuid4().hex[:12]}", "deletes.puffin"
        )
        write_puffin(mfs.within(out_path), blobs, filesystem=mfs.fs)
        table.commit_rewrite(
            [
                dv_manifest_entry(
                    out_path,
                    max(t.sequence_number for t in puffins),
                    blobs,
                    file_size=mfs.size(out_path),
                )
            ],
            removed,
        )
        return {"merged": len(puffins), "dvs": len(blobs)}

    def convert_position_deletes_to_dvs(self, table: ManifestTable) -> dict:
        """Upgrade parquet position-delete files to deletion VECTORS
        (the Iceberg v2→v3 delete migration): read every parquet
        position-delete file, drop dangling rows (positions of data
        files no longer live), pack the rest into one roaring bitmap
        per data file and commit a single puffin entry replacing ALL
        parquet position-delete files — existing DVs are superseded by
        union in the same atomic swap.

        After this action every MoR read anti-joins against compact
        bitmaps instead of a stack of parquet files; streaming CDC
        ingest (one tiny delete file per batch) is the workload that
        needs it most.

        Returns ``{"converted": n_parquet_files, "dv_rows": n}``.
        """
        from ic_spark.compaction.deletes import commit_deletion_vectors

        data, pos, _eq = table.scan_tasks()
        parquet_pos = [t for t in pos if t.file_format != "puffin"]
        if not parquet_pos:
            return {"converted": 0, "dv_rows": 0}
        removed = {t.data_file_path for t in parquet_pos}
        if not data:
            table.commit_rewrite([], removed)
            return {"converted": len(parquet_pos), "dv_rows": 0}
        # Same live-set rule as rewrite_position_deletes.
        from ic_spark.compaction.planner import (
            FileLookup,
            scan_position_delete_rows,
        )

        matches = (
            _live_position_deletes(
                scan_position_delete_rows(self.spark, parquet_pos),
                FileLookup(data),
            )
            # pin once: the count below AND commit_deletion_vectors'
            # groupBy/applyInPandas both consume this — without the
            # checkpoint the scan + live filter would run end-to-end twice
            # (same pattern as convert_equality_deletes)
              # stable_checkpoint: reliable when a checkpoint dir is set
            .transform(stable_checkpoint)
        )
        n = matches.count()
        if n == 0:
            table.commit_rewrite([], removed)  # all dangling: just drop
            return {"converted": len(parquet_pos), "dv_rows": 0}
        commit_deletion_vectors(self.spark, table, matches, extra_removed=removed)
        return {"converted": len(parquet_pos), "dv_rows": n}

    def convert_equality_deletes(self, table: ManifestTable, to_dvs: bool = False) -> dict:
        """Convert equality deletes to position deletes (Iceberg's
        minor-compaction step, what Flink tables run between
        checkpoints and full compactions).

        Equality deletes are cheap to WRITE (a key set, no scan) but
        expensive to READ: every MoR scan replays one anti-join per
        equality-id group against the key sets forever.  This action
        pays the scan once — semi-join the current data against each
        group under the same strict ``<`` sequence guard, record the
        matched ``(file_path, pos)`` pairs — and commits them as one
        position-delete file replacing ALL equality-delete files.
        Reads after it do a single positional anti-join.

        Exactness: an equality delete at seq S only ever hides rows
        with seq < S, all of which exist NOW; rows appended later get
        seq > S and were never affected.  Position deletes pin exactly
        the currently-hidden rows and can't touch future files.  So
        the visible set is identical for every future snapshot.

        Returns ``{"converted": n_eq_files, "delete_rows": n}``.
        """
        from ic_spark.compaction.planner import (
            _scan_with_hidden_cols,
            equality_delete_rows,
        )
        from ic_spark.compaction.request import (
            SYS_HIDDEN_FILE_PATH,
            SYS_HIDDEN_POS,
            SYS_HIDDEN_SEQ_NUM,
            split_equality_delete_groups,
        )
        from ic_spark.compaction.writer import _stats_from_footer

        data, _pos, eq = table.scan_tasks()
        if not eq:
            return {"converted": 0, "delete_rows": 0}
        if not data:
            table.commit_rewrite([], {t.data_file_path for t in eq})
            return {"converted": len(eq), "delete_rows": 0}

        hidden = [SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS, SYS_HIDDEN_SEQ_NUM]
        matched = None
        for group in split_equality_delete_groups(eq):
            eq_cols = list(group.equality_ids)
            scan = _scan_with_hidden_cols(
                self.spark,
                data,
                with_seq=True,
                with_pos=True,
                columns=eq_cols,
            )
            eq_del = equality_delete_rows(self.spark, group, table.schema())
            cond = F.col(f"d.{SYS_HIDDEN_SEQ_NUM}") < F.col(
                f"e.{SYS_HIDDEN_SEQ_NUM}"
            )
            for c in eq_cols:
                cond = cond & (F.col(f"d.{c}") == F.col(f"e.{c}"))
            hit = (
                scan.alias("d")
                .join(eq_del.alias("e"), on=cond, how="left_semi")
                .select(SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS)
            )
            matched = hit if matched is None else matched.unionByName(hit)
        matched = matched.dropDuplicates([SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS])

        if to_dvs:
            # v3 target: straight to deletion vectors — one bitmap per
            # data file, merged with any existing DVs, replacing ALL
            # equality-delete files in the same atomic swap.
            from ic_spark.compaction.deletes import commit_deletion_vectors

            removed = {t.data_file_path for t in eq}
            positions = stable_checkpoint(matched.toDF("file_path", "pos"))
            rows = positions.count()  # delete-scale data: a cheap job
            if rows == 0:
                table.commit_rewrite([], removed)  # drop the eq files
            else:
                commit_deletion_vectors(
                    self.spark, table, positions, extra_removed=removed
                )
            return {"converted": len(eq), "delete_rows": rows}

        from ic_spark.compaction.metafs import table_mfs

        mfs = table_mfs(table)
        out_dir = os.path.join(table.root, f"posdel-{uuid.uuid4().hex[:12]}")
        # Spec column names on the written delete file (file_path, pos).
        matched.toDF("file_path", "pos").coalesce(1).write.mode(
            "overwrite"
        ).parquet(out_dir)
        merged_path = next(
            os.path.join(out_dir, n)
            for n in mfs.listdir(out_dir)
            if n.endswith(".parquet")
        )
        rows, _, _ = _stats_from_footer(
            mfs.within(merged_path), out_dir, filesystem=mfs.fs
        )
        removed = {t.data_file_path for t in eq}
        added = []
        if rows > 0:
            added.append(
                {
                    "path": merged_path,
                    "sequence_number": max(t.sequence_number for t in eq),
                    "content": "POSITION_DELETES",
                    "file_size_in_bytes": mfs.size(merged_path),
                    "record_count": rows,
                }
            )
        table.commit_rewrite(added, removed)
        return {"converted": len(eq), "delete_rows": rows}

    def compact_small_files(
        self,
        table: ManifestTable,
        schema: StructType,
        small_file_bytes: int = 64 * 1024 * 1024,
        target_group_bytes: int = 512 * 1024 * 1024,
        target_partitions: int = 1,
        data_file_format: str = "parquet",
    ) -> RewriteFilesResponse:
        """Binpack maintenance: rewrite only DATA files under
        ``small_file_bytes``, merged in size-balanced groups of
        ~``target_group_bytes`` (LPT, reference O10 semantics).  Files
        already large enough are left untouched — at a 100 TB table this
        is the routine operation; whole-table rewrites are the rare one.

        Delete-file semantics of a PARTIAL rewrite: position and
        equality deletes are applied while rewriting each group, and the
        delete files stay in the manifest — rewritten rows re-enter at a
        new sequence number above every delete (immune to re-application
        under the strict ``<`` guard) while deletes keep guarding the
        files that were not rewritten.  Delete files are only dropped by
        a subsequent ``full_compact``.

        ``data_file_format`` sets the OUTPUT format of the merged files
        (parquet default) — binpack doubles as a rolling format
        migration: each maintenance pass converts the small tail of an
        avro/orc table without a whole-table rewrite.
        """
        from ic_spark.plans.scheduling import split_n_groups

        # Normalize case BEFORE recording: the writer lowercases its
        # own fmt, and a verbatim "AVRO" entry would make every later
        # scan raise on an unknown format.
        data_file_format = (data_file_format or "parquet").lower()

        data, pos, eq = table.scan_tasks()
        small = [t for t in data if t.file_size_in_bytes < small_file_bytes]
        if len(small) < 2 and not (small and (pos or eq)):
            return RewriteFilesResponse()  # nothing worth merging
        total = sum(t.file_size_in_bytes for t in small)
        n_groups = max(1, -(-total // target_group_bytes)) if total else 1
        groups = [g for g in split_n_groups(small, n_groups, lambda t: t.file_size_in_bytes) if g]

        merged = RewriteFilesResponse()
        new_seq = max((t.sequence_number for t in data + eq), default=0) + 1
        added: list[dict] = []
        # Row-lineage tables: EVERY rewrite must preserve surviving
        # rows' ids (same obligation as full_compact) — materialize the
        # lineage columns and commit materialized entries so
        # _assign_row_ids claims nothing.
        lineage_on = table.row_lineage
        for group in groups:
            out_dir = os.path.join(table.root, f"data-{uuid.uuid4().hex[:12]}")
            response = rewrite_files(
                self.spark,
                RewriteFilesRequest(
                    schema=schema,
                    data_files=group,
                    position_delete_files=pos,
                    equality_delete_files=eq,
                    dir_path=out_dir,
                    target_partitions=target_partitions,
                    data_file_format=data_file_format,
                    name_mapping=table.name_mapping(),
                    schema_history=table.schema_history(),
                ),
                lineage=(
                    {t.data_file_path: t.first_row_id for t in group}
                    if lineage_on
                    else None
                ),
            )
            merged.data_files.extend(response.data_files)
            added.extend(
                {
                    "path": f.file_path,
                    "sequence_number": new_seq,
                    "content": "DATA",
                    "file_size_in_bytes": f.file_size_in_bytes,
                    "record_count": f.record_count,
                    "column_stats": f.column_stats,
                    **(
                        {"file_format": data_file_format}
                        if data_file_format != "parquet"
                        else {}
                    ),
                    **({"materialized_lineage": True} if lineage_on else {}),
                }
                for f in response.data_files
            )
        removed = {t.data_file_path for t in small}
        table.commit_rewrite(added, removed)
        # Delete files are applied but retained (see docstring), so the
        # rewritten count covers only the data files actually replaced.
        merged.stat.rewritten_files_count = len(small)
        merged.stat.added_files_count = len(merged.data_files)
        merged.stat.rewritten_bytes = total
        return merged

    def expire_snapshot(self, table: ManifestTable) -> list[str]:
        return table.expire_snapshots()
