"""Copy-on-write row-level operations: DELETE / UPDATE / MERGE.

The reference engine applies row-level changes only via merge-on-read
delete files (its one query shape — SURVEY §2.1).  These are the
copy-on-write counterparts every Iceberg-style table surface offers
(`DELETE FROM`, `UPDATE`, `MERGE INTO` with write.delete.mode=
copy-on-write): rewrite exactly the files that contain affected rows,
commit the swap atomically, leave every other file untouched.

Scale design (100 TB discipline):

- **File-level rewrite granularity.**  Candidate files come from
  manifest column stats (``scan_tasks(data_filter=...)``) for
  predicate ops, and from a key-bounds-pruned file-touch probe for
  MERGE — an untouched file is never read, never rewritten.
- **The existing MoR plan is the read path**: candidate files are read
  with all applicable deletes applied (planner.build_merge_on_read), so
  already-deleted rows cannot resurrect, and the rewrite output
  re-enters at a sequence number above every delete (immune to
  re-application under the strict ``<`` guard) — same semantics as
  ``compact_small_files`` partial rewrites.
- **Touch detection is column-pruned**: the MERGE probe scans key
  columns + ``_metadata.file_path`` only, and the driver collects
  DISTINCT FILE PATHS (bounded by file count, same order as a manifest
  listing — never rows).
- Delete files are retained in the manifest (they still guard
  unrewritten files); ``full_compact`` drops them later.

Contrast with ``deletes.merge_upsert`` (the MoR merge): upsert costs
O(batch) and defers the join to read time; ``merge_into`` here pays the
join once and keeps reads clean — the classic Iceberg
merge-on-read / copy-on-write trade.
"""

from __future__ import annotations

import operator
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
from ic_spark.compaction.writer import rewrite_files

_OPS = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


def predicate_column(where: list[tuple]):
    """Conjunction of ``(col, op, value)`` triples → one boolean Column.

    The same triple format ``read_table``/``scan_tasks`` use, so one
    predicate drives BOTH manifest-stats file skipping and the row
    filter."""
    if not where:
        raise ValueError("empty predicate")
    cond = None
    for col, op, value in where:
        c = _OPS[op](F.col(col), F.lit(value))
        cond = c if cond is None else (cond & c)
    return cond


def _infer_schema(spark: SparkSession, table: ManifestTable) -> StructType:
    s = table.schema()
    if s is not None:
        return s
    data, _, _ = table.scan_tasks()
    if not data:
        raise ValueError("empty table and no schema given")
    from ic_spark.compaction.deletes import infer_read_schema

    inferred = infer_read_schema(spark, data)
    if table.row_lineage:
        # materialized lineage columns in compacted footers are
        # metadata, not user columns (same rule as read_table)
        from ic_spark.compaction.planner import strip_lineage_fields

        inferred = strip_lineage_fields(inferred)
    return inferred


def _next_seq(data, eq) -> int:
    return max((t.sequence_number for t in data + eq), default=0) + 1


def _rewrite_and_commit(
    spark: SparkSession,
    table: ManifestTable,
    schema: StructType,
    candidates: list[FileScanTask],
    pos: list[FileScanTask],
    eq: list[FileScanTask],
    transform,
    expected_snapshot_id: int | None = None,
) -> dict:
    """Rewrite ``candidates`` through ``transform``; one atomic commit
    removing them and adding the outputs.

    ``expected_snapshot_id`` pins the snapshot the operation PLANNED
    against: a concurrent commit (e.g. an equality delete) landing
    between planning and this commit would otherwise be silently
    overwritten — the rewrite applies the stale delete set and the
    concurrently deleted rows come back to life.  The pin turns that
    race into a CommitConflictError the caller can retry.

    Partitioned tables keep their layout: rewritten (and inserted) rows
    re-fanout under the table's current default partition spec, same as
    ``full_compact`` — a MERGE over a day-partitioned table does not
    quietly degrade it to unpartitioned files.
    """
    from ic_spark.compaction.orchestrator import default_spec_fields

    spec_id, spec_fields = default_spec_fields(table)
    # Evolved spec tables: rewrite resolves old file schemas through the
    # history name-mapping, exactly like full_compact (renamed columns
    # in files written before the rename).
    name_mapping = table.name_mapping()
    schema_history = table.schema_history()
    new_seq = _next_seq(candidates, eq)
    out_dir = os.path.join(table.root, f"data-{uuid.uuid4().hex[:12]}")
    # Row-lineage tables: the MoR read carries _row_id /
    # _last_updated_sequence_number, each op's transform preserves them
    # per spec (carried rows keep both; UPDATED rows keep _row_id and
    # null the seq so it inherits this commit's; inserted rows null
    # both and inherit first_row_id + position), and the committed
    # entries claim a fresh id range per file — over-allocated for
    # carried rows, which the spec permits (ids must be unique and
    # monotonic, not dense).
    lineage = (
        {t.data_file_path: t.first_row_id for t in candidates}
        if table.row_lineage
        else None
    )
    response = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=schema,
            data_files=candidates,
            position_delete_files=pos,
            equality_delete_files=eq,
            dir_path=out_dir,
            partition_spec=spec_fields,
            target_partitions=max(1, len(candidates)),
            name_mapping=name_mapping,
            schema_history=schema_history,
        ),
        transform=transform,
        lineage=lineage,
    )
    added = []
    for f in response.data_files:
        entry = {
            "path": f.file_path,
            "sequence_number": new_seq,
            "content": "DATA",
            "file_size_in_bytes": f.file_size_in_bytes,
            "record_count": f.record_count,
            "column_stats": f.column_stats,
        }
        if spec_fields:
            from ic_spark.compaction.orchestrator import (
                spec_partition_entry_values,
            )

            entry["spec_id"] = spec_id
            entry["partition"] = spec_partition_entry_values(
                f.partition_values
            )
        added.append(entry)
    snapshot_id = table.commit_rewrite(
        added,
        {t.data_file_path for t in candidates},
        expected_snapshot_id=expected_snapshot_id,
        operation="overwrite",
    )
    return {
        "snapshot_id": snapshot_id,
        "rewritten_files_count": len(candidates),
        "added_files_count": len(added),
    }


def delete_where(
    spark: SparkSession,
    table: ManifestTable,
    where: list[tuple],
    schema: StructType | None = None,
) -> dict:
    """Copy-on-write ``DELETE FROM table WHERE ...``.

    Candidate files are stats-pruned by the predicate (a file whose
    manifest min/max cannot match is never read); survivors of each
    candidate file are rewritten without the matching rows."""
    if schema is None:
        schema = _infer_schema(spark, table)
    expected = table.current_snapshot_id()
    _, pos, eq = table.scan_tasks()
    candidates, _, _ = table.scan_tasks(data_filter=where)
    if not candidates:
        return {"snapshot_id": None, "rewritten_files_count": 0, "added_files_count": 0}
    # NULL predicate result means "not matched" for DELETE: keep the row.
    pred = predicate_column(where)
    return _rewrite_and_commit(
        spark,
        table,
        schema,
        candidates,
        pos,
        eq,
        lambda df: df.where(~F.coalesce(pred, F.lit(False))),
        expected_snapshot_id=expected,
    )


def update_where(
    spark: SparkSession,
    table: ManifestTable,
    where: list[tuple],
    assignments: dict[str, object],
    schema: StructType | None = None,
) -> dict:
    """Copy-on-write ``UPDATE table SET col = expr WHERE ...``.

    ``assignments`` maps column name → Column or SQL expression string
    (evaluated over the row's current values).  Only files whose stats
    may contain matching rows are rewritten; non-matching rows inside
    them are carried over byte-identical in value."""
    if schema is None:
        schema = _infer_schema(spark, table)
    field_names = {f.name for f in schema.fields}
    unknown = set(assignments) - field_names
    if unknown:
        raise ValueError(f"assignments for unknown columns: {sorted(unknown)}")
    expected = table.current_snapshot_id()
    _, pos, eq = table.scan_tasks()
    candidates, _, _ = table.scan_tasks(data_filter=where)
    if not candidates:
        return {"snapshot_id": None, "rewritten_files_count": 0, "added_files_count": 0}
    pred = predicate_column(where)

    def apply_updates(df: DataFrame) -> DataFrame:
        from ic_spark.compaction.request import (
            LAST_UPDATED_SEQ_COL,
            ROW_ID_COL,
        )

        out = df
        extra = []
        if ROW_ID_COL in df.columns:  # lineage rides along the rewrite
            extra = [ROW_ID_COL, LAST_UPDATED_SEQ_COL]
            # updated rows: keep _row_id, null the seq so it inherits
            # this commit's (evaluate pred BEFORE assignments mutate
            # predicate columns)
            out = out.withColumn(
                LAST_UPDATED_SEQ_COL,
                F.when(
                    F.coalesce(pred, F.lit(False)), F.lit(None).cast("long")
                ).otherwise(F.col(LAST_UPDATED_SEQ_COL)),
            )
        # ONE select for every assignment: SQL UPDATE evaluates the
        # predicate and every RHS against the OLD row.  Sequential
        # withColumn would re-resolve both against already-mutated
        # columns ({"a": "2", "b": "3"} with WHERE a=1 would never set
        # b, and {"a": "a+1", "b": "a"} would write b = old_a + 1).
        cols = []
        for f in schema.fields:
            if f.name in assignments:
                expr = assignments[f.name]
                new = F.expr(expr) if isinstance(expr, str) else expr
                cols.append(
                    F.when(pred, new.cast(df.schema[f.name].dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return out.select(*cols, *extra)

    return _rewrite_and_commit(
        spark,
        table,
        schema,
        candidates,
        pos,
        eq,
        apply_updates,
        expected_snapshot_id=expected,
    )


def merge_into(
    spark: SparkSession,
    table: ManifestTable,
    source: DataFrame,
    key_cols: list[str],
    schema: StructType | None = None,
    when_matched: str = "update",
    insert_not_matched: bool = True,
    update_assignments: dict[str, object] | None = None,
) -> dict:
    """Copy-on-write ``MERGE INTO table USING source ON keys``.

    ``when_matched="update"`` replaces each matched target row with its
    source row (source must carry the full table schema) — or, with
    ``update_assignments``, updates ONLY the named columns: each value
    is a Column or SQL string evaluated over the joined row, where
    target columns are bare names and source columns are ``src.<name>``
    (``MERGE ... WHEN MATCHED THEN UPDATE SET v = v + src.v``
    becomes ``{"v": "v + src.v"}``).  ``when_matched="delete"`` drops
    matched target rows.  Unmatched source rows are appended as inserts
    unless ``insert_not_matched`` is False.

    Only files actually CONTAINING matched keys are rewritten: a
    key-bounds stats prune (min/max of the first key, two-row driver
    aggregate over the source) narrows the probe scan, then a
    column-pruned semi-join against the source keys yields the touched
    file set via ``_metadata.file_path``.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete: {when_matched}")
    if schema is None:
        schema = _infer_schema(spark, table)
    field_names = [f.name for f in schema.fields]
    missing = [c for c in key_cols if c not in source.columns]
    if missing:
        raise ValueError(f"source missing key columns: {missing}")
    if update_assignments:
        unknown = set(update_assignments) - set(field_names)
        if unknown:
            raise ValueError(f"assignments for unknown columns: {sorted(unknown)}")
        keyed = set(update_assignments) & set(key_cols)
        if keyed:
            raise ValueError(f"cannot update merge key columns: {sorted(keyed)}")
    if (when_matched == "update" and not update_assignments) or insert_not_matched:
        lacking = [c for c in field_names if c not in source.columns]
        if lacking:
            raise ValueError(
                f"full-row merge needs every table column in source; missing {lacking}"
            )

    expected = table.current_snapshot_id()
    all_data, pos, eq = table.scan_tasks()
    if not all_data:
        raise ValueError("table has no data files")

    if when_matched == "update" or insert_not_matched:
        # MERGE cardinality: duplicate source keys would fan each
        # matched target row out once per duplicate (and insert
        # unmatched duplicates multiply) — Spark/Iceberg raise
        # MERGE_CARDINALITY_VIOLATION; silently growing the table is
        # wrong data.  The delete-only path anti-joins
        # and is insensitive to duplicates.
        dup = (
            source.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key_desc = {c: dup[0][c] for c in key_cols}
            raise ValueError(
                "MERGE cardinality violation: source has "
                f"{dup[0]['__n']} rows for key {key_desc}; "
                "deduplicate the source on the merge keys first"
            )

    # Key-bounds prune: files outside [min, max] of the first key can't
    # contain a match.  Two-row aggregate — source executes once here.
    k0 = key_cols[0]
    bounds = source.agg(
        F.min(k0).alias("lo"), F.max(k0).alias("hi")
    ).collect()[0]
    probe_filter = None
    if bounds.lo is not None:
        probe_filter = [(k0, ">=", bounds.lo), (k0, "<=", bounds.hi)]
    probe_tasks, _, _ = table.scan_tasks(data_filter=probe_filter)

    source_keys = source.select(*key_cols).distinct()
    touched_paths: set[str] = set()
    if probe_tasks:
        # Format-aware probe: the planner scan yields a per-row file
        # path for parquet (metadata column) and avro (decode path)
        # alike, so mixed-format tables find every touched file.
        # Evolved spec tables resolve key columns through the current
        # schema + name-mapping (files written before a key-column
        # rename carry the OLD footer name), same as the delete writers.
        from ic_spark.compaction.deletes import _evolved_scan_args
        from ic_spark.compaction.planner import _scan_with_hidden_cols
        from ic_spark.compaction.request import SYS_HIDDEN_FILE_PATH

        probe = _scan_with_hidden_cols(
            spark, probe_tasks, with_pos=True, **_evolved_scan_args(table)
        ).select(*key_cols, F.col(SYS_HIDDEN_FILE_PATH).alias("__fp"))
        touched_paths = {
            r["__fp"]
            for r in probe.join(source_keys, on=key_cols, how="left_semi")
            .select("__fp")
            .distinct()
            .collect()
        }
    # The scan's hidden path column carries the manifest spelling, so a
    # touched file is found by plain membership.
    candidates = [t for t in all_data if t.data_file_path in touched_paths]

    needs_full_rows = (
        when_matched == "update" and not update_assignments
    ) or insert_not_matched
    # Cast the source onto the TABLE schema up front: a wider-typed
    # source (e.g. long where the table stores int) would otherwise
    # upcast the union and write files violating the table schema.
    conformed_source = (
        source.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        if needs_full_rows
        else None
    )
    marked_source = (
        conformed_source.withColumn("__merge_src", F.lit(True))
        if conformed_source is not None
        else None
    )

    def apply_merge(target: DataFrame) -> DataFrame:
        from ic_spark.compaction.request import (
            LAST_UPDATED_SEQ_COL,
            ROW_ID_COL,
        )

        has_lin = ROW_ID_COL in target.columns
        if when_matched == "delete":
            out = target.join(source_keys, on=key_cols, how="left_anti")
        else:
            # Prefix source value columns so the post-join projection
            # never hits alias-resolution ambiguity on the key columns.
            src_for_update = (
                marked_source
                if marked_source is not None
                else source.withColumn("__merge_src", F.lit(True))
            )
            s2 = src_for_update.select(
                *key_cols,
                *[
                    F.col(c).alias(f"__s_{c}")
                    for c in src_for_update.columns
                    if c not in key_cols and c != "__merge_src"
                ],
                "__merge_src",
            )
            joined = target.join(s2, on=key_cols, how="left")
            matched = F.col("__merge_src").isNotNull()
            if update_assignments:
                import re as _re

                def assigned(col: str):
                    expr = update_assignments[col]
                    if isinstance(expr, str):
                        # `src.<name>` refers to the source row's column
                        expr = _re.sub(
                            r"\bsrc\.([A-Za-z_][A-Za-z0-9_]*)", r"__s_\1", expr
                        )
                        new = F.expr(expr)
                    else:
                        new = expr
                    return new.cast(schema[col].dataType)

                out = joined.select(
                    *[
                        (
                            F.when(matched, assigned(c))
                            .otherwise(F.col(c))
                            .alias(c)
                            if c in update_assignments
                            else F.col(c)
                        )
                        for c in field_names
                    ],
                    *(
                        [
                            F.col(ROW_ID_COL),
                            F.when(matched, F.lit(None).cast("long"))
                            .otherwise(F.col(LAST_UPDATED_SEQ_COL))
                            .alias(LAST_UPDATED_SEQ_COL),
                        ]
                        if has_lin
                        else []
                    ),
                )
            else:
                out = joined.select(
                    *[
                        (
                            F.col(c)
                            if c in key_cols
                            else F.when(matched, F.col(f"__s_{c}"))
                            .otherwise(F.col(c))
                            .alias(c)
                        )
                        for c in field_names
                    ],
                    *(
                        [
                            F.col(ROW_ID_COL),
                            F.when(matched, F.lit(None).cast("long"))
                            .otherwise(F.col(LAST_UPDATED_SEQ_COL))
                            .alias(LAST_UPDATED_SEQ_COL),
                        ]
                        if has_lin
                        else []
                    ),
                )
        if insert_not_matched:
            # Not-matched = source keys absent from the whole table.  A
            # key present anywhere makes its file touched, so the
            # candidate rows are the complete match set.
            inserts = marked_source.join(
                target.select(*key_cols), on=key_cols, how="left_anti"
            ).select(
                *field_names,
                *(
                    [
                        F.lit(None).cast("long").alias(ROW_ID_COL),
                        F.lit(None).cast("long").alias(LAST_UPDATED_SEQ_COL),
                    ]
                    if has_lin
                    else []
                ),
            )
            out = out.unionByName(inserts)
        return out

    if not candidates:
        if not insert_not_matched:
            return {
                "snapshot_id": None,
                "rewritten_files_count": 0,
                "added_files_count": 0,
            }
        # Pure insert: no file holds a matched key.  Reuse the standard
        # rewrite with the SMALLEST live file as a carrier (its rows
        # pass through the MoR read unchanged; the source unions on as
        # inserts) so the insert honors partition-spec fanout, lineage
        # id assignment, footer stats, and remote-FS routing — a raw
        # os.listdir + unpartitioned write would bypass all four and
        # crash outright on object-store roots.
        candidates = [min(all_data, key=lambda t: t.file_size_in_bytes)]

    return _rewrite_and_commit(
        spark,
        table,
        schema,
        candidates,
        pos,
        eq,
        apply_merge,
        expected_snapshot_id=expected,
    )
