"""Iceberg stored-procedure façade: ``CALL system.<proc>(...)`` names.

Iceberg users drive maintenance through catalog procedures
(``CALL cat.system.rewrite_data_files('db.t')`` …).  This module maps
those EXACT procedure names onto the engine's operators so a user
switching from an Iceberg deployment keeps their runbooks:

    from ic_spark.compaction.procedures import call
    call(spark, "rewrite_data_files", table=tbl)
    call(spark, "expire_snapshots", table=tbl)
    call(spark, "fast_forward", table=tbl, branch="audit")

Every procedure returns a plain dict (the procedure's output row).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _compaction(spark):
    from ic_spark.compaction.orchestrator import Compaction

    return Compaction(spark)


def rewrite_data_files(spark, table, strategy: str = "binpack", **kw):
    """Iceberg rewrite_data_files: ``binpack`` (small-file merge) or
    ``full`` (whole-table rewrite with delete application)."""
    c = _compaction(spark)
    schema = kw.get("schema")
    if schema is None and table.schema() is None:
        # Tables without schema metadata: derive it from the current
        # read (schema-tracking tables resolve their own).
        from ic_spark.compaction.deletes import read_table

        schema = read_table(spark, table).schema
    if strategy == "full":
        resp = c.full_compact(table, schema, **{
            k: v for k, v in kw.items() if k in ("partition_by", "target_partitions")
        })
    elif strategy == "binpack":
        resp = c.compact_small_files(
            table,
            schema,
            **{
                k: v
                for k, v in kw.items()
                if k in ("small_file_bytes", "target_group_bytes", "target_partitions")
            },
        )
    else:
        raise ValueError(f"unknown strategy: {strategy!r} (binpack|full)")
    return {
        "rewritten_data_files_count": resp.stat.rewritten_files_count,
        "added_data_files_count": resp.stat.added_files_count,
        "rewritten_bytes_count": resp.stat.rewritten_bytes,
    }


def rewrite_position_delete_files(spark, table, **kw):
    return _compaction(spark).rewrite_position_deletes(table)


def convert_equality_deletes(spark, table, to_dvs: bool = False, **kw):
    return _compaction(spark).convert_equality_deletes(table, to_dvs=to_dvs)


def compact_deletion_vectors(spark, table, **kw):
    return _compaction(spark).compact_deletion_vectors(table)


def expire_snapshots(spark, table, **kw):
    removed = table.expire_snapshots()
    return {"deleted_data_files_count": len(removed), "orphaned_paths": removed}


def remove_orphan_files(
    spark,
    table,
    older_than_ms: float = 3 * 24 * 3600 * 1000,
    dry_run: bool = True,
    **kw,
):
    """Iceberg remove_orphan_files: files under the table root that no
    retained snapshot references and that are older than
    ``older_than_ms`` milliseconds (the 3-day default guards in-flight
    writers).  Lists them; ``dry_run=False`` also deletes them.  Spec
    tables raise NotImplementedError."""
    removed = table.remove_orphan_files(
        older_than_s=older_than_ms / 1000, delete=not dry_run
    )
    return {"orphan_file_location_count": len(removed), "paths": removed}


def fast_forward(spark, table, branch: str, force: bool = False, **kw):
    head = table.fast_forward(branch, force=force)
    return {"branch_updated": "main", "latest_snapshot_id": head}


def rollback_to_snapshot(spark, table, snapshot_id: int, **kw):
    # Iceberg's procedure returns the pre-rollback id so a runbook can
    # un-rollback; record it before the pointer moves.
    previous = table.current_snapshot_id()
    sid = table.rollback_to_snapshot(snapshot_id)
    return {"previous_snapshot_id": previous, "current_snapshot_id": sid}


def ancestors_of(spark, table, snapshot_id: int | None = None, **kw):
    """Snapshot ancestry via recorded parent pointers: staged (WAP)
    snapshots and unmerged branch commits are NOT ancestors of main
    commits and are excluded, which list-order slicing would miss."""
    if snapshot_id is None:
        snapshot_id = table.current_snapshot_id()
    if snapshot_id is None:
        return {"snapshot_ids": []}
    return {"snapshot_ids": table.ancestor_ids(snapshot_id)}


def analyze_table(spark, table, columns=None, **kw):
    from ic_spark.compaction import stats

    return stats.analyze_table(spark, table, columns)


def create_changelog_view(
    spark,
    table,
    changelog_view: str = "changelog",
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    **kw,
):
    """Iceberg ``system.create_changelog_view``: register row-level
    changes between snapshots as a temp view (compaction/changelog.py)."""
    from ic_spark.compaction.changelog import register_changelog_view

    if from_snapshot_id is None:
        raise ValueError("create_changelog_view needs from_snapshot_id")
    # Forward the full option surface and reject the rest: a swallowed
    # compute_updates / with_lineage would hand back a plain
    # INSERT/DELETE changelog while the caller believes
    # UPDATE_BEFORE/UPDATE_AFTER pairing ran.
    df = register_changelog_view(
        spark,
        table,
        changelog_view,
        from_snapshot_id,
        to_snapshot_id,
        net_changes=bool(kw.pop("net_changes", False)),
        compute_updates_key=kw.pop("identifier_columns", None),
        compute_updates=bool(kw.pop("compute_updates", False)),
        with_lineage=bool(kw.pop("with_lineage", False)),
    )
    if kw:
        raise ValueError(
            f"create_changelog_view: unknown options {sorted(kw)}"
        )
    return {"changelog_view": changelog_view, "columns": df.columns}


_PROCEDURES = {
    "rewrite_data_files": rewrite_data_files,
    "rewrite_position_delete_files": rewrite_position_delete_files,
    "convert_equality_deletes": convert_equality_deletes,
    "compact_deletion_vectors": compact_deletion_vectors,
    "expire_snapshots": expire_snapshots,
    "remove_orphan_files": remove_orphan_files,
    "fast_forward": fast_forward,
    "rollback_to_snapshot": rollback_to_snapshot,
    "ancestors_of": ancestors_of,
    "analyze_table": analyze_table,
    "create_changelog_view": create_changelog_view,
}


def call(spark: SparkSession, procedure: str, **kwargs) -> dict:
    """Dispatch by Iceberg procedure name (``system.`` prefix optional)."""
    name = procedure.removeprefix("system.")
    fn = _PROCEDURES.get(name)
    if fn is None:
        raise ValueError(
            f"unknown procedure {procedure!r}; known: {sorted(_PROCEDURES)}"
        )
    return fn(spark, **kwargs)
