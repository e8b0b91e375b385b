"""Unified table façade: one object, every table operation.

Users of Iceberg/Delta work against a table HANDLE with methods
(``DeltaTable.forPath(...).delete(...)``, Iceberg's ``Table`` API);
this module provides that ergonomic surface over the engine's
functional core — reads with time travel, MoR and COW deletes,
deletion vectors, MERGE, maintenance procedures, statistics, branches
and metadata tables all hang off one object:

    from ic_spark.table import Table
    t = Table.at(spark, "/warehouse/db/events")      # either flavor
    t.read(where=[("day", ">=", "2026-01-01")])
    t.delete_where([("user_id", "=", 42)])           # COW
    t.write_deletion_vectors(F.col("flagged"))       # MoR, v3 vectors
    t.merge(source_df, ["id"])
    t.call("rewrite_data_files", strategy="binpack")
    t.analyze()

``Table.at`` auto-detects the metadata flavor: a ``metadata/``
directory with spec version files loads an :class:`IcebergTable`,
otherwise the JSON :class:`ManifestTable`.

The table contract.  ``ManifestTable``, ``IcebergTable`` and
``SqlCatalogTable`` expose these methods under the same names and
signatures, so no caller asks which flavor they hold.  Planning, the
schema, spec and ref reads, the column DDL and every commit are written
once, on the shared table model
(:class:`ic_spark.compaction.table_model.TableModel`), over each flavor's
codec: ``model_state()`` reads the table state once, ``live_files(
snapshot_id=None, state=None, bounds=False, deletes_only=False)`` decodes
a snapshot into live-file dicts, and ``_apply`` writes one transition
with compare-and-swap against the state it was computed from.

- ``schema(snapshot_id=None)``, ``name_mapping(snapshot_id=None)`` and
  ``schema_history(snapshot_id=None)``: the spec flavor answers for the
  schema the snapshot was committed under; the JSON flavor records no
  per-snapshot schema and ignores ``snapshot_id``.  The JSON flavor's
  ``schema()`` is None until ``register_schema``.
- ``current_snapshot_id()``: None for an empty table.
- ``next_sequence_number(branch=None)``: the sequence number the next
  commit records.  JSON: one past the highest live sequence number at
  the branch head (main by default).  Spec: ``last-sequence-number + 1``
  for any branch, read from metadata without planning a scan.
- ``default_sort_order()``: ``(order_id, fields)``; the JSON flavor has
  no sort orders and returns ``(0, [])``.
- ``count_rows(snapshot_id=None)``: COUNT(*) from manifest stats on
  both flavors, None when delete files are present or a data file
  records no rows or no count (spec manifests once wrote 0 for a
  missing count; a spec data file without a count is now refused).
- ``statistics()`` / ``register_statistics(entry)``: statistics-file
  entries, one per snapshot.
- ``ancestor_ids(snapshot_id)`` and ``main_log()``: a snapshot's
  ancestry, and the (snapshot id, operation) list of main's timeline.
- Planning: ``scan_tasks``, ``incremental_tasks``, ``snapshot_id_as_of``,
  ``refs``, ``resolve_ref``.
- Commits: ``append_snapshot(files, stage=False, branch=None,
  operation=None, stream_mark=None)``, ``commit_rewrite``,
  ``rollback_to_snapshot``, ``fast_forward`` (branches only),
  ``expire_snapshots``, ``remove_ref`` and ``set_ref(name, snapshot_id,
  ref_type="tag")`` (a branch commit records its ref as a branch on both
  flavors).  A commit that loses a race to another writer raises
  ``CommitConflictError`` on both flavors.
- ``remove_orphan_files(older_than_s, delete=False)``: the ``.parquet``
  files under the table root that no retained snapshot references.
- Layout and evolution: ``default_spec_id``, ``partition_spec``,
  ``update_partition_spec``, ``add_column``, ``rename_column``,
  ``promote_column``, ``drop_column``, ``move_column``, ``make_optional``.
  ``drop_column`` is refused while a partition spec sources the column
  or a live equality-delete file of a retained snapshot keys on it.
- Row lineage and streaming: the ``row_lineage`` and ``next_row_id``
  properties, ``enable_row_lineage``, ``stream_batch_hwm``,
  ``mark_stream_batch``.
- The ``root`` and ``file_io`` attributes.  The metadata-plane IO is
  reached through :func:`ic_spark.compaction.metafs.table_mfs`.

Beyond the contract, ``append_snapshot(stage=True)`` (the spec flavor
refuses it with ValueError), ``publish_snapshot``, ``register_schema``
and ``vacuum`` are JSON-only; ``metadata()``, table properties and
``update_sort_order`` are spec-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class Table:
    """Method façade over a ``ManifestTable`` or ``IcebergTable``."""

    def __init__(self, spark: SparkSession, inner):
        self.spark = spark
        self.inner = inner

    @classmethod
    def at(
        cls,
        spark: SparkSession,
        location: str,
        file_io: dict | None = None,
        single_writer: bool = False,
    ) -> "Table":
        """``file_io`` routes the table's METADATA plane through the
        pyarrow fileio seam (object-store roots; compaction/metafs).
        ``single_writer=True`` declares this process the sole committer
        — required for Hadoop-flavor commits on object-store roots
        (multi-writer deployments commit via SQL/REST catalog CAS)."""
        from ic_spark.compaction.iceberg_meta import IcebergTable
        from ic_spark.compaction.manifest import ManifestTable

        spec = IcebergTable(location, file_io=file_io, single_writer=single_writer)
        if spec.version() is not None:
            return cls(spark, spec)
        return cls(spark, ManifestTable(location, file_io=file_io))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema,
        partition_by: list[str] | None = None,
        spec_metadata: bool = True,
        file_io: dict | None = None,
        single_writer: bool = False,
    ) -> "Table":
        """New empty table; ``spec_metadata=True`` (default) writes real
        Iceberg v2 metadata, else the JSON-manifest analog."""
        from ic_spark.compaction.iceberg_meta import IcebergTable
        from ic_spark.compaction.manifest import ManifestTable
        from ic_spark.compaction.metafs import table_mfs

        if spec_metadata:
            return cls(
                spark,
                IcebergTable.create(
                    location,
                    schema,
                    partition_by=partition_by,
                    file_io=file_io,
                    single_writer=single_writer,
                ),
            )
        # JSON flavor: register the same schema/partitioning instead of
        # discarding both — without them schema() returns None, compact()
        # raises, DDL is unavailable, appends skip conformance and the
        # requested partitioning never exists.
        tbl = ManifestTable(location, file_io=file_io)
        mfs = table_mfs(tbl)
        mfs.makedirs(mfs.root)  # seam-routed mkdir
        tbl.register_schema(schema)
        if partition_by:
            tbl.update_partition_spec(
                [
                    {"name": c, "source": c, "transform": "identity"}
                    for c in partition_by
                ]
            )
        return cls(spark, tbl)

    # -- reads ---------------------------------------------------------

    def read(self, **kw) -> DataFrame:
        """MoR SELECT; kwargs pass through to ``deletes.read_table``
        (snapshot_id / ref / as_of_timestamp_ms / where / schema)."""
        from ic_spark.compaction.deletes import read_table

        return read_table(self.spark, self.inner, **kw)

    def read_incremental(self, from_snapshot_id: int, **kw) -> DataFrame:
        from ic_spark.compaction.deletes import read_incremental

        return read_incremental(self.spark, self.inner, from_snapshot_id, **kw)

    def to_view(self, name: str, **kw) -> DataFrame:
        from ic_spark.compaction.deletes import register_mor_view

        return register_mor_view(self.spark, self.inner, name, **kw)

    def read_changelog(self, from_snapshot_id: int, **kw) -> DataFrame:
        """Row-level CDC between snapshots (INSERT/DELETE rows with
        commit metadata) — compaction/changelog.py semantics."""
        from ic_spark.compaction.changelog import read_changelog

        return read_changelog(self.spark, self.inner, from_snapshot_id, **kw)

    def metadata_table(self, kind: str) -> DataFrame:
        from ic_spark.compaction.metadata_tables import read_metadata_table

        return read_metadata_table(self.spark, self.inner, kind)

    def count(self) -> int:
        """COUNT(*): manifest stats when delete-free, else a Spark job."""
        n = self.inner.count_rows()
        return n if n is not None else self.read().count()

    # -- writes --------------------------------------------------------

    def append(self, df: DataFrame, branch: str | None = None) -> int:
        """Write ``df`` as new data files and commit one snapshot.

        Spec-metadata tables conform the frame to the TABLE schema
        first (order + types) — a wider-typed source can't silently
        write files the schema rejects on read."""
        from ic_spark.compaction.metafs import table_mfs
        from ic_spark.compaction.writer import _stats_from_footer, drop_empty_parts

        import uuid as _uuid

        target = self.inner.schema()
        if target is not None:
            import pyspark.sql.functions as F

            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in target.fields
                ]
            )
        out = os.path.join(self.inner.root, f"append-{_uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(out)
        # Listing + footer stats through the table's metadata seam so a
        # connector-routed (object-store) table appends end to end; on
        # local roots within()/fs are identity/None — the plain-open
        # fast path.
        mfs = table_mfs(self.inner)
        entries = []
        for name in mfs.listdir(out):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(out, name)
            rc, cs, _ = _stats_from_footer(
                mfs.within(p), out, filesystem=mfs.fs
            )
            entries.append(
                {
                    "path": p,
                    "content": "DATA",
                    "record_count": rc,
                    "column_stats": cs,
                    "file_size_in_bytes": mfs.size(p),
                }
            )
        kept = drop_empty_parts(mfs, entries)
        seq = self.inner.next_sequence_number(branch)
        for e in kept:
            e["sequence_number"] = seq
        return self.inner.append_snapshot(kept, branch=branch or None)

    # -- row-level changes ---------------------------------------------

    def delete_where(self, where: list[tuple], **kw) -> dict:
        from ic_spark.compaction.rowops import delete_where

        return delete_where(self.spark, self.inner, where, **kw)

    def update_where(self, where: list[tuple], assignments: dict, **kw) -> dict:
        from ic_spark.compaction.rowops import update_where

        return update_where(self.spark, self.inner, where, assignments, **kw)

    def merge(self, source: DataFrame, key_cols: list[str], **kw) -> dict:
        from ic_spark.compaction.rowops import merge_into

        return merge_into(self.spark, self.inner, source, key_cols, **kw)

    def upsert(self, source: DataFrame, key_cols: list[str], **kw) -> int:
        """MoR upsert (O(batch); compaction amortizes the join)."""
        from ic_spark.compaction.deletes import merge_upsert

        return merge_upsert(self.spark, self.inner, source, key_cols, **kw)

    def write_position_deletes(self, predicate) -> int:
        from ic_spark.compaction.deletes import write_position_deletes

        return write_position_deletes(self.spark, self.inner, predicate)

    def write_deletion_vectors(self, predicate) -> int:
        from ic_spark.compaction.deletes import write_deletion_vectors

        return write_deletion_vectors(self.spark, self.inner, predicate)

    def write_equality_deletes(self, keys: DataFrame, equality_ids: list[str]) -> int:
        from ic_spark.compaction.deletes import write_equality_deletes

        return write_equality_deletes(self.spark, self.inner, keys, equality_ids)

    # -- maintenance / stats / refs ------------------------------------

    def call(self, procedure: str, **kw) -> dict:
        from ic_spark.compaction.procedures import call

        return call(self.spark, procedure, table=self.inner, **kw)

    def compact(self, **kw):
        from ic_spark.compaction.orchestrator import Compaction

        return Compaction(self.spark).full_compact(self.inner, **kw)

    def analyze(self, columns: list[str] | None = None, incremental: bool = False):
        from ic_spark.compaction import stats

        fn = stats.analyze_incremental if incremental else stats.analyze_table
        return fn(self.spark, self.inner, columns)

    def ndv_estimates(self) -> dict[str, float]:
        from ic_spark.compaction.stats import column_ndv_estimates

        return column_ndv_estimates(self.spark, self.inner)

    def set_properties(self, updates: dict[str, str]) -> None:
        """Merge table properties as one commit (spec flavor only —
        the JSON ManifestTable has no properties field)."""
        self.inner.set_properties(updates)

    def remove_properties(self, keys: list[str]) -> None:
        self.inner.remove_properties(keys)

    def properties(self) -> dict[str, str]:
        return self.inner.properties()

    # -- sort DDL.  The rest of the table contract (refs, fast-forward,
    # expiry, partition-spec and column DDL) reaches the table through
    # __getattr__.

    def update_sort_order(self, fields: list[dict]) -> int:
        """ALTER TABLE ... WRITE ORDERED BY (spec-metadata tables):
        future compactions rewrite files locally sorted by this order."""
        return self.inner.update_sort_order(fields)

    # passthrough for anything else on the underlying table
    def __getattr__(self, name):
        return getattr(self.inner, name)
