"""SQL-database catalog (sqlite3) — the JDBC-catalog flavor.

The reference's integration test commits through a Postgres-backed SQL
catalog (``/root/reference/core/src/compaction/mod.rs:183-202`` loads
tables from an iceberg-rs SQL catalog and commits rewrites back).  This
module implements the same catalog contract on stdlib ``sqlite3``,
following the PUBLIC Iceberg JDBC-catalog schema:

    iceberg_tables(catalog_name, table_namespace, table_name,
                   metadata_location, previous_metadata_location)
    iceberg_namespace_properties(catalog_name, namespace,
                                 property_key, property_value)

Commit protocol (exactly the JDBC catalog's): the new metadata JSON is
written to the warehouse first, then the catalog row's
``metadata_location`` pointer is swapped with one compare-and-swap
UPDATE (``... WHERE metadata_location = <expected>``).  Zero rows
updated means another committer won — the loser gets
:class:`CommitConflictError`, the same optimistic-concurrency outcome
as the Hadoop version-file O_EXCL commit and the REST catalog's 409.

``load_table`` returns a :class:`SqlCatalogTable` — an ``IcebergTable``
whose current-version resolution and commits route through the catalog
pointer instead of ``version-hint.text`` — so MoR reads, deletes,
evolution DDL and ``Compaction.full_compact`` run unchanged over
catalog-managed tables (same duck-typed surface all three catalog
flavors share).
"""

from __future__ import annotations

import os
import re
import sqlite3
from contextlib import closing

from pyspark.sql import types as T

from ic_spark.compaction.iceberg_meta import IcebergTable
from ic_spark.compaction.manifest import CommitConflictError

# Accepts both the initial Hadoop-layout name (v1.metadata.json) and the
# collision-free commit names (v{N}-{uuid}.metadata.json — the JDBC
# catalog's convention, where the DB CAS is the sole commit point).
_VERSION_RE = re.compile(r"v(\d+)(?:-[0-9a-f]{8,})?\.metadata\.json$")

# One dot-separated identifier segment.  '.'/'..' and path separators
# are rejected so catalog names can never escape the warehouse root.
_SEGMENT_RE = re.compile(r"[A-Za-z0-9_-]+")


def _check_identifier(kind: str, value: str) -> None:
    segments = value.split(".")
    if not segments or not all(_SEGMENT_RE.fullmatch(s) for s in segments):
        raise ValueError(f"bad {kind}: {value!r}")


class SqlCatalog:
    """sqlite3-backed Iceberg catalog over a warehouse directory.

    ``file_io`` (``{"props": {...}}`` or an injected
    ``pyarrow_filesystem``) routes every table's METADATA plane through
    the fileio seam, so the warehouse may live on an object store while
    the database CAS stays the commit point — the reference's
    MinIO + Postgres deployment shape
    (``core/src/compaction/mod.rs:183-202``)."""

    def __init__(
        self,
        db_path: str,
        warehouse: str,
        name: str = "ic",
        file_io: dict | None = None,
    ):
        from ic_spark.compaction.metafs import MetaFS

        self.db_path = db_path
        self.warehouse = warehouse
        self.name = name
        self.file_io = file_io
        self._mfs = MetaFS(warehouse, file_io)
        self._mfs.makedirs(self._mfs.root)
        with closing(self._conn()) as con:
            con.execute(
                """CREATE TABLE IF NOT EXISTS iceberg_tables (
                       catalog_name TEXT NOT NULL,
                       table_namespace TEXT NOT NULL,
                       table_name TEXT NOT NULL,
                       metadata_location TEXT,
                       previous_metadata_location TEXT,
                       PRIMARY KEY (catalog_name, table_namespace, table_name)
                   )"""
            )
            con.execute(
                """CREATE TABLE IF NOT EXISTS iceberg_namespace_properties (
                       catalog_name TEXT NOT NULL,
                       namespace TEXT NOT NULL,
                       property_key TEXT NOT NULL,
                       property_value TEXT,
                       PRIMARY KEY (catalog_name, namespace, property_key)
                   )"""
            )

    def _conn(self) -> sqlite3.Connection:
        con = sqlite3.connect(self.db_path, timeout=30)
        con.isolation_level = None  # explicit transactions
        return con

    # -- namespaces ----------------------------------------------------

    def create_namespace(
        self, namespace: str, properties: dict | None = None
    ) -> None:
        _check_identifier("namespace", namespace)
        props = dict(properties or {})
        props.setdefault("exists", "true")
        # BEGIN IMMEDIATE serializes the check+insert (same discipline
        # as rename/swap): a concurrent duplicate create loses the lock
        # race and surfaces as the documented ValueError, never a raw
        # IntegrityError.
        with closing(self._conn()) as con:
            con.execute("BEGIN IMMEDIATE")
            try:
                cur = con.execute(
                    "SELECT 1 FROM iceberg_namespace_properties "
                    "WHERE catalog_name=? AND namespace=?",
                    (self.name, namespace),
                )
                if cur.fetchone():
                    raise ValueError(f"namespace already exists: {namespace}")
                try:
                    con.executemany(
                        "INSERT INTO iceberg_namespace_properties "
                        "VALUES (?,?,?,?)",
                        [(self.name, namespace, k, v) for k, v in props.items()],
                    )
                except sqlite3.IntegrityError:
                    raise ValueError(
                        f"namespace already exists: {namespace}"
                    ) from None
                con.execute("COMMIT")
            except BaseException:
                con.execute("ROLLBACK")
                raise

    def list_namespaces(self) -> list[str]:
        with closing(self._conn()) as con:
            return sorted(
                r[0]
                for r in con.execute(
                    "SELECT DISTINCT namespace FROM "
                    "iceberg_namespace_properties WHERE catalog_name=?",
                    (self.name,),
                )
            )

    def _check_namespace(self, namespace: str) -> None:
        if namespace not in self.list_namespaces():
            raise ValueError(f"namespace not found: {namespace}")

    # The JDBC catalog writes one marker row so property-less namespaces
    # still exist; it is internal — never reported, never writable.
    _MARKER = "exists"

    def namespace_properties(self, namespace: str) -> dict:
        """User properties of a namespace (the JDBC catalog's
        ``iceberg_namespace_properties`` rows, marker excluded)."""
        self._check_namespace(namespace)
        with closing(self._conn()) as con:
            return {
                k: v
                for k, v in con.execute(
                    "SELECT property_key, property_value FROM "
                    "iceberg_namespace_properties "
                    "WHERE catalog_name=? AND namespace=?",
                    (self.name, namespace),
                )
                if k != self._MARKER
            }

    def update_namespace_properties(
        self,
        namespace: str,
        updates: dict | None = None,
        removals: list[str] | None = None,
    ) -> dict:
        """Set/remove namespace properties in one transaction.

        Returns the Iceberg REST ``UpdateNamespacePropertiesResponse``
        shape — ``{"updated": [...], "removed": [...], "missing":
        [...]}`` — and rejects a key appearing in both updates and
        removals (the REST 400 contract)."""
        updates = dict(updates or {})
        removals = list(removals or [])
        overlap = set(updates) & set(removals)
        if overlap:
            raise ValueError(
                f"keys in both updates and removals: {sorted(overlap)}"
            )
        if self._MARKER in updates or self._MARKER in removals:
            raise ValueError(f"property key {self._MARKER!r} is reserved")
        self._check_namespace(namespace)
        removed, missing = [], []
        with closing(self._conn()) as con:
            con.execute("BEGIN IMMEDIATE")
            try:
                for k in removals:
                    cur = con.execute(
                        "DELETE FROM iceberg_namespace_properties "
                        "WHERE catalog_name=? AND namespace=? AND property_key=?",
                        (self.name, namespace, k),
                    )
                    (removed if cur.rowcount else missing).append(k)
                for k, v in updates.items():
                    con.execute(
                        "INSERT INTO iceberg_namespace_properties "
                        "VALUES (?,?,?,?) "
                        "ON CONFLICT (catalog_name, namespace, property_key) "
                        "DO UPDATE SET property_value=excluded.property_value",
                        (self.name, namespace, k, v),
                    )
                con.execute("COMMIT")
            except BaseException:
                con.execute("ROLLBACK")
                raise
        return {
            "updated": sorted(updates),
            "removed": removed,
            "missing": missing,
        }

    def drop_namespace(self, namespace: str) -> None:
        """Drop an EMPTY namespace (tables must go first — the REST
        NamespaceNotEmpty contract)."""
        self._check_namespace(namespace)
        if self.list_tables(namespace):
            raise ValueError(f"namespace not empty: {namespace}")
        with closing(self._conn()) as con:
            con.execute(
                "DELETE FROM iceberg_namespace_properties "
                "WHERE catalog_name=? AND namespace=?",
                (self.name, namespace),
            )

    # -- tables --------------------------------------------------------

    def list_tables(self, namespace: str) -> list[str]:
        self._check_namespace(namespace)
        with closing(self._conn()) as con:
            return sorted(
                r[0]
                for r in con.execute(
                    "SELECT table_name FROM iceberg_tables "
                    "WHERE catalog_name=? AND table_namespace=?",
                    (self.name, namespace),
                )
            )

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
    ) -> "SqlCatalogTable":
        self._check_namespace(namespace)
        _check_identifier("table name", name)
        location = os.path.join(self.warehouse, namespace, name)
        if IcebergTable(location, file_io=self.file_io).version() is not None:
            # The derived location already holds table files the catalog
            # doesn't point at — e.g. the old location after a
            # pointer-only rename_table.  The catalog row is the source
            # of truth (Iceberg sql-catalog semantics), so pick a unique
            # location instead of failing forever (r9 review find).
            import uuid as _uuid

            location = f"{location}-{_uuid.uuid4().hex[:8]}"
        # single_writer: the v1 bootstrap write is catalog-owned — the
        # location is fresh (uniquified above if occupied) and the
        # catalog-row INSERT below is the real commit point (duplicate
        # names lose on the DB constraint), so the Hadoop-flavor remote
        # gate does not apply to this one write.
        IcebergTable.create(
            location,
            schema,
            partition_by=partition_by,
            properties=properties,
            file_io=self.file_io,
            single_writer=True,
        )
        # Caller-spelled pointer (full URI on object stores) — the
        # catalog row stays interoperable; reads map it onto the
        # connector via MetaFS.within().
        pointer = os.path.join(location, "metadata", "v1.metadata.json")
        with closing(self._conn()) as con:
            try:
                con.execute(
                    "INSERT INTO iceberg_tables VALUES (?,?,?,?,NULL)",
                    (self.name, namespace, name, pointer),
                )
            except sqlite3.IntegrityError:
                raise ValueError(
                    f"table already exists: {namespace}.{name}"
                ) from None
        return self.load_table(namespace, name)

    def _pointer(self, namespace: str, name: str) -> str:
        with closing(self._conn()) as con:
            row = con.execute(
                "SELECT metadata_location FROM iceberg_tables "
                "WHERE catalog_name=? AND table_namespace=? AND table_name=?",
                (self.name, namespace, name),
            ).fetchone()
        if row is None or row[0] is None:
            raise ValueError(f"table not found: {namespace}.{name}")
        return row[0]

    def load_table(self, namespace: str, name: str) -> "SqlCatalogTable":
        pointer = self._pointer(namespace, name)
        location = os.path.dirname(os.path.dirname(pointer))
        return SqlCatalogTable(
            location, self, namespace, name, file_io=self.file_io
        )

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> None:
        pointer = self._pointer(namespace, name)
        with closing(self._conn()) as con:
            con.execute(
                "DELETE FROM iceberg_tables "
                "WHERE catalog_name=? AND table_namespace=? AND table_name=?",
                (self.name, namespace, name),
            )
        if purge:
            import shutil

            # Never purge a directory the catalog does not own: the
            # resolved location must stay strictly under the warehouse.
            location = os.path.realpath(
                os.path.dirname(os.path.dirname(pointer))
            )
            root = os.path.realpath(self.warehouse)
            if os.path.commonpath([location, root]) != root or location == root:
                raise ValueError(
                    f"refusing to purge location outside warehouse: {location}"
                )
            shutil.rmtree(location, True)

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> None:
        """Pointer-only rename (the JDBC catalog moves the row; the
        warehouse files stay put — Iceberg locations are logical)."""
        self._check_namespace(new_namespace)
        _check_identifier("table name", new_name)
        with closing(self._conn()) as con:
            con.execute("BEGIN IMMEDIATE")
            try:
                dup = con.execute(
                    "SELECT 1 FROM iceberg_tables WHERE catalog_name=? "
                    "AND table_namespace=? AND table_name=?",
                    (self.name, new_namespace, new_name),
                ).fetchone()
                if dup:
                    raise ValueError(
                        f"table already exists: {new_namespace}.{new_name}"
                    )
                cur = con.execute(
                    "UPDATE iceberg_tables SET table_namespace=?, table_name=? "
                    "WHERE catalog_name=? AND table_namespace=? AND table_name=?",
                    (new_namespace, new_name, self.name, namespace, name),
                )
                if cur.rowcount == 0:
                    raise ValueError(f"table not found: {namespace}.{name}")
                con.execute("COMMIT")
            except BaseException:
                con.execute("ROLLBACK")
                raise

    # -- commit protocol ----------------------------------------------

    def swap_pointer(
        self, namespace: str, name: str, expected: str, new: str
    ) -> None:
        """The JDBC catalog's compare-and-swap: one UPDATE guarded by
        the expected metadata location; zero rows -> the table moved."""
        with closing(self._conn()) as con:
            con.execute("BEGIN IMMEDIATE")
            try:
                cur = con.execute(
                    "UPDATE iceberg_tables SET metadata_location=?, "
                    "previous_metadata_location=? WHERE catalog_name=? AND "
                    "table_namespace=? AND table_name=? AND metadata_location=?",
                    (new, expected, self.name, namespace, name, expected),
                )
                if cur.rowcount == 0:
                    raise CommitConflictError(
                        f"concurrent commit: {namespace}.{name} moved past "
                        f"{os.path.basename(expected)}"
                    )
                con.execute("COMMIT")
            except BaseException:
                con.execute("ROLLBACK")
                raise


class SqlCatalogTable(IcebergTable):
    """IcebergTable whose version pointer lives in the SQL catalog.

    Only current-version resolution and the commit differ from the
    Hadoop flavor; metadata/manifest layout on disk is identical, so
    the whole read/write/maintenance surface is inherited.
    """

    def __init__(
        self,
        location: str,
        catalog: SqlCatalog,
        namespace: str,
        name: str,
        file_io: dict | None = None,
    ):
        super().__init__(location, file_io=file_io)
        self.catalog = catalog
        self.namespace = namespace
        self.table_name = name

    def _pointer(self) -> str:
        return self.catalog._pointer(self.namespace, self.table_name)

    def version(self) -> int | None:
        try:
            pointer = self._pointer()
        except ValueError:
            return None
        m = _VERSION_RE.search(pointer)
        return int(m.group(1)) if m else None

    def metadata(self, version: int | None = None) -> dict:
        """Pointer-resolved metadata.  With ``version`` (the base
        class's version-then-metadata commit discipline): the pointer
        names exactly one version, so a mismatch means the table moved
        between the caller's reads — raise the retryable conflict
        instead of handing back a different version's metadata."""
        import json

        pointer = self._pointer()
        if version is not None:
            m = _VERSION_RE.search(pointer)
            cur = int(m.group(1)) if m else None
            if cur != version:
                raise CommitConflictError(
                    f"table moved while planning: wanted metadata "
                    f"v{version}, pointer is at v{cur}"
                )
        return self._mfs.read_json(pointer)

    def _metadata_for_commit(self) -> tuple[int | None, dict]:
        """(version, metadata) from one pointer read: the pair can never
        mismatch, so reading the state never raises a conflict."""
        pointer = self._pointer()
        m = _VERSION_RE.search(pointer)
        return (int(m.group(1)) if m else None), self._mfs.read_json(pointer)

    def _commit_metadata(self, meta: dict, expected_version: int | None) -> None:
        """Write a collision-free metadata JSON, then CAS the pointer.

        Iceberg's JDBC catalog names metadata files
        ``<version>-<uuid>.metadata.json`` so the database CAS is the
        SOLE commit point: a crash after the file write but before the
        swap leaves only an unreferenced file, never a name collision
        that would wedge every future commit.  Losing racers likewise
        leave harmless orphans the next maintenance pass can collect.
        """
        import time
        import uuid

        self._mfs.makedirs(self.metadata_dir)
        expected_pointer = self._pointer()
        current = self.version()
        if current != expected_version:
            raise CommitConflictError(
                f"table moved: expected metadata v{expected_version}, "
                f"found v{current}"
            )
        new_version = (expected_version or 0) + 1
        path = os.path.join(
            self.metadata_dir,
            f"v{new_version}-{uuid.uuid4().hex}.metadata.json",
        )
        meta = dict(meta)
        meta["metadata-log"] = list(meta.get("metadata-log", [])) + [
            {
                "timestamp-ms": int(time.time() * 1000),
                "metadata-file": expected_pointer,
            }
        ]
        # Collision-free name: a plain write is enough (no O_EXCL to
        # preserve), so this path works identically on object stores —
        # the database CAS below remains the SOLE commit point.
        self._mfs.write_json_atomic(path, meta)
        self.catalog.swap_pointer(
            self.namespace, self.table_name, expected_pointer, path
        )

    def clean_orphan_metadata(
        self, older_than_s: float = 3 * 24 * 3600, delete: bool = False
    ) -> list[str]:
        """Metadata JSON files referenced by NEITHER the catalog pointer
        NOR the current metadata-log — the residue of crashed or losing
        committers under the collision-free naming scheme (where such
        files are harmless but accumulate).

        ``older_than_s`` guards against racing an in-flight commit whose
        file is written but not yet pointer-swapped (same discipline as
        ``remove_orphan_files``).  Listing only, unless ``delete=True``.
        """
        import time

        pointer = self._pointer()
        referenced = {self._mfs.normalize(pointer)}
        meta = self._mfs.read_json(pointer)
        for entry in meta.get("metadata-log", []):
            referenced.add(self._mfs.normalize(entry["metadata-file"]))
        cutoff = time.time() - older_than_s
        orphans = []
        for name in self._mfs.listdir(self.metadata_dir):
            if not name.endswith(".metadata.json"):
                continue
            p = self._mfs.normalize(os.path.join(self.metadata_dir, name))
            if p in referenced:
                continue
            try:
                if self._mfs.mtime(p) > cutoff:
                    continue
            except FileNotFoundError:
                continue
            orphans.append(p)
        orphans.sort()
        if delete:
            for p in orphans:
                self._mfs.unlink(p, missing_ok=False)
        return orphans
